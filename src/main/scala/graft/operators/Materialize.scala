package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}

/** Materialization policy for EVERY frame the engine pins — the corpus
  * lifecycle manager ([[graft.etl.CorpusManager]]), the dedup pipelines,
  * iterative / multi-consumer operators ([[SetSimJoin]], [[GraphOps]],
  * q99's containment pipeline) and the scale probes: by default
  * `localCheckpoint` (fast, executor-local blocks — right for local[*]
  * and short jobs), or a RELIABLE `checkpoint` to the session's
  * checkpoint dir when `spark.graft.checkpoint.reliable=true`.
  *
  * Why the knob exists: `localCheckpoint` truncates lineage and pins the
  * blocks to the executors that computed them — one lost executor kills
  * the whole job, since there is no lineage left to recompute from. On a
  * real multi-hundred-executor cluster running hours-long dedup sweeps,
  * each materialization is an availability liability; a deployment opts
  * into fault tolerance with
  * {{{
  *   spark.conf.set("spark.graft.checkpoint.reliable", "true")
  *   spark.sparkContext.setCheckpointDir("hdfs://…/checkpoints")
  * }}}
  * and every operator that pins a frame writes it to durable storage
  * instead. Both modes produce identical results (MaterializeSpec,
  * CorpusManagerSpec reliable-parity gates); the trade is wall-clock vs.
  * surviving executor loss.
  *
  * Repo law (round 11): no production or instrument code calls
  * `Dataset.localCheckpoint` directly — every pin goes through
  * [[Materialize.apply]] or the [[Pinning]] syntax (`ds.materialize()`),
  * so the reliable knob covers the WHOLE engine, flagship ingest path
  * included. A raw `localCheckpoint` in src/main outside this file is a
  * review defect.
  */
object Materialize {

  val ReliableConf = "spark.graft.checkpoint.reliable"

  /** Pin `ds` per the session policy. Typed: a `Dataset[T]` stays a
    * `Dataset[T]` (both `checkpoint()` and `localCheckpoint()` preserve
    * the encoder), so typed pipeline stages can pin without a round-trip
    * through `Row`. Always EAGER in both modes — callers time it, fold
    * over it, and [[release]] the pin it supersedes on that assumption. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val reliable =
      spark.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires spark.sparkContext.setCheckpointDir " +
          "(a durable location all executors can reach)")
      ds.checkpoint() // eager, lineage-free, survives executor loss
    } else ds.localCheckpoint()
  }

  /** `ds.materialize()` — chain-friendly spelling of [[apply]], so a
    * long transformation chain pins in place instead of being wrapped. */
  implicit final class Pinning[T](private val ds: Dataset[T]) extends AnyVal {
    def materialize(): Dataset[T] = Materialize(ds)
  }

  /** Deterministically free a frame previously pinned by [[apply]] in
    * localCheckpoint mode. Iterative folds supersede a checkpoint every
    * few rounds; the blocks are otherwise freed only when the DRIVER
    * eventually GCs the RDD reference and the ContextCleaner follows up
    * — with a large driver heap that can be never, and a 20-round fold
    * over a 90M-edge graph accumulates every retired round's blocks on
    * executor disks until ENOSPC (`Probe scale graph` at 10M, round-8 record).
    * Safe once the SUPERSEDING checkpoint is materialized (apply is
    * eager): the retired blocks have no remaining consumer. No-op for
    * reliable-mode checkpoints (their files are on durable storage and
    * owned by the checkpoint dir policy, not the block manager). */
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
