package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the graft engine.
  *
  * Centralizes the confs every entry point (Verify, Bench, tests) needs:
  *  - shuffle partitions sized to local cores (not the 200 default);
  *  - AQE on (runtime re-plan, skew-join handling at scale);
  *  - UTC session time zone (oracle parity with DuckDB);
  *  - `nanosAsLong` so the driver's nanosecond-precision parquet
  *    (`events.ts`) is readable — Spark has no ns timestamp type, so we
  *    read raw long nanos and derive µs explicitly (see [[Tables.events]]);
  *  - a codegen cache sized to graft's working set ([[CodegenCacheEntries]]).
  */
object GraftSession {

  /** Entries in Spark's codegen cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100): the compiled classes of whole-stage and expression
    * codegen, an LRU keyed by (classloader, generated code), so the
    * driver and the task threads each fill it. One graft operation needs
    * more than 100, so at the default each run evicted what the next run
    * of the same operation needed and compiled it again (4-core VM,
    * sf0.01): a fence-sized shard ingest 156 classes, a warm q160 236
    * (2.1–2.4 s of compiling), a warm q164 668 (5.6 s). A cold q164
    * compiles 303 distinct classes, the largest working set measured;
    * 1000 is about 3× that. With it a warm q160 or q164 and a repeated
    * shard ingest compile none, and a repeated append only the classes
    * whose code embeds its own times.
    *
    * The conf is static: Spark reads it once per JVM, when the first class
    * is compiled, so it can only be set on the builder that makes the
    * JVM's first session, never per session or per operation.
    *
    * It is not the JIT's code cache (`-XX:ReservedCodeCacheSize` in
    * build.sbt), which holds the machine code HotSpot makes of hot
    * methods, those of generated classes too. This one holds the
    * Janino-compiled classes themselves, and a miss costs a compile on
    * the calling thread. Keeping them costs no memory over recompiling
    * them: non-heap use after three q160 runs read 267 MB at 1000
    * entries and 276 MB at 100. */
  val CodegenCacheEntries = 1000

  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new GraftExtensions())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // Iterative folds (LPA/PageRank/connected components) retire one
      // shuffle per round, but the files are deleted only when the
      // driver GCs the RDD references — with a large heap that can be
      // never, and 20 rounds over a 90M-edge graph fill local disk with
      // dead spills (`Probe scale graph` at 10M died on ENOSPC this way; a
      // long-lived cluster job hits the same wall on executor disks).
      // A 2-minute periodic GC keeps retired shuffle files bounded by
      // ~2 rounds' worth instead of the whole run.
      .config("spark.cleaner.periodicGC.interval", "2min")

  def local(cores: Int = 32): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    // Opt-in cluster availability posture for any entry point
    // (Probe, Verify, Bench): SPARK_GRAFT_RELIABLE=1 routes every
    // [[graft.operators.Materialize]] pin to durable checkpoints under
    // SPARK_GRAFT_CKPT_DIR (default /tmp/graft_ckpt) — the same knob a
    // real deployment sets programmatically with an HDFS/object-store
    // dir. Env-driven so a probe run can price the reliable mode
    // without a code change.
    if (sys.env.get("SPARK_GRAFT_RELIABLE").contains("1")) {
      spark.conf.set(graft.operators.Materialize.ReliableConf, "true")
      spark.sparkContext.setCheckpointDir(
        sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR", "/tmp/graft_ckpt"))
    }
    spark
  }

  /** Deployment-scaled conf for a REAL cluster — the retune every
    * local[32]-developed job needs before it meets 1000 executors and
    * 100 TB. Returns the conf map (apply via `builder.config(...)` or
    * `--conf`); the rules, each one line of arithmetic, are the ones
    * Spark's own tuning guide and the AQE design doc encode:
    *
    *  - `shuffle.partitions` = 2 × total cores (wave parallelism —
    *    enough tasks that one straggler doesn't idle the fleet; AQE
    *    coalesces the small ones back together at runtime, so
    *    over-partitioning is cheap and under-partitioning is not),
    *    floored at the 128 MB-per-partition count for the stated input
    *    size so huge inputs don't produce executor-OOM-sized partitions.
    *  - `files.maxPartitionBytes` stays 128 MB (row-group-aligned scan
    *    splits), and `advisoryPartitionSizeInBytes` 64 MB — the AQE
    *    coalesce target.
    *  - `autoBroadcastJoinThreshold` scales with executor memory (1% of
    *    executor heap, capped at 256 MB): a broadcast must fit in EVERY
    *    executor alongside the working set, so the threshold is a
    *    per-executor-memory property, not a cluster-size one.
    *  - skew-join handling is AQE's (`skewJoin.enabled` true by
    *    default); `operators.Skew.saltedJoin` remains for the
    *    deliberate cases.
    *
    * The engine itself is partitioning-agnostic by construction (every
    * operator shuffles on its semantic keys and the store's bucket
    * granularity is a descriptor knob), so deployment tuning is ONLY
    * this conf — no operator changes. */
  def clusterConf(executors: Int, coresPerExecutor: Int,
                  executorMemGb: Int, inputBytes: Long = 0L): Map[String, String] = {
    require(executors > 0 && coresPerExecutor > 0 && executorMemGb > 0,
      "cluster shape must be positive")
    val totalCores = executors.toLong * coresPerExecutor
    val byWaves = 2L * totalCores
    val bySize = if (inputBytes > 0) inputBytes / (128L << 20) else 0L
    val shufflePartitions = math.max(math.max(byWaves, bySize), 1L)
    val broadcastBytes = math.min(
      (executorMemGb.toLong << 30) / 100, 256L << 20)
    Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.files.maxPartitionBytes" -> (128L << 20).toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (64L << 20).toString,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> broadcastBytes.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      // without this every nanosecond-precision parquet scan (the
      // events table) crashes — the conf must be COMPLETE for a fresh
      // deployment, same reason the local builder sets it
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions")
  }

  /** State-store conf for a PRODUCTION streaming deployment (add to
    * [[clusterConf]]'s map when the job runs graft.streaming operators
    * continuously). The default HDFSBackedStateStoreProvider keeps every
    * state key in executor HEAP — fine for the gate corpora and local
    * runs, a scale-killer for a 100-TB ingest where the ttl-window key
    * set (StreamingDedup/NearDup state is O(keys per ttl window)) runs
    * to tens of GB per executor. RocksDB keeps state on local disk
    * behind a bounded block cache, and changelog checkpointing ships
    * per-batch deltas to the checkpoint instead of re-uploading SST
    * files. Semantics are provider-independent — RocksDbStateSpec
    * proves emission parity and offline-audit readability on the same
    * feeds the default-provider specs use. */
  def streamingStateConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")

  /** Register graft's custom Catalyst expressions for SQL + call_function
    * use — the SAME builder values the extensions path injects
    * ([[GraftExtensions.builders]]), so the two registration routes
    * cannot drift. */
  def registerFunctions(spark: SparkSession): Unit = {
    GraftExtensions.builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    // whole-operator strategies (same set GraftExtensions injects)
    if (!spark.experimental.extraStrategies.contains(
        graft.plans.TopKPerKey.Strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKey.Strategy
  }
}
