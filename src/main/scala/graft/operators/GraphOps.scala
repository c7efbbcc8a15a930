package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed graph analytics over edge-list DataFrames — the operator
  * family behind q106/q108/q109 (PageRank, label-propagation communities,
  * triangle enumeration) plus the k-NN sparsifier that keeps derived
  * similarity/transition graphs tractable when they are near-complete.
  *
  * Scale posture shared by every operator here: the vertex state
  * (ranks, labels) and the edge list stay DISTRIBUTED — each iteration
  * is an edge⋈state equi-join plus a destination-keyed aggregation, the
  * shape that survives a node set too big for any driver. Nothing in
  * this file collects, windows globally, or assumes the graph fits on
  * one machine. (Connected components live in
  * `graft.functions.DedupFunctions` — they predate this module and
  * carry the dedup-specific star-contraction machinery.)
  */
object GraphOps {

  /** Truncate iteration lineage every this many rounds. Each LPA /
    * PageRank round folds another join+agg onto the same lazy plan;
    * left unbounded, plan analysis + codegen cost grows superlinearly
    * with the round count and a 20-iteration call spends more time in
    * the optimizer than in the data. `localCheckpoint(eager)`
    * materializes the vertex state to executor block storage (no
    * checkpoint dir needed) and cuts the plan back to a leaf — the same
    * discipline `DedupFunctions.connectedComponents` applies to its
    * star rounds. Trade-off: localCheckpoint pins blocks to executors,
    * so a lost executor forces recompute-from-leaf; fault-critical
    * deployments set [[Materialize.ReliableConf]] + a checkpoint dir
    * and every truncation goes to durable storage instead.
    *
    * The cadence also bounds the fold's live SHUFFLE-FILE window: a
    * round's shuffle files are deletable only once a checkpoint
    * truncates the lineage past it (plus the boundary GC below), so
    * executor disks must hold `checkpointEvery` rounds' worth of
    * shuffle output. Default 5 suits cluster-sized local disks; a
    * disk-constrained environment lowers `spark.graft.iterate
    * .checkpointEvery` (`Probe scale graph` at 10M nodes needs 2 on a
    * ~100 GB scratch disk — each LPA round shuffles ~15 GB there). */
  private val CheckpointEveryConf = "spark.graft.iterate.checkpointEvery"
  private def checkpointEvery(df: DataFrame): Int = {
    val v = df.sparkSession.conf.getOption(CheckpointEveryConf)
      .map(_.toInt).getOrElse(5)
    require(v >= 1, s"$CheckpointEveryConf must be >= 1, got $v")
    v
  }

  /** Lineage-bounding fold: apply `step` `rounds` times, truncating the
    * plan every [[checkpointEvery]] rounds (never on the final round —
    * the caller consumes that plan directly). */
  private def iterate(init: DataFrame, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    // superseded checkpoints are released EAGERLY: leaving them to the
    // driver's GC + ContextCleaner lets a long fold accumulate every
    // retired round's blocks on executor disks (see Materialize.release)
    var pinned: Option[DataFrame] = None
    val every = checkpointEvery(init)
    (1 to rounds).foldLeft(init) { (st, i) =>
      val next = step(st)
      if (i % every == 0 && i < rounds) {
        val m = Materialize(next) // eager — safe to retire the previous pin
        pinned.foreach(Materialize.release)
        pinned = Some(m)
        // Deterministic driver GC at the checkpoint boundary: every
        // pre-checkpoint round's ShuffleDependency just became
        // unreachable, but the ContextCleaner deletes its files only
        // after a driver GC processes the weak references — and an
        // iterative fold PRODUCES shuffle files far faster than timer
        // GC frees them (measured at 10M nodes: ~9 GB/min produced,
        // first natural full GC ~8 min in, ENOSPC 4 s before the
        // cleanup landed — `Probe scale graph`, round-8 record). One GC per
        // checkpoint window bounds live shuffle footprint to
        // CheckpointEvery rounds' worth at any graph size.
        System.gc()
        m
      } else next
    }
  }

  /** Per-node top-k sparsification of an undirected weighted edge list
    * `(a, b, w)` (a<b): each node ranks its incident edges by
    * (weight desc, neighbor id) and an edge survives if EITHER endpoint
    * ranks it ≤ k. The window partitions per node — no global ranking —
    * so the sparsifier works unchanged at a 10^9-node vocabulary.
    * Returns distinct `(a, b)` with a<b.
    */
  def sparsifyTopK(und: DataFrame, k: Int): DataFrame = {
    val adj = und.select(col("a").as("node"), col("b").as("nbr"), col("w"))
      .union(und.select(col("b").as("node"), col("a").as("nbr"), col("w")))
    val aw = Window.partitionBy("node").orderBy(col("w").desc, col("nbr"))
    adj.withColumn("rn", row_number().over(aw))
      .filter(col("rn") <= k)
      .select(least(col("node"), col("nbr")).as("a"),
        greatest(col("node"), col("nbr")).as("b"))
      .distinct()
  }

  /** Compact-forward triangle enumeration over an undirected edge list
    * `(a, b)` (a<b, distinct). Edges are oriented low→high by
    * (degree, id) — on a skewed graph id-ordering leaves all of a hub's
    * edges on one side while degree-ordering splits them, bounding the
    * wedge join's fan-out by the max ORIENTED out-degree (≈ O(√m) for
    * any graph). Output: canonical `(a, b, c)` triples with a<b<c, each
    * triangle exactly once — independent of the orientation order, so a
    * naive id-ordered replay (the DuckDB oracle) enumerates the
    * identical set.
    */
  def triangles(kept: DataFrame): DataFrame = {
    val deg = kept.select(col("a").as("n")).union(kept.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = kept
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val wedges = oriented.join(
        oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2")), "u")
      .filter(col("dv") < col("dv2") ||
        (col("dv") === col("dv2") && col("v") < col("v2")))
    val closing = oriented.select(col("u").as("cu"), col("v").as("cv"))
    wedges.join(closing, col("cu") === col("v") && col("cv") === col("v2"))
      .select(sort_array(array(col("u"), col("v"), col("v2"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** `rounds` synchronous label-propagation rounds over a directed
    * weighted edge list `(src, dst, w)`: every node starts in its own
    * community (label = id); each round a node adopts the incoming
    * label with the greatest total edge weight, ties to the SMALLEST
    * label (the determinism plain LPA lacks). The per-dst argmax is
    * `min(struct(-w, label))` so it partial-aggregates map-side instead
    * of windowing the vote table. Returns `(k, label)`.
    */
  def labelPropagate(edges: DataFrame, nodes: DataFrame, rounds: Int): DataFrame = {
    // the edge table is the BIG side of every round's join, and a plain
    // edge frame re-shuffles all |E| rows per round; hash-partition it
    // on the join key ONCE and persist (an InMemoryRelation exposes its
    // child's outputPartitioning — a localCheckpoint under AQE does
    // NOT, the adaptive plan reports unknown partitioning at capture
    // time — so each round's join exchanges only the |V|-sized label
    // side). At 90M edges this is one 90M-row shuffle total instead of
    // one per round; persist (not checkpoint) keeps the frame
    // recomputable, so an evicted block is a recompute, never a failure.
    val e = if (rounds > 1) {
      val p = edges.repartition(col("src")).persist()
      p.count() // materialize before the fold, not inside round 1's job
      p
    } else edges
    def step(lab: DataFrame): DataFrame = {
      val votes = e
        .join(lab.withColumnRenamed("k", "src"), "src")
        .groupBy(col("dst"), col("label"))
        .agg(sum("w").as("wv"))
      val best = votes.groupBy("dst")
        .agg(min(struct((-col("wv")).as("nw"), col("label").as("l"))).as("m"))
        .select(col("dst").as("k"), col("m.l").as("newl"))
      lab.join(best, Seq("k"), "left")
        .select(col("k"), coalesce(col("newl"), col("label")).as("label"))
    }
    iterate(nodes.select(col("k"), col("k").as("label")), rounds)(step)
  }

  /** `iters` damped PageRank iterations (simple variant: dangling-node
    * mass dropped) over `(src, dst, w)` + a node set. Per-edge
    * contributions are decimal-cast before the in-sum so accumulation
    * is order-free (bit-exact replay in any engine). The out-weight
    * table is derived once and materialized (multi-iteration calls);
    * rank lineage is truncated every [[CheckpointEvery]] rounds.
    * Returns `(k, pr)`.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int, nNodes: Long,
               damping: Double = 0.85, teleport: Double = 0.15): DataFrame = {
    // teleport is a SEPARATE literal, not 1-damping: 1.0-0.85 in doubles
    // is 0.15000000000000002, which would silently break bit-exact
    // replay against an oracle written with the 0.15 literal
    // every iteration re-joins against the out-weight table; materialize
    // it once (plan leaf) when there is more than one iteration to pay
    // it back — otherwise each step recomputes the groupBy+join
    // src-partitioned + persisted for the same reason as
    // labelPropagate's edge frame (persist, not checkpoint: only an
    // InMemoryRelation keeps its outputPartitioning under AQE): the
    // per-iteration join then exchanges only the rank side
    val ewoPlan = edges.join(
      edges.groupBy("src").agg(sum("w").as("outw")), "src")
    val ewo = if (iters > 1) {
      val p = ewoPlan.repartition(col("src")).persist()
      p.count()
      p
    } else ewoPlan
    def step(ranks: DataFrame): DataFrame = {
      val contrib = ewo
        .join(ranks.withColumnRenamed("k", "src"), "src")
        .select(col("dst"),
          ((col("pr") * col("w")) / col("outw"))
            .cast(DecimalType(28, 15)).as("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
      nodes.join(contrib.withColumnRenamed("dst", "k"), Seq("k"), "left")
        .select(col("k"),
          (lit(teleport) / nNodes +
            lit(damping) * coalesce(col("cs").cast("double"), lit(0.0))).as("pr"))
    }
    val r0 = nodes.select(col("k"), (lit(1.0) / nNodes).as("pr"))
    iterate(r0, iters)(step)
  }
}
