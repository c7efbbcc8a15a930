package graft.functions

import graft.operators.Materialize.Pinning

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication primitives: exact (content hash), MinHash+LSH banding,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every step is a per-row expression or an equi-join on a
  * band/bucket key — the classic shingle → minhash → band → bucket-join
  * pipeline. Nothing materializes the O(N²) pair space; candidate pairs
  * only arise from hash-bucket collisions, and the verify step joins on
  * those candidates alone. All hashing is md5-derived (see [[Signatures]])
  * so the DuckDB correctness oracle reproduces every signature exactly.
  */
object DedupFunctions {

  /** Exact-dup groups by content hash. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(idCol).as("keeper"))

  /** LSH band keys from a signature: `bands` string keys, each the
    * comma-joined `rowsPerBand` consecutive signature slots. Docs
    * agreeing on any band are candidate near-duplicates. A string key
    * (not a re-hash) keeps the pipeline portable: the oracle's
    * `array_to_string(sig[b*r+1 : b*r+r], ',')` is the identical key.
    * The band index is matched separately in the join, so it is not
    * embedded in the key. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",",
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>")))

  /** SimHash 4×15-bit exact-match blocking keys as (q, blk) pairs for
    * posexplode. THE single definition of the blocking scheme: block
    * count × width is the pigeonhole guarantee behind the declared
    * Hamming ≤ 3 radius (4 blocks, ≤3 differing bits ⇒ some block
    * matches exactly), and the oracle reproduces it as
    * `(sh >> q*15) & 32767` — two hand-maintained copies could silently
    * desynchronize the recall guarantee. */
  def simhashBlocks(sh: Column): Column =
    transform(sequence(lit(0), lit(3)),
      q => call_function("shiftright", sh, q * 15).bitwiseAND(lit(0x7FFFL)))

  /** Estimated Jaccard from two signatures: fraction of agreeing slots. */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA).cast("double")

  /** Exact Jaccard between two shingle arrays (the verify step run on
    * candidate pairs only). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // MinHash/SimHash signature computation lives in [[Signatures]] —
  // typed mapPartitions, because nested higher-order-function expressions
  // are interpreted (no codegen) and get duplicated by projection
  // collapse; see the rationale there.

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Connected components over a duplicate-pair graph — the global-dedup
    * step that turns pairwise near-dup hits into clusters with one
    * canonical keeper (the minimum id) per cluster.
    *
    * `edges` must have long columns `src`/`dst`. Returns `(id, lbl)` for
    * every edge endpoint, where `lbl` is the component's minimum id.
    * Docs in no pair are singletons and are deliberately excluded — the
    * iteration working set is the dup graph (a small fraction of the
    * corpus), never the corpus itself.
    *
    * Algorithm: min-label propagation with pointer jumping — each round
    * every node takes the minimum of its own label, its neighbors'
    * labels, and its label's label (path halving). The jump term
    * shortcuts label chains (sf0.1's chained dup graph: 10 rounds vs 13
    * without it); discovery of a lower min still travels edge-by-edge,
    * so worst-case rounds stay O(diameter). The loop hands the graph
    * (plus the label shortcuts it already earned) to
    * [[starComponents]] — the edge-rewriting large-star/small-star
    * contraction, O(log² n) rounds for any id layout, at a higher
    * per-round cost — as soon as propagation STALLS: two consecutive
    * rounds whose change count stays above 70% of the previous round's
    * (clique-heavy dup graphs collapse geometrically; a plateau means a
    * chain frontier advancing edge-by-edge, where star wins — measured
    * at the ×10 tier: the fixed 12-round budget burned 5.7 s before
    * switching, the stall cut switches by round ~5), or after
    * `propagationRounds` at the latest (`stallSwitch = false` restores
    * the fixed budget — the star-vs-propagation equivalence spec uses
    * it to compare PURE propagation). Each propagation
    * round is two equi-joins + one partial-aggregated groupBy on the
    * (small) edge frame, partitioned by the graph's own size; labels are
    * localCheckpoint'd per round so lineage does not grow with
    * iterations.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          propagationRounds: Int = 12,
                          stallSwitch: Boolean = true,
                          driverFinishEdges: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val raw = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .materialize()
    // A dup graph at or under `driverFinishEdges` edges (default 10⁶ —
    // 16 MB of pairs, a LongMap of ≤ 2·10⁶ entries) is finished with
    // ONE bounded collect + union-find: the iterative machinery below
    // exists for graphs that do NOT fit on the driver, and running it on
    // one that does pays tens of scheduling round-trips to move
    // megabytes. Same principle as Spark's broadcast-join threshold —
    // driver-sized data earns a driver algorithm, with an explicit,
    // configurable bound. The collect stops one edge past the bound, so
    // it both decides the path and is the union-find's input; one task
    // reads the pin's partitions in turn, so it is one job whatever the
    // pin's partitioning. Set 0 to force the distributed path (the
    // equivalence specs do).
    val head = raw.coalesce(1).limit(math.min(driverFinishEdges, Int.MaxValue - 1L).toInt + 1)
      .as[(Long, Long)].collect()
    if (head.length <= driverFinishEdges) return driverComponents(spark, head)
    val eN = raw.count()
    val undFull = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
    // Partition the LOOP by the dup graph's own size, not the session
    // default: every round schedules `p` tasks per stage, and the graph
    // is usually orders of magnitude smaller than the corpus (at sf0.1:
    // ~500 edges vs 5 000 docs; at 100 TB: billions of edges → full
    // parallelism via the 50k-edges-per-partition target). Without this
    // the iteration pays (rounds × stages × session-parallelism) task
    // launches to move a few hundred rows.
    val p = math.max(1L, math.min(raw.rdd.getNumPartitions.toLong * 2,
      (2 * eN) / 50000L + 1L)).toInt
    val und = undFull.coalesce(p).materialize()
    // Initialize with round 1 fused in: every endpoint starts at
    // min(self, direct neighbors) — one aggregate instead of a
    // distinct + a full join round. Near-clique dup clusters converge
    // immediately, so the loop's first pass is usually the no-change
    // confirmation.
    var labels = und.groupBy(col("src").as("id"))
      .agg(least(col("src"), min("dst")).as("lbl"))
      .materialize()
    // One propagation step: each node takes the minimum of its own
    // label, its neighbors' labels, and its label's label (pointer
    // jump / path halving — shortcuts label chains; min-DISCOVERY still
    // travels edge-by-edge, so rounds stay O(diameter) worst-case; the
    // edge-rewriting large-star/small-star variant is the O(log n)
    // upgrade if adversarial graphs ever dominate). Safe: labels only
    // decrease and never leave the component (a label is always a
    // member's id, so its label is too), and a fixed point forces
    // lbl(u) = lbl(v) across every edge, which pins the shared label
    // to the component minimum.
    // Any column other than (id, lbl) — e.g. the pre-step label kept
    // for the convergence check — passes through untouched.
    def step(l: DataFrame): DataFrame = {
      val nbr = und.join(l, und("src") === l("id"))
        .groupBy(col("dst").as("nid")).agg(min("lbl").as("nlbl"))
      val self = l.select(col("id").as("jid"), col("lbl").as("jlbl"))
      val keep = l.columns.filter(c => c != "id" && c != "lbl").map(col)
      l.join(nbr, l("id") === nbr("nid"), "left")
        .join(self, col("lbl") === col("jid"), "left")
        .select(col("id") +: keep :+
          least(col("lbl"), coalesce(col("nlbl"), col("lbl")),
            coalesce(col("jlbl"), col("lbl"))).as("lbl"): _*)
    }
    var converged = false
    var i = 0
    val switchAfter = math.min(propagationRounds, maxIter)
    // (Running the loop with AQE disabled was tried — the per-round
    // re-planning looked like overhead — and measured 2.3× SLOWER:
    // AQE's post-shuffle coalescing of the 32 tiny exchange partitions
    // is worth far more than its planning cost here.)
    // The change count folds into the SAME job that materializes the
    // round (typed pass + accumulator) instead of a second count()
    // action — at graph scale each extra action is a full scheduling
    // round-trip, and the loop used to pay two per iteration. Spark
    // applies action-stage accumulator updates exactly once per task,
    // so retries cannot inflate the count.
    val acc = spark.sparkContext.longAccumulator("cc_changes")
    var prevChanges = Long.MaxValue
    var stalled = 0
    while (!converged && i < switchAfter && stalled < 2) {
      // ONE step per materialization. (Fusing two steps per job was
      // tried to halve scheduling overhead: the doubled plan — six
      // joins + two aggregates — cost MORE in optimizer/AQE time than
      // it saved in job launches. Measured 5.6 s vs 4.3 s on q52.)
      acc.reset()
      val next = step(labels.withColumn("old", col("lbl")))
        .select(col("id").cast("long"), col("old").cast("long"),
          col("lbl").cast("long"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (id, old, lbl) =>
          if (old != lbl) acc.add(1L)
          (id, lbl)
        })
        .toDF("id", "lbl")
        .materialize()
      val changes = acc.value.longValue
      converged = changes == 0L
      if (stallSwitch && prevChanges != Long.MaxValue &&
          changes * 10 > prevChanges * 7) stalled += 1
      else stalled = 0
      prevChanges = changes
      labels = next
      i += 1
    }
    if (converged) labels
    else {
      // Adversarial shape: min-label propagation advances edge-by-edge
      // on graphs whose id layout keeps label chains short (an
      // interleaved-id dup chain — web-crawl chains do this — needs
      // O(diameter) rounds). Switch to large-star/small-star edge
      // contraction, O(log² n) rounds REGARDLESS of id layout. The
      // accumulated labels are connectivity they already paid for:
      // seeding (id, lbl) edges alongside the originals preserves
      // components and lets the star rounds start from the shortcuts.
      val seeded = und.unionByName(
        labels.filter(col("id") =!= col("lbl"))
          .select(col("id").as("src"), col("lbl").as("dst")))
      starComponents(seeded, maxIter, driverFinishEdges)._1
    }
  }

  /** Driver-side union-find over a BOUNDED edge list — the finisher for
    * dup graphs small enough to collect (the caller enforces the bound;
    * see [[connectedComponents]]'s `driverFinishEdges`). Path-compressed
    * union-by-minimum, so the final root of every node IS the component
    * minimum — the same labels the distributed loops converge to.
    * Self-loops register their endpoint (it appears in the output
    * labeled with itself), matching the iterative paths. */
  private def driverComponents(spark: SparkSession, pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new scala.collection.mutable.LongMap[Long](
      math.max(16, pairs.length * 2))
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var i = 0
    while (i < pairs.length) {
      val (s, d) = pairs(i)
      if (!parent.contains(s)) parent(s) = s
      if (!parent.contains(d)) parent(d) = d
      if (s != d) {
        val rs = find(s)
        val rd = find(d)
        // union by MINIMUM root: the surviving root only ever gets
        // smaller, so at the end every root is its component's min id
        if (rs < rd) parent(rd) = rs
        else if (rd < rs) parent(rs) = rd
      }
      i += 1
    }
    val ids = parent.keys.toArray
    spark.createDataset(ids.toSeq.map(k => (k, find(k)))).toDF("id", "lbl")
  }

  /** Large-star/small-star connected components (the alternating edge
    * contraction of Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): converges in O(log² n) rounds for ANY id layout,
    * where min-label propagation needs O(diameter). Each round is two
    * groupBy+join passes over the current edge set, which only shrinks.
    * At the fixed point every component is a star rooted at its minimum
    * id; returns ((id, lbl) labels for every endpoint, rounds used).
    *
    *  - large-star: ∀u, m = min({u} ∪ Γ(u)); emit (v, m) for v ∈ Γ(u),
    *    v > u — strictly-larger neighbors re-hang under the local min.
    *  - small-star: ∀u with smaller neighbors Γ⁻(u), m = min(Γ⁻(u));
    *    emit (v, m) for v ∈ Γ⁻(u), plus (u, m) — u and its smaller
    *    neighbors consolidate under their min.
    *
    * Kept package-private: [[connectedComponents]] fronts it and only
    * falls back here when propagation stalls — the propagation loop is
    * cheaper per round on the near-clique graphs dedup actually makes. */
  private[functions] def starComponents(edges: DataFrame,
                                        maxIter: Int = 50,
                                        driverFinishEdges: Long = 0L)
      : (DataFrame, Int) = {
    def undirected(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    def largeStar(e: DataFrame): DataFrame = {
      val und = undirected(e)
      val m = und.groupBy("src").agg(least(col("src"), min("dst")).as("m"))
      und.join(m, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val smaller = undirected(e).filter(col("dst") < col("src"))
      val m = smaller.groupBy("src").agg(min("dst").as("m"))
      val hang = smaller.join(m, "src").filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      hang.unionByName(m.select(col("src"), col("m").as("dst"))).distinct()
    }
    val spark = edges.sparkSession
    import spark.implicits._
    // Edge-count-while-materializing: the row count rides the checkpoint
    // job in an accumulator, so a round costs ONE action (plus the
    // subset probe only when counts tie) instead of checkpoint + count.
    val acc = spark.sparkContext.longAccumulator("star_edges")
    def matCount(df: DataFrame): (DataFrame, Long) = {
      acc.reset()
      val out = df.select(col("src").cast("long"), col("dst").cast("long"))
        .as[(Long, Long)]
        .mapPartitions(_.map { p => acc.add(1L); p })
        .toDF("src", "dst")
        .materialize()
      (out, acc.value.longValue)
    }
    var (e, eCount) = matCount(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var rounds = 0
    var done = false
    // Star rounds only ever SHRINK the edge set; the moment it fits the
    // driver bound, one union-find finishes what would otherwise be
    // several more scheduling-floor rounds (self-loop handling is moot
    // here — both inputs are already src≠dst-filtered).
    if (eCount <= driverFinishEdges)
      return (driverComponents(spark, e.as[(Long, Long)].collect()), rounds)
    while (!done && rounds < maxIter) {
      val (next, nextCount) = matCount(smallStar(largeStar(e)))
      if (nextCount <= driverFinishEdges)
        return (driverComponents(spark, next.as[(Long, Long)].collect()), rounds + 1)
      // fixed point = identical edge sets. Both are DISTINCT lists, so
      // equal counts + next⊆e ⟹ equality — one anti-join per round
      // instead of the two of a symmetric exceptAll pair.
      done = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    require(done, s"starComponents did not converge in $maxIter rounds")
    // the fixed point is a star forest rooted at component minima:
    // every edge is (member, root); roots label themselves
    val labels = e.select(col("src").as("id"), col("dst").as("lbl"))
      .unionByName(e.select(col("dst").as("id"), col("dst").as("lbl")))
      .distinct()
    (labels, rounds)
  }
}
