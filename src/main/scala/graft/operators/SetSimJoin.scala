package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join (AllPairs/PPJoin-style prefix
  * filtering): all pairs of rows whose token/shingle SETS have Jaccard
  * similarity ≥ tNum/tDen, with the similarity computed EXACTLY — no
  * MinHash estimation, no LSH recall loss.
  *
  * This is the third point in the engine's near-dup design space:
  * q33 is the bounded brute-force baseline (quadratic, oracle fodder),
  * q34/MinHash trades exactness for linear work at ANY threshold, and
  * this operator is exact AND sub-quadratic for HIGH thresholds — the
  * "no false positives, no false negatives above t" contract a
  * contamination audit or a legal-compliance dedup needs.
  *
  * How the pair space stays bounded (Bayardo et al., WWW'07; Chaudhuri
  * et al., ICDE'06 — public literature, not reference code):
  *
  *  1. Grams are first mapped to 60-bit md5 lanes (the q34 idiom:
  *     `conv(substr(md5(g),1,15),16,10)`), so every downstream stage —
  *     DF count, rank window, candidate join, verify — moves LONGS,
  *     not strings (measured 2.3× on the whole operator at sf0.1).
  *     Set semantics are preserved under the hash map; a cross-gram
  *     collision (p ≈ |V|²/2⁶¹) would merge two grams consistently on
  *     BOTH the Spark and oracle sides, because the oracle replays the
  *     same md5 substring — the gate stays bit-exact even then.
  *  2. Canonical gram order: every doc sorts its DISTINCT gram hashes
  *     by (global document frequency ASC, hash ASC) — rarest first, one
  *     fixed total order shared by all docs.
  *  3. Prefix filter: Jaccard(A,B) ≥ t implies |A∩B| ≥ t·max(|A|,|B|)
  *     (because |A∪B| ≥ max). A pair with overlap ≥ ceil(t·n_i) MUST
  *     share a gram within each side's first n_i − ceil(t·n_i) + 1
  *     grams, so candidates are generated by an EQUI-JOIN on prefix
  *     grams only — the prefix is the (1−t)·n RAREST grams of each doc,
  *     which is exactly the part of the doc with the fewest partners.
  *  4. Length filter inside the join condition: t·max(n1,n2) ≤
  *     min(n1,n2), in cross-multiplied integer form (no doubles).
  *  5. Positional filter (PPJoin's refinement), also inside the join
  *     condition: a shared gram at canonical ranks (i, j) bounds the
  *     overlap by min(i,j) + min(n1−i, n2−j) — at most min(i,j)
  *     common grams can precede it and at most min(n1−i, n2−j) can
  *     follow. Jaccard ≥ t needs overlap ≥ α = ⌈t·(n1+n2)/(1+t)⌉,
  *     cross-multiplied to (tN+tD)·bound ≥ tN·(n1+n2) so no division
  *     is involved; rows below the bound drop BEFORE the distinct.
  *     Lossless: for a qualifying pair the bound over-estimates the
  *     true overlap on EVERY shared gram row, so all its rows pass.
  *  6. Exact verify: candidate pairs (distinct) join the per-doc gram
  *     HASH ARRAYS (one row per doc, candidate-bounded work — NOT the
  *     exploded gram rows, which would multiply candidates by doc
  *     length) and count the true intersection with array_intersect
  *     over longs; the final threshold test is integer
  *     cross-multiplied (tDen·inter ≥ tNum·(n1+n2−inter)), so the
  *     gate is decided in exact arithmetic and the emitted double is
  *     display-only.
  *
  * The DuckDB oracle for q134 replays the hash map and the UNOPTIMIZED
  * candidate stage (no positional filter, exploded-gram verify):
  * because the verify is exact, any candidate superset yields the
  * identical output — the filters only have to be provably lossless,
  * not bit-replayed.
  *
  * Scale shape: gram DF is one map-side-combined aggregate; the rank
  * window partitions by doc (bounded by doc size); the candidate join
  * keys on single gram hashes but only PREFIX occurrences enter it —
  * the rare-first canonical order is what keeps high-DF grams out of
  * most prefixes (see `Probe scale setsim`'s df=N boilerplate header).
  * Everything downstream of candidates is bounded by the candidate
  * count. No stage is quadratic in the corpus.
  */
object SetSimJoin {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Opt-in stage diagnostics: `spark.graft.setsim.logStages=true` logs
    * the candidate-pair count before the verify stage. The count is an
    * extra job (the candidate join runs twice), so it is off by default —
    * turn it on when a production corpus's prefix selectivity needs
    * auditing (candidate explosion is THE failure mode of prefix
    * filtering on low-entropy corpora). */
  private def logged(tag: String, df: DataFrame): DataFrame = {
    val on = df.sparkSession.conf.getOption("spark.graft.setsim.logStages")
      .exists(_.trim.equalsIgnoreCase("true"))
    if (on) log.info(s"setsim $tag: ${df.count()} rows")
    df
  }

  /** 60-bit md5 lane of a string column (oracle-replayable). */
  private def hash60(g: Column): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  /** Whether a SHUFFLE_HASH build of `buildRows` (long-keyed, scalar
    * payload) rows can be expected to fit per-task execution memory on
    * THIS session. The vocab-side hash build scales with the DISTINCT
    * gram count, which Heaps-law-grows with the corpus — at 8M synthetic
    * docs (~330M mostly-unique 3-grams) the per-partition build is
    * ~500 MB and the join dies with "Can't acquire ... to build hash
    * relation" (`Probe scale setsim` at 8M, round 8). Budget: half of one
    * task's slice of unified execution memory (`maxMemory ×
    * spark.memory.fraction / parallelism`), ~64 B per built row
    * (LongToUnsafeRowMap key + row + map overhead); callers fall back
    * to SORT-MERGE when it doesn't fit — the scalable default, paying
    * the sort the hint existed to skip. More shuffle partitions shrink
    * per-task builds proportionally, so a cluster-tuned session keeps
    * the fast path at sizes local[32] cannot. */
  private def hashBuildFits(spark: org.apache.spark.sql.SparkSession,
                            buildRows: Long): Boolean = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    val slots = spark.sparkContext.defaultParallelism.max(1)
    val fraction = spark.conf.getOption("spark.memory.fraction")
      .map(_.toDouble).getOrElse(0.6)
    val perTask = Runtime.getRuntime.maxMemory.toDouble * fraction / slots
    buildRows.toDouble / parts * 64.0 <= perTask * 0.5
  }

  /** Pairs (d1 < d2) with exact Jaccard(grams1, grams2) ≥ tNum/tDen.
    * Output: (d1, d2, inter, uni, jac). `gramsCol` is an array column;
    * duplicates inside it are collapsed (set semantics). Rows with
    * empty gram sets never match (Jaccard undefined ⇒ dropped).
    *
    * 0 < tNum/tDen ≤ 1 required; meaningful pruning needs t ≥ ~0.5 —
    * below that the prefixes approach whole docs and q34's MinHash
    * path is the right tool.
    */
  def join(docs: DataFrame, idCol: String, gramsCol: String,
           tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be in (0,1]: $tNum/$tDen")
    // per-doc distinct gram-hash sets: the ONE row-per-doc frame every
    // stage derives from; materialized once (longs only — cheap) since
    // it feeds the explode AND both verify join sides
    val sets = Materialize(docs
      .select(col(idCol).as("_id"),
        array_distinct(transform(col(gramsCol), g => hash60(g))).as("_hs"))
      .filter(size(col("_hs")) > 0))
    // MERGE hints on every corpus-sized join below, CONDITIONED on the
    // measured corpus size (counted over the materialized frame): the
    // input's ESTIMATED size can be bytes-of-source tiny (spark.range
    // synthetics, selective scans) while the actual gram/set frames are
    // corpus-sized — an estimate-driven broadcast of a corpus-sized
    // table is a driver OOM at scale (`Probe scale setsim` at 800k caught
    // exactly this). Small corpora keep the planner's broadcast freedom
    // (measured 0.9 s of needless exchanges at sf0.1 with unconditional
    // hints). Row count and duplicate-id check share ONE aggregate job
    // (duplicate ids would silently double-count intersections in the
    // verify joins — refuse loudly).
    val cnt = sets.agg(count(lit(1)), count_distinct(col("_id")),
      sum(size(col("_hs")))).collect()(0)
    val nRows = cnt.getLong(0)
    require(cnt.getLong(1) == nRows,
      s"$idCol values must be unique — duplicate ids would corrupt " +
        "the per-doc gram sets and the verify joins")
    // upper bound on the distinct-gram (vocab) row count, free in the
    // same aggregate job; exact when grams are globally unique — the
    // worst case for the vocab-side hash build
    val totalGrams = cnt.getLong(2)
    val big = nRows >= 100000
    def guarded(df: DataFrame): DataFrame = if (big) df.hint("merge") else df
    // the vocab DF table joins the corpus-sized gram rows: when big,
    // pin SHUFFLE_HASH (hash-partitioned both sides, build the vocab
    // side) — it admits no size-estimate broadcast AND skips the sort a
    // merge join would impose on the corpus gram rows, the single
    // largest frame in the operator. But the vocab is NOT bounded (it
    // Heaps-grows with the corpus), so the hash build must pass the
    // memory-fit check or the whole join dies mid-stage at scale —
    // fall back to merge, which spills instead of failing.
    def vocabGuarded(df: DataFrame): DataFrame =
      if (!big) df
      else if (hashBuildFits(docs.sparkSession, totalGrams))
        df.hint("shuffle_hash")
      else df.hint("merge")
    val sh0 = sets.select(col("_id"), size(col("_hs")).as("n"),
      explode(col("_hs")).as("h"))
    // gram document frequency: map-side-combined agg, |vocab| rows
    val dfreq = sh0.groupBy("h").agg(count(lit(1)).as("df"))
    // canonical rank of each gram within its doc (rarest first) with the
    // prefix filter (p = n − ceil(t·n) + 1, all-integer ceil) applied
    // BEFORE materializing: the prefix frame is reused on BOTH sides of
    // the candidate join (Spark has no cross-join-side CSE), and
    // pinning only the prefix rows materializes ~(1−t) of the gram rows
    // instead of all of them
    val prefix = Materialize(sh0.join(vocabGuarded(dfreq), "h")
      .withColumn("rn", row_number().over(
        Window.partitionBy("_id").orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("n")
        - expr(s"(($tNum * n) + $tDen - 1) div $tDen") + lit(1))
      .drop("df")) // rank consumed it; pinning it would store dead bytes
    // candidates: shared prefix gram + integer length filter +
    // positional overlap bound
    val bound = least(col("a.rn"), col("b.rn")) +
      least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))
    val cand = prefix.as("a").join(guarded(prefix).as("b"),
        col("a.h") === col("b.h") && col("a._id") < col("b._id") &&
          lit(tNum) * greatest(col("a.n"), col("b.n")) <=
            lit(tDen) * least(col("a.n"), col("b.n")) &&
          lit(tNum + tDen) * bound >= lit(tNum) * (col("a.n") + col("b.n")))
      .select(col("a._id").as("d1"), col("b._id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    logged(s"join candidates (docs=$nRows)", cand)
    // exact verify over per-doc hash ARRAYS: work is candidate-bounded.
    val s1 = sets.select(col("_id").as("_i1"), col("_hs").as("_g1"))
    val s2 = sets.select(col("_id").as("_i2"), col("_hs").as("_g2"))
    verify(cand, s1, s2, big, tNum, tDen)
      .select(col("d1"), col("d2"), col("inter"), col("uni"), col("jac"))
  }

  /** The exact-verify stage: attach both gram arrays to each candidate
    * pair and keep pairs at/above tNum/tDen. Strategy is MEASURED, the
    * DedupPipeline.verifiedPairs discipline:
    *
    *  - big corpus + candidate set that fits a broadcast (counted over
    *    the pinned pairs, never estimated): broadcast the candidates
    *    into TWO independent streams of the pinned set table (one per
    *    pair side) and join the halves on the pair key — ZERO
    *    corpus-sized exchanges, and the only shuffled array rows are
    *    candidate-bounded. The previous shape (candidate-build
    *    SHUFFLE_HASH chain) exchanged the corpus-sized set table TWICE
    *    plus the gram-carrying intermediate once per run (guide §2.3/
    *    §3.1: broadcast the side that fits).
    *  - big corpus + oversized candidate set (pathological corpora):
    *    the former shape unchanged — SHUFFLE_HASH with the
    *    candidate-bounded side as build; blocks estimate-driven
    *    broadcast like merge would, but skips sorting the corpus-sized
    *    array frame twice. Builds shrink with shuffle partitions.
    *  - small corpus: the planner keeps its freedom (everything
    *    broadcasts anyway; the pin+count would only tax the floor).
    *
    * The broadcast budget is row-count-based (pairs are 4 longs; the
    * built relation is ~64 B/row → ~256 MB at the 4M cap), NOT an
    * estimate — the operator's inputs routinely carry generator-descended
    * size estimates that are off by orders of magnitude. */
  private def verify(cand: DataFrame, s1: DataFrame, s2: DataFrame,
                     big: Boolean, tNum: Int, tDen: Int,
                     broadcastRowCap: Long = 4000000L): DataFrame = {
    val attached =
      if (!big)
        cand.join(s1, col("d1") === col("_i1"))
          .join(s2, col("d2") === col("_i2"))
      else {
        val candC = Materialize(cand)
        if (candC.count() <= broadcastRowCap) {
          val h1 = broadcast(candC).join(s1, col("d1") === col("_i1"))
            .select(col("d1"), col("d2"), col("n1"), col("n2"), col("_g1"))
          val h2 = broadcast(candC).join(s2, col("d2") === col("_i2"))
            .select(col("d1"), col("d2"), col("_g2"))
          h1.join(h2, Seq("d1", "d2"))
        } else {
          // candidate-side builds are PREFIX-FILTER-bounded (candidates,
          // not corpus); a workload whose candidate set outgrows
          // per-task memory raises shuffle partitions — the builds
          // shrink proportionally
          candC.hint("shuffle_hash").join(s1, col("d1") === col("_i1"))
            .hint("shuffle_hash")
            .join(s2, col("d2") === col("_i2"))
        }
      }
    attached
      .select(col("d1"), col("d2"), col("n1"), col("n2"),
        size(array_intersect(col("_g1"), col("_g2"))).cast("long").as("inter"))
      .filter(lit(tDen) * col("inter") >=
        lit(tNum) * (col("n1") + col("n2") - col("inter")))
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"),
        (col("n1") + col("n2") - col("inter")).as("uni"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double")).as("jac"))
  }

  /** CROSS-corpus variant (A vs B, e.g. benchmark-vs-train
    * decontamination at exact doc-level Jaccard — the exact complement
    * of q82's gram-containment bloom gate): all pairs (lid from left,
    * rid from right) with Jaccard ≥ tNum/tDen. Same machinery as the
    * self-join — ONE canonical order shared by both sides (gram DF
    * counted over the union; any single total order is correct, the
    * union DF is the candidate-minimizing choice) — but no id
    * ordering constraint, and a pair present in both corpora under
    * the SAME id is still reported (ids live in different namespaces).
    * Output: (lid, rid, inter, uni, jac). */
  def joinBetween(left: DataFrame, right: DataFrame,
                  idCol: String, gramsCol: String,
                  tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be in (0,1]: $tNum/$tDen")
    def prep(df: DataFrame): DataFrame = Materialize(df
      .select(col(idCol).as("_id"),
        array_distinct(transform(col(gramsCol), g => hash60(g))).as("_hs"))
      .filter(size(col("_hs")) > 0))
    val setsL = prep(left)
    val setsR = prep(right)
    // one aggregate job per side: row count + gram total + dup refusal
    def counted(sets: DataFrame): (Long, Long) = {
      val c = sets.agg(count(lit(1)), count_distinct(col("_id")),
        sum(size(col("_hs")))).collect()(0)
      require(c.getLong(1) == c.getLong(0),
        s"$idCol values must be unique within each side — duplicates " +
          "would corrupt the per-doc gram sets and the verify joins")
      (c.getLong(0), c.getLong(2))
    }
    val ((nL, gL), (nR, gR)) = (counted(setsL), counted(setsR))
    val big = nL + nR >= 100000
    def guarded(df: DataFrame): DataFrame = if (big) df.hint("merge") else df
    // union-DF vocab build: same unbounded-vocab memory-fit rule as
    // [[join]] (gL + gR upper-bounds the union's distinct grams)
    def vocabGuarded(df: DataFrame): DataFrame =
      if (!big) df
      else if (hashBuildFits(left.sparkSession, gL + gR))
        df.hint("shuffle_hash")
      else df.hint("merge")
    def explode1(sets: DataFrame): DataFrame = sets.select(col("_id"),
      size(col("_hs")).as("n"), explode(col("_hs")).as("h"))
    val shL = explode1(setsL)
    val shR = explode1(setsR)
    // one shared canonical order: DF over the union of both corpora.
    // Deliberately NOT materialized despite the two rank() call sites:
    // each recompute is one map-side-combined agg over the pinned sets,
    // cheaper than checkpointing a vocab-sized frame (measured +1 s
    // warm at the ×10 tier with a pinned dfreq)
    val dfreq = shL.select("h").unionAll(shR.select("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    def rank(sh: DataFrame): DataFrame = Materialize(
      sh.join(vocabGuarded(dfreq), "h")
        .withColumn("rn", row_number().over(
          Window.partitionBy("_id").orderBy(col("df"), col("h"))))
        .filter(col("rn") <= col("n")
          - expr(s"(($tNum * n) + $tDen - 1) div $tDen") + lit(1))
        .drop("df")) // rank consumed it; pinning it would store dead bytes
    val prefL = rank(shL)
    val prefR = rank(shR)
    val bound = least(col("a.rn"), col("b.rn")) +
      least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))
    val cand = prefL.as("a").join(guarded(prefR).as("b"),
        col("a.h") === col("b.h") &&
          lit(tNum) * greatest(col("a.n"), col("b.n")) <=
            lit(tDen) * least(col("a.n"), col("b.n")) &&
          lit(tNum + tDen) * bound >= lit(tNum) * (col("a.n") + col("b.n")))
      .select(col("a._id").as("lid"), col("b._id").as("rid"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    logged(s"joinBetween candidates (docs=$nL+$nR)", cand)
    val s1 = setsL.select(col("_id").as("_i1"), col("_hs").as("_g1"))
    val s2 = setsR.select(col("_id").as("_i2"), col("_hs").as("_g2"))
    // same measured verify as [[join]] (see [[verify]]'s doc) — the
    // pair-key columns are renamed through it
    verify(cand.withColumnRenamed("lid", "d1").withColumnRenamed("rid", "d2"),
        s1, s2, big, tNum, tDen)
      .select(col("d1").as("lid"), col("d2").as("rid"),
        col("inter"), col("uni"), col("jac"))
  }
}
