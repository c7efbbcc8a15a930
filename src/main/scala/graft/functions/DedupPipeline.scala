package graft.functions

import graft.operators.Materialize.Pinning

import graft.sources.BucketedSignatureStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end corpus deduplication — the productized composition of the
  * oracle-checked pieces (q34 candidates, q52 clustering, rehearsed at
  * 500k docs by `Probe scale text`):
  *
  *   minhash signatures → LSH band rows → candidate pairs from band
  *   collisions → estimated-Jaccard verify → connected components →
  *   canonical keepers (minimum id per cluster survives).
  *
  * Batch mode ([[run]]) does the whole corpus in one pass. Incremental
  * mode ([[persist]] + [[runIncremental]]) is the 100 TB shape: the
  * corpus's band rows are written ONCE, bucketed+sorted on the band
  * key, and each new shard band-joins them with no corpus shuffle
  * (see [[BucketedSignatureStore]] — the join plans exchange-free) —
  * plus a shard-internal self-join for new-vs-new duplicates.
  *
  * Everything here stays distributed: candidates come only from band
  * equi-joins (never the pair space), verification joins signatures per
  * DISTINCT candidate pair, and the component loop's working set is the
  * dup graph.
  */
object DedupPipeline {

  /** MinHash/LSH parameters. The (bands × rowsPerBand = perms) split
    * sets the collision threshold ≈ (1/bands)^(1/rowsPerBand) — the
    * defaults target Jaccard ≳ 0.5. `hasher` picks the signature
    * scheme: md5 (default — every hash replayable by a SQL oracle) or
    * xxh64 (several times cheaper per shingle, rows-only checkable);
    * persisted artifacts carry the scheme id and are only comparable
    * within it (see [[Signatures.SigHasher]]). */
  case class Params(
      ngram: Int = 3,
      perms: Int = 64,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.5,
      hasher: Signatures.SigHasher = Signatures.Md5SigHasher,
      exactVerify: Boolean = false) {
    require(bands * rowsPerBand == perms, "bands × rowsPerBand must equal perms")

    /** `minEstJaccard` as an exact rational (num, den): the exactVerify
      * gate decides in integer cross-multiplication, so a pair whose
      * exact Jaccard EQUALS a non-binary-representable threshold (0.7,
      * 0.8, …) cannot flip on FP rounding — the same discipline as
      * [[graft.operators.SetSimJoin]]'s tNum/tDen. Six decimal places
      * round-trips every threshold a caller can meaningfully write. */
    def thresholdRational: (Long, Long) = {
      val den = 1000000L
      (math.round(minEstJaccard * den), den)
    }
  }
  // exactVerify: candidates still come from LSH band collisions (the
  // linear-work stage), but the PAIR DECISION is the exact n-gram-set
  // Jaccard — computed only for candidate ids, so the extra cost is
  // candidate-bounded — instead of the signature estimate.
  // `minEstJaccard` then acts as an exact threshold: no false positives
  // from estimator variance (64 perms ⇒ σ ≈ 0.06 near 0.5 — an est
  // gate admits genuinely-below-threshold pairs and drops
  // just-above-threshold ones at a few percent each), and the only
  // remaining recall loss is the banding probability itself. The
  // standard production configuration for compliance-grade dedup.

  /** `(doc_id, band, bk)` LSH band rows + `(doc_id, sig)` signatures for
    * docs with at least `ngram` tokens (empty-shingle docs cannot be
    * near-duplicates of each other; see [[Signatures.minhash]]). The
    * signature frame is checkpointed HERE, once: every caller reuses it
    * on multiple join sides (sa/sb in the verify, both persisted
    * tables), and Spark has no cross-join-side CSE — without the
    * materialization the dominant full-corpus MD5 pass re-runs once per
    * reference. */
  def signatureTables(docs: DataFrame, idCol: String, textCol: String,
                      p: Params): (DataFrame, DataFrame) = {
    val sigs = pinnedSignatures(docs, idCol, textCol, p)
    (sigs, bandRows(sigs, idCol, p))
  }

  /** The pinned `(doc_id, sig)` half of [[signatureTables]]. */
  def pinnedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       p: Params): DataFrame =
    Signatures.minhash(
        docs.filter(TextFunctions.tokenCount(col(textCol)) >= p.ngram),
        idCol, textCol, p.ngram, p.perms, p.hasher)
      .materialize()
      .select(col(idCol), col("sig"))

  /** `(doc_id, band, bk)` LSH band rows of a signature frame. */
  def bandRows(sigs: DataFrame, idCol: String, p: Params): DataFrame =
    sigs
      .withColumn("bands", DedupFunctions.bandKeys(col("sig"), p.bands, p.rowsPerBand))
      .select(col(idCol), posexplode(col("bands")).as(Seq("band", "bk")))

  /** The LSH candidate stage alone: band-key equi-join of two band-row
    * frames, normalized (d1 < d2) pairs, not yet distinct — callers
    * union the stages they need and [[verifiedPairs]] dedups once. A
    * SELF-join halves its candidate space with `a.id < b.id`; the cross
    * (shard-vs-corpus) case must NOT assume an id ordering between the
    * two frames, so it matches `!=` and normalizes. Package-private so
    * plan specs can assert its shape (the corpus side of an incremental
    * run scans bucketed and exchange-free) — inside [[verifiedPairs]]
    * the candidate frame is checkpointed to measure its size, so the
    * band join no longer appears in the RETURNED plan. */
  private[functions] def candidatePairs(left: DataFrame, right: DataFrame,
                                        idCol: String,
                                        idCond: Column): DataFrame =
    left.as("a").join(right.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") && idCond)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("d1"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("d2"))

  private def selfCandidates(bands: DataFrame, idCol: String): DataFrame =
    // A SELF-joined band table is corpus-sized on BOTH sides by
    // construction — never a broadcast candidate, whatever the static
    // estimate claims (run()'s in-memory band frames descend from
    // projections whose size arithmetic can price a GB-scale table at
    // single-digit MB; a static BHJ then collects the corpus band table
    // to the driver). Sort-merge is the honest self-join plan at every
    // scale; the corpus-vs-shard case keeps the planner's choice — its
    // sides are bucketed artifact SCANS with real file statistics, and
    // broadcasting the small shard side there is exactly right.
    candidatePairs(bands.hint("merge"), bands, idCol,
      col(s"a.$idCol") < col(s"b.$idCol"))

  /** The distinct pairs of `candidates`, verified by estimated Jaccard
    * against the signature frame (or by exact n-gram Jaccard over
    * `exactDocs`). The candidates are pinned and counted once. */
  private def verifiedPairs(candidates: DataFrame, sigs: DataFrame, idCol: String,
                            p: Params,
                            exactDocs: Option[(DataFrame, String)] = None): DataFrame = {
    val cand = candidates.distinct()
    if (p.exactVerify) {
      // exact n-gram-set Jaccard, candidate-bounded: gram-hash arrays
      // are built only for ids that appear in some candidate pair
      // (semi-join against the texts), then one array_intersect per
      // DISTINCT pair — never a corpus-sized gram pass per shard run
      val (docs, textCol) = exactDocs.getOrElse(throw new IllegalArgumentException(
        "exactVerify requires the doc texts at the verify stage"))
      val candC = cand.materialize() // feeds the id list AND the joins
      val ids = candC.select(col("d1").as(idCol))
        .unionByName(candC.select(col("d2").as(idCol))).distinct()
      val gs = docs.join(ids, Seq(idCol), "left_semi")
        .select(col(idCol), array_distinct(transform(
          TextFunctions.wordNgrams(col(textCol), p.ngram),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))).as("_hs"))
        .materialize() // both join sides below
      // integer cross-multiplied gate (tDen·inter ≥ tNum·union): exact
      // at the threshold, no double rounding — see thresholdRational
      val (tNum, tDen) = p.thresholdRational
      candC
        .join(gs.select(col(idCol).as("d1"), col("_hs").as("_h1")), "d1")
        .join(gs.select(col(idCol).as("d2"), col("_hs").as("_h2")), "d2")
        .withColumn("_inter", size(array_intersect(col("_h1"), col("_h2"))).cast("long"))
        .filter(lit(tDen) * col("_inter") >= lit(tNum) *
          (size(col("_h1")).cast("long") + size(col("_h2")).cast("long") - col("_inter")))
        .select("d1", "d2")
    } else {
      // The verify joins must STREAM the corpus-sized sig table and
      // build/broadcast the candidate side. Left to static estimates
      // the planner gets this backwards: `sigs` descends through
      // projections whose size arithmetic scales a generator's or a
      // binary media column's default width, so a multi-GB signature
      // table can estimate at single-digit MB and become a static
      // broadcast build — collected to the driver (`Probe scale media` at
      // 4M docs died on exactly that: 3.6M sigs ≈ 1.1 GB serialized vs
      // the 1 GB maxResultSize, invisible at 400k). AQE cannot rescue a
      // static BHJ (no shuffle stage ever materializes to re-measure),
      // so measure the candidate count ourselves — the checkpoint also
      // lets both verify joins read the band join's output instead of
      // recomputing it — and pick sides explicitly: candidate-side
      // broadcast when it fits, sort-merge (spillable, never collected)
      // when a pathological corpus makes candidates corpus-sized.
      val candC = cand.materialize()
      // broadcast budget scales with SIGNATURE WIDTH, not a fixed row
      // count: the broadcast object is candidates + one sig per side,
      // ~perms·8 bytes per row — 250k rows is ~140 MB at the default 64
      // perms but ~0.5 GB at 256, re-creating the driver-pressure cliff
      // the measured strategy exists to avoid. Budget ≈ 16M row·perms
      // (the 64-perm calibration point expressed width-independently).
      val small = candC.count() * p.perms <= 16000000L
      val sa = sigs.select(col(idCol).as("d1"), col("sig").as("siga"))
      val sb = sigs.select(col(idCol).as("d2"), col("sig").as("sigb"))
      val j1 = if (small) broadcast(candC).join(sa, "d1")
               else candC.hint("merge").join(sa, "d1")
      val j2 = if (small) broadcast(j1).join(sb, "d2")
               else j1.hint("merge").join(sb, "d2")
      j2.filter(DedupFunctions.estimatedJaccard(col("siga"), col("sigb")) >= p.minEstJaccard)
        .select("d1", "d2")
    }
  }

  /** Star edges (group-minimum → member) over exact content-hash groups:
    * connectivity-equivalent to the all-pairs form for connected
    * components, but m−1 edges per m-duplicate group instead of
    * m(m−1)/2 — a corpus with a million identical boilerplate docs
    * yields 10⁶ edges, not 5·10¹¹. One hash-keyed window over (id, md5)
    * rows only (text never shuffles), no self-join. */
  def exactStarEdges(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame =
    starEdges(docs.select(col(idCol), md5(col(textCol)).as("h")), idCol, "h")

  /** [[exactStarEdges]] of docs that already carry their content hash
    * in `hashCol`. */
  def starEdges(docs: DataFrame, idCol: String, hashCol: String): DataFrame =
    docs.select(col(idCol), col(hashCol))
      .withColumn("keeper", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(hashCol)))
      .filter(col(idCol) =!= col("keeper"))
      .select(col("keeper").as("d1"), col(idCol).as("d2"))

  /** SimHash-family dup-graph edges with the equal-signature star
    * collapse — the q52 query shape AND the shape a SimHash production
    * path must use. Identical text implies an identical SimHash, so the
    * exact-group collapse and the "many near-identical docs share one
    * signature" collapse are the SAME move one level up: group docs by
    * the 60-bit signature itself, emit m−1 STAR edges per m-doc group
    * (group-min → member, one long-keyed window — no md5-of-text pass
    * at all), and let only the DISTINCT-signature representatives enter
    * the Hamming blocking join. Both clique sources die at once: an
    * m-identical boilerplate group costs m−1 edges, and a replica chain
    * whose members vote to the same signature costs one blocking row,
    * not m. Connectivity and the endpoint set are provably those of the
    * exact-collapse form (equal-sh docs are pairwise Hamming-0 ⇒ one
    * component either way; a near edge between groups factors through
    * their reps, whose signatures are the groups' signatures), so the
    * q52 oracle — which replays the md5-star form — hash-matches
    * unchanged. Text never joins or shuffles. */
  def simhashEdges(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   hasher: Signatures.SigHasher = Signatures.Md5SigHasher): DataFrame = {
    val sigs = Signatures.simhash(docs, idCol, textCol, Nil, hasher)
      .select(col(idCol), col("simhash").as("sh"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val withKeeper = sigs
      .withColumn("keeper", min(col(idCol)).over(w))
      .materialize() // one signature+window pass feeds star AND reps
    val star = withKeeper.filter(col(idCol) =!= col("keeper"))
      .select(col("keeper").as("src"), col(idCol).as("dst"))
    val reps = withKeeper.filter(col(idCol) === col("keeper"))
      .select(col(idCol), col("sh"))
    val blocked = reps.select(col(idCol), col("sh"),
      posexplode(DedupFunctions.simhashBlocks(col("sh"))).as(Seq("q", "blk")))
    // No distinct on blocked: multi-block collisions dedup once, in the
    // caller-visible union-level distinct below (one exchange, not two).
    val nearPairs = blocked.as("a").join(blocked.as("b"),
        col("a.q") === col("b.q") && col("a.blk") === col("b.blk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(DedupFunctions.hamming64(col("a.sh"), col("b.sh")) <= maxHamming)
      .select(col(s"a.$idCol").as("src"), col(s"b.$idCol").as("dst"))
    nearPairs.unionByName(star).distinct()
  }

  /** Exact-content-group REPRESENTATIVES of `docs`: the group-minimum
    * doc per distinct md5. Identical docs have IDENTICAL MinHash
    * signatures, so feeding a whole exact-dup group to the band join
    * produces a full clique — quadratic in group size — for pairs that
    * [[exactStarEdges]] already carries linearly. Every signature path
    * collapses to representatives first; the anti-join's right side is
    * the (id)-only dropped-member list, so docs text is never shuffled
    * and AQE broadcasts it when small. */
  private def exactReps(docs: DataFrame, idCol: String,
                        textCol: String, star: DataFrame): DataFrame =
    docs.join(star.select(col("d2").as(idCol)), Seq(idCol), "left_anti")

  /** Batch dedup: `(pairs, labels, keepers)` — verified near-dup pairs,
    * `(id, lbl)` cluster labels (lbl = cluster minimum), and the corpus
    * with non-canonical cluster members removed. */
  def run(docs: DataFrame, idCol: String, textCol: String,
          p: Params = Params()): (DataFrame, DataFrame, DataFrame) = {
    // exact groups collapse to reps BEFORE the LSH stage (identical sigs
    // would band-join into per-group cliques); members ride along as
    // star edges, which also covers sub-ngram docs
    val star = exactStarEdges(docs, idCol, textCol).materialize()
    val (sigs, bands) =
      signatureTables(exactReps(docs, idCol, textCol, star), idCol, textCol, p)
    val banded = bands.materialize() // both join sides, one compute
    val pairs = verifiedPairs(selfCandidates(banded, idCol), sigs, idCol, p,
        exactDocs = if (p.exactVerify) Some((docs, textCol)) else None)
      .unionByName(star)
      .distinct()
    val labels = DedupFunctions.connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val keepers = docs.join(
      labels.filter(col("lbl") < col("id")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
    (pairs, labels, keepers)
  }

  /** Resolve dedup clusters under a QUALITY policy instead of [[run]]'s
    * min-id convention: per cluster, the member maximizing `quality`
    * (ties to the lower id) survives; every other member is dropped —
    * the q95 semantic productized (the min-id doc may be the worst
    * copy; curation keeps the best one). `labels` is
    * [[DedupFunctions.connectedComponents]] output: `(id, lbl)` for
    * every member of a non-trivial cluster. Docs in no cluster pass
    * through untouched.
    *
    * Scale shape: `labels` is dup-graph-sized, so the membership join
    * broadcasts against the corpus scan, the ranking window partitions
    * by cluster over dup-graph-sized rows, and the final anti-join's
    * right side is the (smaller still) dropped-id list — the corpus
    * never shuffles, and `quality` is evaluated only on members. */
  def resolveKeepBest(docs: DataFrame, idCol: String, labels: DataFrame,
                      quality: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lbl").orderBy(col("__q").desc, col(idCol))
    val dropped = docs
      .join(labels.select(col("id").as(idCol), col("lbl")), Seq(idCol))
      .withColumn("__q", quality)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") =!= 1)
      .select(col(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Persist a corpus's signature + band tables for incremental runs:
    * `<name>_sigs` plain parquet (fetched by id — the candidate side
    * broadcasts, so the corpus is never shuffled), `<name>_bands`
    * bucketed+sorted on (band, bk) so shard band-joins are
    * exchange-free. Exact-content groups collapse to their
    * representative first (see [[run]]): near-dup pairs against a
    * member are reported against its rep, and the caller's exact-hash
    * table maps members (a deduplicated corpus — the normal input — is
    * unaffected). */
  def persist(docs: DataFrame, idCol: String, textCol: String,
              name: String, path: String, numBuckets: Int,
              p: Params = Params()): Unit = {
    val star = exactStarEdges(docs, idCol, textCol)
    val (sigs, bands) =
      signatureTables(exactReps(docs, idCol, textCol, star), idCol, textCol, p)
    sigs.write.mode("overwrite").parquet(s"$path/sigs")
    BucketedSignatureStore.write(bands, s"${name}_bands", s"$path/bands",
      numBuckets, Seq("band", "bk"))
    // stamp the signature scheme beside the artifact — the standalone
    // twin of CorpusManifest.sigScheme: a later runIncremental under a
    // DIFFERENT scheme would band-join incomparable signatures into
    // near-zero recall with no error, so the mismatch must refuse loudly
    writeSchemeStamp(docs.sparkSession, path, p.hasher.scheme)
  }

  private def stampPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_sig_scheme.json")

  private def writeSchemeStamp(spark: SparkSession, path: String,
                               scheme: Long): Unit = {
    val p = stampPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"""{"sigScheme":$scheme}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One-time stamp backfill for artifacts persisted BEFORE the scheme
    * stamp existed (they read as scheme 2 and refuse under any current
    * hasher — deliberate: conservative refusal beats near-zero silent
    * recall). When the OPERATOR knows which hasher actually built the
    * artifact (deploy history, the hasher the writing build shipped
    * with), this records that assertion so compatible pre-stamp
    * artifacts skip the full corpus re-persist. Refuses to overwrite an
    * EXISTING stamp: a stamped artifact's scheme is a recorded fact,
    * and "backfilling" over it would launder a genuine mismatch into a
    * silent-recall-loss band-join — a real scheme change goes through
    * persist() / CorpusManager.migrateSignatureScheme(). */
  def backfillSchemeStamp(spark: SparkSession, path: String,
                          scheme: Long): Unit = {
    val p = stampPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"artifact at $path already carries a scheme stamp — backfill is " +
        "only for pre-stamp artifacts; a scheme CHANGE must recompute " +
        "the signatures (persist() or migrateSignatureScheme())")
    require(new org.apache.hadoop.fs.Path(path, "sigs")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(path, "sigs")),
      s"no persisted artifact at $path (missing sigs/) — nothing to stamp")
    writeSchemeStamp(spark, path, scheme)
  }

  /** Scheme id stamped by [[persist]]. Artifacts written before the
    * stamp existed read as scheme 2 — the raw-KM era id, the oldest a
    * standalone artifact can date from — so they refuse under any
    * current hasher rather than silently band-joining. */
  private[functions] def readSchemeStamp(spark: SparkSession,
                                         path: String): Long = {
    val p = stampPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 2L
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      "\"sigScheme\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"unparseable signature-scheme stamp at $p: $txt"))
    }
  }

  /** Incremental dedup of a new shard against a [[persist]]ed corpus:
    * returns verified NEAR-DUP pairs (shard-vs-corpus AND
    * shard-vs-shard). The corpus band table is read through its bucket
    * metadata; only the (small) shard is bucketed to match, so the
    * corpus never shuffles.
    *
    * Contract note: unlike [[run]], this returns LSH pairs ONLY — docs
    * below `ngram` tokens have no shingles, so EXACT duplicates of
    * sub-ngram docs are not reported here. Callers owning an exact-hash
    * table must union their own md5 pairs (as
    * [[graft.etl.CorpusManager]] does); callers without one should gate
    * sub-ngram docs out before ingest. */
  def runIncremental(spark: SparkSession, newDocs: DataFrame, idCol: String,
                     textCol: String, name: String, path: String,
                     numBuckets: Int, p: Params = Params()): DataFrame = {
    require(!p.exactVerify,
      "exactVerify needs the corpus texts — use runIncrementalAgainst " +
        "with corpusDocs (CorpusManager passes its pinned docs)")
    val stamped = readSchemeStamp(spark, path)
    if (stamped != p.hasher.scheme) throw new IllegalStateException(
      s"persisted dedup artifact at $path was built under signature " +
        s"scheme $stamped, but this run is configured with scheme " +
        s"${p.hasher.scheme} (hasher ${p.hasher.name}) — band-joining " +
        "across schemes silently loses near-dup recall. Re-run persist() " +
        "under the configured hasher (or use CorpusManager, whose " +
        "manifests route this through migrateSignatureScheme()). NOTE: " +
        "artifacts persisted before stamps existed read as scheme 2 (the " +
        "raw-KM era); if the operator KNOWS this artifact was actually " +
        "built under the current hasher, backfillSchemeStamp() records " +
        "that assertion without a corpus re-persist.")
    runIncrementalAgainst(spark, newDocs,
      shardSignatures(newDocs, idCol, textCol, p), idCol, textCol,
      s"${name}_bands", spark.read.parquet(s"$path/sigs"),
      s"${name}_shard_bands", s"$path/shard_bands", numBuckets, p)
  }

  /** A shard's one signature pass, shared by the incremental dedup and
    * its caller: `sigs` holds the pinned `(doc_id, sig)` of EVERY shard
    * doc with at least `ngram` tokens, exact-group members included,
    * and `star` the shard's exact-content star edges (d1 group minimum
    * → d2 member). Members are dropped from the band rows after the
    * MinHash pass rather than before it, so a caller that keeps a subset
    * of the shard (the keepers) reads its signatures off this frame
    * instead of hashing its text again. */
  case class ShardSignatures(sigs: DataFrame, star: DataFrame)

  /** `docs`' [[ShardSignatures]]; `hashCol` names the column holding
    * their md5 when they already carry it (the star edges then hash no
    * text). */
  def shardSignatures(docs: DataFrame, idCol: String, textCol: String,
                      p: Params, hashCol: Option[String] = None): ShardSignatures =
    ShardSignatures(pinnedSignatures(docs, idCol, textCol, p),
      hashCol.fold(exactStarEdges(docs, idCol, textCol))(starEdges(docs, idCol, _)))

  /** [[runIncremental]] with the corpus side named explicitly — the
    * entry point for callers that resolve artifacts through a snapshot
    * manifest ([[graft.etl.CorpusManager]]): `corpusBandsTable` is the
    * LIVE band-table generation and `corpusSigs` the PINNED signature
    * scan, so a crashed writer's orphaned signatures can never verify a
    * candidate pair. `shard` is the shard's [[shardSignatures]], which
    * the caller may reuse (the corpus manager appends its keepers'
    * signatures from them).
    *
    * The corpus×shard and shard×shard band candidates are ONE frame:
    * pinned, counted and verified once. The shard's band rows are still
    * written as a bucketed table (`shardBandsTable`) first: bucketing is
    * catalog metadata, and a `repartition(n, band, bk)` frame — pinned
    * or not — loses its hash partitioning on Spark 4.1 and joins the
    * corpus table through `Exchange hashpartitioning(band, bk, n)`,
    * which is the corpus-sized shuffle this path exists to avoid. */
  def runIncrementalAgainst(spark: SparkSession, newDocs: DataFrame,
                            shard: ShardSignatures,
                            idCol: String, textCol: String,
                            corpusBandsTable: String, corpusSigs: DataFrame,
                            shardBandsTable: String, shardBandsPath: String,
                            numBuckets: Int, p: Params = Params(),
                            corpusDocs: Option[DataFrame] = None): DataFrame = {
    require(!p.exactVerify || corpusDocs.nonEmpty,
      "exactVerify needs corpusDocs (the pinned corpus texts) — the " +
        "exact Jaccard decision reads candidate docs' grams, not sigs")
    val ShardSignatures(shardSigs, shardStar) = shard
    // intra-shard exact groups collapse to reps (identical sigs would
    // self-join into cliques); members are the caller's exact edges
    val repSigs = shardSigs.join(shardStar.select(col("d2").as(idCol)),
      Seq(idCol), "left_anti")
    BucketedSignatureStore.write(bandRows(repSigs, idCol, p), shardBandsTable,
      shardBandsPath, numBuckets, Seq("band", "bk"))
    val corpusBands = BucketedSignatureStore.table(spark, corpusBandsTable)
    val shardB = BucketedSignatureStore.table(spark, shardBandsTable)
    // corpus signatures stay a LAZY parquet scan — materializing them
    // would cost corpus-sized memory per shard run; the verify joins
    // broadcast the (small) candidate side, so each scan streams the
    // sig table without shuffling it. The shard's signatures are
    // already pinned.
    val allSigs = corpusSigs.unionByName(shardSigs)
    val exact =
      if (p.exactVerify)
        Some((corpusDocs.get.select(col(idCol), col(textCol))
          .unionByName(newDocs.select(col(idCol), col(textCol))), textCol))
      else None
    val candidates = candidatePairs(corpusBands, shardB, idCol,
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .unionByName(selfCandidates(shardB, idCol))
    verifiedPairs(candidates, allSigs, idCol, p, exact)
  }
}
