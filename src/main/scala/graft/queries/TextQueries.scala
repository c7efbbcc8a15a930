package graft.queries

import graft.operators.Materialize.Pinning

import graft.Tables
import graft.functions.{DedupFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication over the `documents` table — the
  * training-data-pipeline operators (exact dedup, n-gram Jaccard near-dup,
  * MinHash+LSH, SimHash, token stats, quality scoring, language scoring,
  * fingerprinting). Every query here is oracle-checked: MinHash/SimHash
  * signatures are md5-derived (see [[graft.functions.Signatures]]), so
  * the DuckDB oracle recomputes the identical signature pipelines in SQL.
  */
object TextQueries {

  private val STOPWORDS = Seq("the", "a", "of", "and")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup via content hash (hash-groupBy; one shuffle on the hash).
    "q28_dedup_exact" -> ((s, dir) => {
      DedupFunctions.exactDupGroups(
          Tables.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("h")
    }),

    // Token counting (whitespace + sub-token split).
    "q29_token_count" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("len_chars"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length/avg-token/stopword-ratio features.
    "q30_text_quality" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("len_chars"),
          size(toks).as("n_tokens"),
          (length(col("text")).cast("double") / size(toks).cast("double"))
            .as("avg_token_len"),
          TextFunctions.stopwordRatio(col("text"), STOPWORDS).as("stop_ratio"))
        .orderBy("doc_id")
    }),

    // Language-ID heuristic: marker-word ratio → predicted label.
    "q31_langid" -> ((s, dir) => {
      val score = TextFunctions.langScore(col("text"), Seq("the", "a"))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), score.as("en_score"),
          when(score >= 0.05, lit("en")).otherwise(lit("other")).as("predicted"))
        .orderBy("doc_id")
    }),

    // Rolling-hash document fingerprint (portable polynomial fold).
    "q32_fingerprint" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup detection, brute-force on a bounded slice
    // (the oracle-checkable baseline; q34 is the LSH scale path).
    "q33_ngram_jaccard" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 150 && TextFunctions.tokenCount(col("text")) >= 3)
        .select(col("doc_id"), TextFunctions.wordNgrams(col("text"), 3).as("grams"))
        // materialize once: both sides of the self-join below would
        // otherwise re-scan and re-shingle (no CSE across join sides);
        // at scale this is "write the shingle table, then join it"
        .materialize()
      val sh = d.select(col("doc_id"), explode(col("grams")).as("g"))
      val sz = d.select(col("doc_id"), size(col("grams")).as("n"))
      val pairs = sh.as("a").join(sh.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("inter"))
      pairs
        .join(sz.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sz.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"), col("inter"),
          (col("s1.n") + col("s2.n") - col("inter")).as("uni"),
          (col("inter").cast("double") /
            (col("s1.n") + col("s2.n") - col("inter")).cast("double")).as("jac"))
        .filter(col("jac") >= 0.02)
        .orderBy("d1", "d2")
    }),

    // MinHash + LSH banding: candidate pairs from band-bucket collisions,
    // then signature-estimated Jaccard. No O(N²) stage — candidates only
    // come from the bucket equi-join. Hashes are md5-derived, so the
    // DuckDB oracle computes the identical signature pipeline.
    "q34_minhash_lsh" -> ((s, dir) => {
      val d = graft.functions.Signatures
        .minhash(Tables.table(s, dir, "documents")
            // empty-shingle docs would all share the MaxValue signature
            // and band-join with each other; they cannot be near-dups
            .filter(TextFunctions.tokenCount(col("text")) >= 3),
          "doc_id", "text", 3, 64)
        .withColumn("bands", DedupFunctions.bandKeys(col("sig"), 16, 4))
        .materialize() // signatures computed once, not per join side
      // band rows carry only (doc_id, band, key); signatures join back
      // per DISTINCT candidate pair below, so the (interpreted) slot
      // comparison runs once per pair, not once per band collision
      val banded = d.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "bk")))
      val pairs = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_bands"))
      // identical broadcast subtree on both join-backs → Spark reuses
      // ONE broadcast exchange (two renamed projections would build two)
      val sigs = broadcast(d.select(col("doc_id"), col("sig")))
      pairs
        .join(sigs.as("sa"), col("d1") === col("sa.doc_id"))
        .join(sigs.as("sb"), col("d2") === col("sb.doc_id"))
        .select(col("d1"), col("d2"), col("n_bands"),
          DedupFunctions.estimatedJaccard(col("sa.sig"), col("sb.sig")).as("est_jac"))
        .filter(col("est_jac") >= 0.5)
        .orderBy("d1", "d2")
    }),

    // SimHash near-dup: 60-bit md5-derived signatures + Hamming-close
    // pairs via 4×15-bit exact-match blocking (no O(N²)). The emitted
    // threshold MATCHES the blocking guarantee: pairs at Hamming ≤ 3
    // must share one of 4 blocks (pigeonhole), so recall at the declared
    // radius is exactly 100% — not "whatever happened to collide".
    "q35_simhash" -> ((s, dir) => {
      val d = graft.functions.Signatures
        .simhash(Tables.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("simhash").as("sh"))
        .materialize() // one signature pass for both join sides
      val blocked = d.select(col("doc_id"), col("sh"),
        posexplode(DedupFunctions.simhashBlocks(col("sh"))).as(Seq("q", "blk")))
      val pairs = blocked.as("a").join(blocked.as("b"),
          col("a.q") === col("b.q") && col("a.blk") === col("b.blk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          DedupFunctions.hamming64(col("a.sh"), col("b.sh"))
            .cast("bigint").as("v"))
        .distinct()
        .filter(col("v") <= 3) // = the blocking guarantee radius
      // Emit signatures too so the result is non-empty even with no dups.
      d.select(col("doc_id").as("d1"), lit(-1L).as("d2"), col("sh").as("v"))
        .unionByName(pairs)
        .orderBy("d1", "d2")
    }),

    // Global dedup: connected components over the duplicate-pair graph,
    // emitting each non-canonical member with its cluster representative
    // (min doc_id) and cluster size. Exact-content groups collapse FIRST:
    // identical docs share both the md5 and the SimHash, so the naive
    // self-joins emit m(m-1)/2 pair rows per m-identical group (a
    // boilerplate-heavy corpus makes that a job-killer). Instead the
    // exact groups contribute m-1 STAR edges (group-min -> member, one
    // hash-keyed window) and only the group REPRESENTATIVES enter the
    // SimHash blocking join — connectivity is provably identical (any
    // near edge between members factors through their reps via the
    // star), the production DedupPipeline.exactStarEdges shape. The
    // component loop's working set is the dup graph only — never the
    // corpus. Oracle: DuckDB window-min star edges + rep-only blocking,
    // recursive CTE unchanged.
    "q52_dedup_components" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val edges = graft.functions.DedupPipeline
        .simhashEdges(docs, "doc_id", "text")
      val labels = DedupFunctions.connectedComponents(edges)
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_reach"))
      labels.join(sizes, "lbl")
        .filter(col("lbl") < col("id")) // non-canonical members only
        .select(col("id").as("doc_id"), col("lbl").as("component"),
          col("n_reach"))
        .orderBy("doc_id")
    }),

    // BM25 ranking against a fixed query-term set. Rational idf variant
    // (no ln — bit-portable across engines); per-term scores are rounded
    // to DECIMAL(28,12) before the sum so the aggregate is
    // order-independent (same trick as q01's decimal sums). df/stats are
    // tiny aggregates (broadcast); only the token explode shuffles.
    // Near-dup cluster RESOLUTION: q52 finds the clusters; this picks
    // which member survives — the highest pooled-stopword-quality doc
    // (ties to the lower doc_id), the policy real curation uses instead
    // of q52's min-id convention (the min-id doc may be the worst copy).
    // Scale shape: the labels frame is dup-graph-sized, so the quality
    // join broadcasts it against the corpus scan and the ranking window
    // partitions by component over dup-graph-sized rows only; the
    // corpus never shuffles. Score doubles are one IEEE division of
    // exactly-representable integers — bit-identical cross-engine.
    "q95_cluster_keep_best" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val edges = graft.functions.DedupPipeline
        .simhashEdges(docs, "doc_id", "text")
      val labels = DedupFunctions.connectedComponents(edges)
      val toks = TextFunctions.tokens(col("text"))
      val qual = docs.select(col("doc_id"),
        TextFunctions.wordSetCount(toks, STOPWORDS).cast("bigint").as("n_stop"),
        size(toks).cast("bigint").as("n_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component")
        .orderBy(col("score").desc, col("doc_id"))
      labels.select(col("id").as("doc_id"), col("lbl").as("component"))
        .join(qual, "doc_id")
        .withColumn("score",
          col("n_stop").cast("double") * 10000 / col("n_toks"))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("component"), col("n_stop"),
          col("n_toks"), (col("rk") === 1).as("kept"))
        .orderBy("doc_id")
    }),

    // Inverted-index postings build (the retrieval-side artifact a
    // curation stack emits next to the corpus): per token, document
    // frequency, total term frequency, and the first-5 posting doc ids.
    // The capped postings use the kmv_minima TypedImperativeAggregate —
    // k smallest doc ids with O(k) state and map-side partials — so a
    // stopword token costs k longs per partition in the exchange, NOT a
    // per-token window sort of its corpus-sized posting list (the skew
    // that kills naive index builds at 100 TB).
    "q96_inverted_index" -> ((s, dir) => {
      val tk = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = tk.groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      tf.groupBy("tok")
        .agg(count(lit(1)).cast("bigint").as("df"),
          sum("tf").cast("bigint").as("total_tf"),
          concat_ws(",",
            call_function("kmv_minima", col("doc_id"), lit(5))).as("postings"))
        .orderBy("tok")
    }),

    // Content-defined chunking (the FastCDC/rsync family, token
    // granularity): a chunk boundary falls AFTER token i when the
    // md5-60 of the 4-token gram ending at i is ≡ 0 mod 16 — boundaries
    // depend only on local content, so an insertion early in a doc
    // shifts chunk CONTENTS by one token but every later boundary
    // re-synchronizes, which is what makes CDC chunks dedupable across
    // near-identical docs where fixed segments (q90) all shift. One
    // typed pass emits chunk rows directly (token split, rolling gram
    // digests, chunk assembly — all per-row, no explode, no per-doc
    // window); the only shuffle is the digest-keyed share count.
    "q97_cdc_chunks" -> ((s, dir) => {
      val chunks = TextFunctions.cdcChunks(
        Tables.table(s, dir, "documents"), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("dig")
      chunks.withColumn("shared", count(lit(1)).over(w).cast("bigint"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // CDC-chunk global dedup (q97's chunks + q90's keep-first rule):
    // only the first (doc_id, chunk_idx) occurrence of each chunk digest
    // survives corpus-wide, rolled up to per-doc surviving token mass.
    // Because CDC boundaries re-synchronize after edits, this catches
    // shared content BETWEEN near-identical docs that fixed segments
    // (q90) miss. Two shuffles at any scale: the digest-keyed window
    // over narrow chunk rows, then the doc-keyed rollup.
    "q98_cdc_dedup" -> ((s, dir) => {
      val chunks = TextFunctions.cdcChunks(
        Tables.table(s, dir, "documents"), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dig").orderBy("doc_id", "chunk_idx")
      chunks.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_chunks"),
          sum(when(col("rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
          sum(when(col("rn") === 1, col("c_toks")).otherwise(0L))
            .cast("bigint").as("kept_toks"))
        .orderBy("doc_id")
    }),

    // Containment near-sup detection: candidates from the q34 MinHash
    // band join, verified by EXACT containment |A∩B| / min(|A|,|B|)
    // over distinct 3-gram shingle sets. Containment (not Jaccard)
    // catches the asymmetric cases curation cares about — a doc
    // embedding another as a quote scores ~1.0 containment but low
    // Jaccard. The verify is candidate-bounded: gram arrays are built
    // ONLY for ids that appear in some candidate pair (semi-join), then
    // joined per DISTINCT pair with SetSimJoin's measured-size merge
    // guard — never a corpus-sized broadcast (at 100 TB the corpus's
    // gram arrays dwarf driver memory; an estimate-driven broadcast of
    // them is an OOM by construction).
    "q99_containment" -> ((s, dir) => containment(s, dir)),

    "q53_bm25" -> ((s, dir) => {
      val terms = Seq("spark", "merge", "window")
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      val dl = docs
        .select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"))
        .materialize() // reused by stats + the per-doc join
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      val tk = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(terms: _*))
      val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = tk.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val idf = (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))
      val denom = col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))
      tf.join(broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (idf * (col("tf").cast("double") * lit(2.2)) / denom)
            .cast("decimal(28,12)").as("term_score"))
        .groupBy("doc_id")
        .agg(sum("term_score").cast("double").as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(25)
    }),

    // Gopher-style repetition/boilerplate signals: duplicate-token ratio,
    // top-token concentration, duplicate-2gram ratio. The 2-gram ratio is
    // a pure per-row expression (no shuffle); token stats are one
    // explode + two partial-aggregated groupBys on doc_id.
    "q54_repetition" -> ((s, dir) => {
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val g2 = transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ",
          element_at(col("toks"), i + 1), element_at(col("toks"), i + 2)))
      val gr = base.select(col("doc_id"),
        (lit(1.0) - size(array_distinct(g2)).cast("double") /
          size(g2).cast("double")).as("dup_2gram_ratio"))
      val tc = base.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val top = tc.groupBy("doc_id").agg(max("c").as("top_c"),
        sum("c").as("n_tok"), count(lit(1)).as("n_distinct"))
      top.join(gr, "doc_id")
        .select(col("doc_id"),
          (lit(1.0) - col("n_distinct").cast("double") /
            col("n_tok").cast("double")).as("dup_token_ratio"),
          (col("top_c").cast("double") / col("n_tok").cast("double"))
            .as("top_token_ratio"),
          col("dup_2gram_ratio"))
        .orderBy("doc_id")
    }),

    // Cross-doc contamination (the decontamination op of training
    // pipelines): per doc, the fraction of its distinct 3-gram shingles
    // that also occur in ANY other document. A gram with df = 1 has
    // exactly one owner doc, so shared = total − unique: ONE gram-keyed
    // shuffle computes df and owner together, and the exploded table is
    // never joined back (the df ≥ 2 formulation shuffles it twice).
    // State stays vocab-sized; the pair space is never materialized.
    "q56_contamination" -> ((s, dir) => {
      // NOTE: `d` feeds two join sides and is deliberately NOT
      // checkpointed — measured: materializing the exploded gram arrays
      // costs 3.4 s at sf0.1 where the second codegen'd scan+shingle
      // pass costs ~0.1 s. The q33/q34 checkpoint discipline applies to
      // the interpreted SIGNATURE passes, not to this cheap expression.
      val d = Tables.table(s, dir, "documents")
        .filter(TextFunctions.tokenCount(col("text")) >= 3)
        .select(col("doc_id"), TextFunctions.wordNgrams(col("text"), 3).as("grams"))
      val uniq = d.select(col("doc_id"), explode(col("grams")).as("g"))
        .groupBy("g")
        .agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
        .filter(col("df") === 1)
        .groupBy(col("owner").as("doc_id"))
        .agg(count(lit(1)).as("n_uniq"))
      val shared = col("n_grams") - coalesce(col("n_uniq"), lit(0L))
      d.select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"))
        .join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), shared.as("n_shared"),
          (shared.cast("double") / col("n_grams")).as("contamination"))
        .orderBy("doc_id")
    }),

    // Document chunking into overlapping token windows (the RAG /
    // context-window prep op): 32-token windows at stride 24. Pure
    // per-row generator expressions — posexplode of a computed start
    // sequence, sliced inside the scan stage; no shuffle at any scale.
    "q58_chunk_windows" -> ((s, dir) => {
      val chunk = 32; val stride = 24
      val win = slice(col("toks"), col("chunk_idx") * stride + 1, lit(chunk))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0L),
            floor((size(col("toks")) - 1) / lit(stride)).cast("long")))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx"),
          size(win).as("n_tok"),
          md5(concat_ws(" ", win).cast("binary")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Boilerplate phrase mining: recurring 4-gram phrases by document
    // frequency and source spread — the template/boilerplate detection
    // pass of corpus cleaning. One gram-keyed aggregate; state is
    // vocab-sized and the top-k is a TakeOrdered, never a full sort.
    "q59_boilerplate_phrases" -> ((s, dir) => {
      graft.functions.Signatures.ngramRows(
          Tables.table(s, dir, "documents")
            .filter(TextFunctions.tokenCount(col("text")) >= 4),
          "doc_id", "source", "text", 4)
        // rows are unique per (doc_id, g) — the shingle pass emits a
        // distinct set — so plain count is the document frequency and
        // only n_sources needs a distinct aggregate
        .groupBy("g")
        .agg(count(lit(1)).as("df"),
          countDistinct("source").as("n_sources"))
        .filter(col("df") >= 3)
        .orderBy(col("df").desc, col("g"))
        .limit(50)
    }),

    // Deterministic train/val/test split: md5(doc_id) mod 100 → 80/10/10.
    // Hash-based (not random) so the assignment is stable under
    // re-partitioning, appends, and re-runs — the property a training
    // pipeline needs for leakage-free splits. Scan-stage only.
    "q60_split_assign" -> ((s, dir) => {
      // THE 60-bit md5 hash (single definition — inlining the conv/
      // substring expression here would give the hash two homes that
      // could silently drift apart)
      val bucket = TextFunctions.md5Hash60(col("doc_id").cast("string")) % 100
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 80, lit("train"))
            .when(bucket < 90, lit("val"))
            .otherwise(lit("test")).as("split"))
        .orderBy("doc_id")
    }),

    // Sequence packing (contiguous fill): docs are packed into
    // 256-token context bins in doc_id order WITHIN each source shard —
    // bin = the budget-multiple its running token offset lands in. The
    // running offsets come from graft.operators.Packing's HIERARCHICAL
    // prefix sum (sub-shard windows + per-source offset stitch), so one
    // dominant source cannot serialize its whole prefix sum through a
    // single window task at 100 TB; the result is bit-identical to the
    // flat per-source window the oracle replays. span=4096 so even the
    // small gate data exercises the two-level path.
    "q61_pack_sequences" -> ((s, dir) => {
      val budget = 256
      graft.operators.Packing.runningOffsets(
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).as("n_tok")),
        "source", "doc_id", "n_tok", span = 4096L)
        .select(col("source"),
          floor((col("cum") - col("n_tok")) / lit(budget)).cast("long").as("bin"),
          col("n_tok"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").cast("bigint").as("tok_sum"))
        .select(col("source"), col("bin"), col("n_docs"), col("tok_sum"),
          (col("tok_sum").cast("double") / budget).as("fill"))
        .orderBy("source", "bin")
    }),

    // KMV (k-minimum-values) distinct sketch, k=16: per-source vocabulary
    // cardinality estimated from the k smallest md5 hash values — the
    // PORTABLE sketch (unlike HLL, every intermediate is reproducible in
    // SQL, so the oracle checks the estimator itself, not just rows).
    // The sketch is graft's custom `kmv_minima` TypedImperativeAggregate
    // (plans.KmvMinima): bounded k-long state, map-side partial
    // aggregation — the shuffle carries k longs per (partition, source)
    // where the oracle's row_number() formulation sorts every group.
    // One aggregate yields sketch AND exact count (the distinct
    // (source, token) frame is the oracle's stated semantics); plan
    // guard asserts no Window/Sort and a partial_kmv_minima stage.
    "q62_kmv_distinct" -> ((s, dir) => {
      val k = 16
      val hv = TextFunctions.md5Hash60(col("tok"))
      Tables.table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .withColumn("hv", hv)
        .groupBy("source")
        .agg(call_function("kmv_minima", col("hv"), lit(k)).as("minima"),
          count(lit(1)).as("exact_nd"))
        .select(col("source"),
          size(col("minima")).cast("bigint").as("n_seen"),
          element_at(col("minima"), -1).as("kth"),
          when(size(col("minima")) < k, size(col("minima")).cast("double"))
            .otherwise(lit(k - 1) *
              (lit((1L << 60) - 1).cast("double") / element_at(col("minima"), -1)))
            .as("est_nd"),
          col("exact_nd"))
        .orderBy("source")
    }),

    // Source-overlap monitoring via KMV sketch reuse: per-source token
    // sketches (k=64 minima) → pairwise Jaccard ESTIMATE from
    // |X ∩ A ∩ B| / |X| (X = k minima of the union), with the exact
    // Jaccard alongside. The sketch compare is O(sources² · k) on
    // k-long arrays — at 100 TB that replaces the vocab-sized pairwise
    // token join (the exact side here, feasible only because this
    // corpus's vocab is tiny) with driver-negligible sketch arithmetic.
    "q63_source_overlap" -> ((s, dir) => {
      val k = 64
      val hv = TextFunctions.md5Hash60(col("tok"))
      val toks = Tables.table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .distinct()
        .materialize() // one distinct pass feeds sketch, sizes, and exact join
      val sk = toks.withColumn("hv", hv).groupBy("source")
        .agg(call_function("kmv_minima", col("hv"), lit(k)).as("m"),
          count(lit(1)).as("n"))
      val pairs = sk.select(col("source").as("src_a"), col("m").as("ma"), col("n").as("na"))
        .join(sk.select(col("source").as("src_b"), col("m").as("mb"), col("n").as("nb")),
          col("src_a") < col("src_b"))
      val xs = slice(array_sort(array_union(col("ma"), col("mb"))), 1, k)
      val est = size(array_intersect(xs, array_intersect(col("ma"), col("mb"))))
        .cast("double") / size(xs)
      val inter = toks.select(col("source").as("src_a"), col("tok"))
        .join(toks.select(col("source").as("src_b"), col("tok")), "tok")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      pairs.join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .select(col("src_a"), col("src_b"), est.as("est_jacc"),
          (col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
            .as("exact_jacc"))
        .orderBy("src_a", "src_b")
    }),

    // Binary/multimodal plumbing: opaque bytes + typed metadata (decode
    // itself is stubbed — see graft.multimodal; here: byte stats/hashes).
    "q36_binary_meta" -> ((s, dir) => {
      val bin = col("text").cast("binary")
      // byte semantics on BOTH sides (length/hex over utf-8 BYTES, not
      // characters) so multi-byte text can't split Spark from the oracle
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          length(bin).as("byte_len"),
          sha2(bin, 256).as("sha"),
          lower(substring(hex(bin), 1, 16)).as("head8"))
        .orderBy("doc_id")
    }),

    // Perceptual MEDIA dedup through the real binary pipeline —
    // decode (PGM parse + WAV PCM parse), 63-bit pHash / audio
    // fingerprint with modality dispatch ([[Multimodal.mediaHash]]),
    // pigeonhole Hamming blocking, block-equi-join — oracle-gated via
    // the q147 generator trick lifted to binaries: payloads are
    // planted deterministically from doc_id ([[SyntheticMedia]]) such
    // that the expected pair set is doc_id arithmetic (same group ⇒
    // hash bit-identical BY CONSTRUCTION: k× pixel-duplicate upscales
    // box-average back to the same 32×32 plane; power-of-two PCM gains
    // scale Goertzel energies exactly), so the oracle needs no DCT in
    // SQL. Even groups are images, odd groups audio — the dispatch and
    // both decoders are load-bearing. Before this, the pHash/audio
    // pipeline was spec+probe-only (q36 gates only metadata decode).
    "q153_media_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.table(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.SyntheticMedia.mediaFor(id, 100))))
        .toDF("doc_id", "bytes")
      graft.multimodal.Multimodal.hammingPairs(
        graft.multimodal.Multimodal.mediaHashes(media, "doc_id", "bytes")
          .materialize(), // one decode pass, not one per join side
        maxHamming = 3)
        .orderBy("id1", "id2")
    }),

    // The 252-bit WIDE perceptual hash through the same oracle
    // discipline as q153 — the billion-image regime where the 63-bit
    // hash's birthday bound starts merging unrelated pairs
    // (`Probe scale media` measured one at 4M docs; 252 bits pushes the
    // bound to ~10⁻⁵³). Image-only planted payloads (every doc a k×
    // pixel-duplicated group base, k from doc_id): box-average
    // identity ⇒ group hashes bit-identical ⇒ the oracle is the same
    // doc_id%group arithmetic with hamming 0, no DCT in SQL. The wide
    // join exercises the 16×16-DCT hash, linear-bit-space blocks
    // (some spanning long boundaries) and the 4-long bit_count verify
    // at radius 16. WidePerceptualHashSpec proves the 100 group
    // hashes pairwise > 16 apart — the gate cannot flake.
    "q161_media_dedup_wide" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.table(s, dir, "documents")
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, graft.multimodal.SyntheticMedia.pgm(id % 100, 1 + (id % 3).toInt))))
        .toDF("doc_id", "bytes")
      graft.multimodal.Multimodal.hammingPairsWide(
        graft.multimodal.Multimodal.perceptualHashesWide(media, "doc_id", "bytes")
          .materialize(), // one decode pass, not one per join side
        maxHamming = 16)
        .orderBy("id1", "id2")
    }),

    // PII detection + redaction — a first-class training-data scrub
    // step. The synthetic corpus has no PII, so deterministic
    // email/phone strings are planted onto a doc subset first (the
    // planted set IS the ground truth, so detector counts are
    // verifiable, not vacuously zero). Detection counts and the
    // redacted text are pure per-row regex expressions in the scan
    // stage — no shuffle, no UDF; patterns avoid regex-dialect
    // divergence (no alternation/backrefs, so Java regex and RE2
    // leftmost-greedy match identically).
    "q68_pii_redact" -> ((s, dir) => {
      val emailPat = "[a-z0-9._]+@[a-z0-9.]+[.][a-z]+"
      val phonePat = "[0-9]{3}-[0-9]{4}"
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("aug"), lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("aug"), lit(phonePat), lit(0))).as("n_phones"),
          regexp_replace(regexp_replace(col("aug"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),

    // Count-min frequency sketch (d=4, w=512) probed at the exact
    // top-10 tokens. Like the KMV sketch (q62), the hashes are
    // md5-derived so the ORACLE REPRODUCES THE ESTIMATOR — the check
    // verifies est ≥ exact collision behavior bit-for-bit, not just
    // row counts. Counter cells are sums, so the sketch is
    // partitioning-invariant and map-side combinable: at 100 TB each
    // partition contributes d×w=2048 counters to the shuffle
    // regardless of corpus size, and the probe joins the 2048-row
    // sketch broadcast.
    "q70_countmin_freq" -> ((s, dir) => {
      val W = 512
      def bucket(j: Column, tok: Column): Column =
        pmod(TextFunctions.md5Hash60(concat(j.cast("string"), tok)), lit(W))
      val js = (0 until 4).map(lit(_))
      // NOT pinned, deliberately (r11 A/B): the exploded token frame is
      // LARGER than the text it derives from, and the ×10 isolated
      // steady state measured the pin at +0.44 s warm (1.39→1.83) —
      // block-manager write+read of 31M token rows costs more than the
      // second codegen'd split pass. q101 pins the same frame because
      // it reads it THREE times (sketch + distinct + exact verify);
      // two reads don't amortize the copy.
      val toks = Tables.table(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = toks
        .select(explode(array(js.map(j =>
          struct(j.as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("c"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(10)
      top
        .select(col("tok"), col("exact_n"), explode(array(js.map(j =>
          struct(j.as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
        .select(col("tok"), col("exact_n"), col("jb.j").as("j"), col("jb.b").as("b"))
        .join(broadcast(sketch), Seq("j", "b"))
        .groupBy("tok", "exact_n")
        .agg(min("c").as("est_n"))
        .orderBy(col("exact_n").desc, col("tok"))
    }),

    // Sketch-then-verify heavy hitters — the streaming-frequent-items
    // pattern q70's sketch exists FOR: the CMS prunes the candidate set
    // (no false negatives — est ≥ true count always), and exact
    // counting runs ONLY on the pruned candidates via a broadcast
    // semi-join, so the token stream is never grouped by full vocab.
    // At 100 TB the sketch is 2048 counters per partition map-side and
    // candidates are support-bounded (≤ 1/support items can exceed the
    // threshold), so the verify join-back stays broadcast-sized no
    // matter the corpus. Output: candidate tokens with est + exact and
    // the is_heavy verdict (false = a CMS collision the verify killed).
    "q101_heavy_hitters" -> ((s, dir) => {
      val W = 512
      def bucket(j: Column, tok: Column): Column =
        pmod(TextFunctions.md5Hash60(concat(j.cast("string"), tok)), lit(W))
      val js = (0 until 4).map(lit(_))
      val toks = Tables.table(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .materialize() // sketch pass + verify pass, one tokenize
      val sketch = toks
        .select(explode(array(js.map(j =>
          struct(j.as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
        .agg(count(lit(1)).as("c"))
      val thr = toks.agg(expr("count(1) div 30").as("thr")) // support ~3.3%
      val est = toks.select(col("tok")).distinct()
        .select(col("tok"), explode(array(js.map(j =>
          struct(j.as("j"), bucket(j, col("tok")).as("b"))): _*)).as("jb"))
        .select(col("tok"), col("jb.j").as("j"), col("jb.b").as("b"))
        .join(broadcast(sketch), Seq("j", "b"))
        .groupBy("tok").agg(min("c").as("est_n"))
      val cands = est.crossJoin(broadcast(thr))
        .filter(col("est_n") >= col("thr"))
      val exact = toks.join(broadcast(cands.select("tok")), Seq("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_n"))
      cands.join(exact, Seq("tok"))
        .select(col("tok"), col("est_n"), col("exact_n"), col("thr"),
          (col("exact_n") >= col("thr")).as("is_heavy"))
        .orderBy("tok")
    }),

    // HyperLogLog distinct-shingle sketch per source (Flajolet et al.
    // 2007) — the fixed-size (m=64 registers) companion to q62's KMV:
    // bucket = low 6 bits of the md5-60 hash, rho = leading-zero rank
    // of the remaining 54 bits. The whole sketch is two ordinary
    // aggregations — (source, bucket) → max(rho), then source → the
    // harmonic register sum — so map-side partial aggregation does the
    // sketching and each source costs 64 registers of state regardless
    // of corpus size; at 100 TB this is the per-partition-mergeable
    // shape (registers merge by max — spec'd). The register sum is
    // carried as the EXACT integer Σ 2^(55-M_j) (≤ 64·2^55 < 2^63, so
    // BIGINT — no float harmonic sum to drift), and the only double op
    // is one literal/sum division, rounded at 9 dp. No ln anywhere:
    // 3-shingle cardinality (~1k/source) sits far above the 2.5m
    // linear-counting regime, and zero_regs is emitted so a caller can
    // see when that regime would apply.
    "q102_hll_distinct" -> ((s, dir) => {
      val w = shiftright(col("hv"), 6)
      val sh = Tables.table(s, dir, "documents")
        .select(col("source"),
          explode(TextFunctions.wordNgrams(col("text"), 3)).as("shingle"))
        .distinct()
        .withColumn("hv", TextFunctions.md5Hash60(col("shingle")))
      sh.select(col("source"), pmod(col("hv"), lit(64L)).as("bucket"),
          when(w === 0, lit(55)).otherwise(lit(55) - length(bin(w))).as("rho"))
        .groupBy("source", "bucket")
        .agg(max("rho").as("m"), count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg((lit(64L) - count(lit(1))).as("zero_regs"),
          (sum(expr("shiftleft(cast(1 as bigint), cast(55 - m as int))")) +
            (lit(64L) - count(lit(1))) * lit(1L << 55)).as("reg_sum"),
          sum("cnt").as("exact_nd"))
        .select(col("source"), col("zero_regs"), col("reg_sum"),
          round(lit(1.0462993238608057e20) / col("reg_sum"), 9).as("est_nd"),
          col("exact_nd"))
        .orderBy("source")
    }),

    // Distributed model training under the oracle gate: a linear probe
    // (hashed 16-bucket token histogram → n_chars) trained by TWO full-
    // batch gradient-descent steps — the quality-classifier training
    // shape (fastText/DSIR-style hashed features, closed-form-free).
    // Each GD step is one map-side-combined aggregation over corpus-
    // sized feature rows; the driver holds only w (16 doubles), exactly
    // the q77/q93 Lloyd posture. Determinism: step 1's gradient is an
    // exact integer Σ x·y; step 2's Σ x·r is decimal-cast per row
    // (order-free exact sum); per-doc dot products fold in ascending
    // bucket order on both engines. The DuckDB oracle replays both
    // steps as chained CTEs — the sixth first-try iterative-numeric
    // replay family (GD joins Lloyd, power iteration, ADC).
    "q103_linear_probe" -> ((s, dir) => {
      val d = 16
      val eta = 0.002
      val feats = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), col("n_chars"),
          pmod(TextFunctions.md5Hash60(col("tok")), lit(d.toLong)).as("bucket"))
        .groupBy("doc_id", "n_chars", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .materialize() // one tokenize feeds Sxy, the residual pass, scoring
      val n = Tables.table(s, dir, "documents").count()
      val sxy = feats.groupBy("bucket")
        .agg(sum(col("cnt") * col("n_chars")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val w1 = Array.tabulate(d)(j => eta * (sxy.getOrElse(j.toLong, 0L).toDouble / n))
      def dotW(w: Array[Double]): Column = {
        val wl = array(w.map(lit(_)): _*)
        aggregate(array_sort(col("xs")), lit(0.0), (acc, e) =>
          acc + e.getField("cnt").cast("double") *
            element_at(wl, e.getField("bucket").cast("int") + 1))
      }
      val rows = feats.groupBy("doc_id", "n_chars")
        .agg(collect_list(struct(col("bucket"), col("cnt"))).as("xs"))
        .materialize() // residual pass + final scoring
      val g2 = rows.withColumn("r", dotW(w1) - col("n_chars"))
        .select(explode(col("xs")).as("e"), col("r"))
        .groupBy(col("e.bucket").as("bucket"))
        .agg(sum((col("e.cnt").cast("double") * col("r"))
          .cast(org.apache.spark.sql.types.DecimalType(25, 9))).as("g"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      val w2 = Array.tabulate(d) { j =>
        w1(j) - eta * (g2.get(j.toLong).map(_.doubleValue).getOrElse(0.0) / n)
      }
      rows.select(col("doc_id"), dotW(w2).as("pred"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint selection (Schleimer et al. 2003 — the MOSS
    // algorithm): per doc, min-hash of each sliding 8-gram-hash window
    // (leftmost tie), guaranteeing any ≥ 11-token verbatim overlap
    // between docs shares a fingerprint at ~2/(w+1) of q80's full
    // positioned-gram density. Selection is document-LOCAL, so the
    // typed generator does it in the scan stage with zero shuffle —
    // the declarative form would explode every gram into w window rows
    // and shuffle an 8× gram stream (see Signatures.winnowRows). The
    // oracle pays that 8× explode to replay selection as window-grouped
    // struct minima — same semantics, independent mechanics.
    "q104_winnow_fingerprints" -> ((s, dir) => {
      graft.functions.Signatures.winnowRows(
          Tables.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "pos")
    }),

    // Winnowing overlap detection — the MOSS use-case end-to-end:
    // q104's fingerprints (≈ 2/(w+1) of the gram density), distinct per
    // doc, df-bounded (2..50 — drops boilerplate fingerprints shared
    // corpus-wide, exactly q56's df-cap rationale), then ONE
    // fingerprint-keyed equi-join → pairs with ≥3 shared fingerprints
    // and fingerprint-containment. vs q33's full-gram Jaccard join this
    // carries ~22% of the rows through the shuffle with the same
    // shared-run guarantee; the df cap bounds any fingerprint's join
    // fan-out at 50² regardless of corpus size.
    "q105_winnow_overlap" -> ((s, dir) => {
      val fp = graft.functions.Signatures.winnowRows(
          Tables.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("hv")).distinct()
        .materialize() // feeds the df cap, per-doc sizes, and the pair join
      val keep = fp.groupBy("hv").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 50).select("hv")
      val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      val capped = fp.join(keep, Seq("hv"), "left_semi")
      val pairs = capped.select(col("hv"), col("doc_id").as("doc_a"))
        .join(capped.select(col("hv"), col("doc_id").as("doc_b")), "hv")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      pairs
        .join(sz.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
        .join(sz.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            least(col("nfp_a"), col("nfp_b")), 9).as("containment"))
        .orderBy("doc_a", "doc_b")
    }),

    // Skip-gram co-occurrence (window ≤ 2) with a rational PMI-style
    // lift — the word2vec/phrase-mining preprocessing shape. Pairs come
    // from a typed one-pass-per-doc generator (Signatures.skipGramRows;
    // the HOF-transform route re-splits text per element_at in an
    // interpreted lambda — measured 5.4× slower) — never a positional
    // self-join over an exploded table, which would shuffle tokens
    // twice. Unigram stats broadcast to the pair aggregate. Lift is
    // division-ordered identically to the oracle, no logarithms (ln
    // differs across libm implementations).
    "q71_cooccurrence" -> ((s, dir) => {
      val t = TextFunctions.tokens(col("text"))
      val d = Tables.table(s, dir, "documents")
        .filter(size(t) >= 3)
      val prs = graft.functions.Signatures.skipGramRows(d, "text", 2)
      val tk = d.select(explode(t).as("tok"))
      val uni = tk.groupBy("tok").agg(count(lit(1)).as("n"))
      val nn = tk.agg(count(lit(1)).as("nn"))
      val tt = prs.agg(count(lit(1)).as("tt"))
      prs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        .join(broadcast(uni.select(col("tok").as("a"), col("n").as("n_a"))), "a")
        .join(broadcast(uni.select(col("tok").as("b"), col("n").as("n_b"))), "b")
        .crossJoin(broadcast(nn)).crossJoin(broadcast(tt))
        .withColumn("lift",
          (col("n_ab").cast("double") / col("tt").cast("double")) /
            ((col("n_a").cast("double") / col("nn").cast("double")) *
              (col("n_b").cast("double") / col("nn").cast("double"))))
        .orderBy(col("n_ab").desc, col("a"), col("b")).limit(50)
        .select("a", "b", "n_ab", "n_a", "n_b", "lift")
    }),

    // Temperature-weighted source mixture (T=2) — the data-mixing step
    // of a training pipeline: source s contributes ⌊K·√n_s / Σ√n⌋ docs,
    // flattening the natural size skew (up-samples small sources
    // relative to proportional mixing). √ because sqrt is
    // correctly-rounded IEEE in both engines where pow(x, 1/T) is not;
    // per-source weights go through decimal so the Σ is
    // order-independent. Selection within a source is the md5-rank
    // deterministic sample (the q44/q55 posture: portable, seedless,
    // stable under repartition); quotas broadcast to the rank filter.
    "q72_mixture_sample" -> ((s, dir) => {
      val K = 200
      val d = Tables.table(s, dir, "documents")
      val w = d.groupBy("source")
        .agg(count(lit(1)).as("n"))
        .withColumn("w", sqrt(col("n").cast("double")).cast(org.apache.spark.sql.types.DecimalType(38, 10)))
      val tot = w.agg(sum("w").as("tot"))
      val quota = w.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          floor(lit(K) * col("w").cast("double") / col("tot").cast("double"))
            .cast("long").as("quota"))
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
      d.select(col("doc_id"), col("source"))
        .withColumn("rn", rn.cast("long"))
        .join(broadcast(quota), Seq("source"))
        .filter(col("rn") <= col("quota"))
        .select("source", "doc_id", "rn", "n", "quota")
        .orderBy("source", "rn")
    }),

    // Bigram-LM improbability scoring — the CCNet/KenLM-style "filter
    // documents a corpus LM finds surprising" quality gate, made
    // engine-portable: a Laplace-smoothed bigram model
    // p(b|a) = (c(ab)+1)/(c(a)+V) is trained on the corpus itself, and
    // each doc is scored by its RARE-BIGRAM fraction (p below 1/100)
    // and minimum p — never an averaged log-likelihood, because Σ of
    // doubles is summation-order-dependent and ln() differs across libm
    // builds, while each p here is ONE correctly-rounded IEEE division
    // and count/min are order-independent. Shapes: per-doc bigram
    // multiset collapses first (groupBy doc,a,b), the model table
    // derives from that same frame (no second corpus pass) and carries
    // its own context totals via a model-sized window on (a) — NOT a
    // broadcast: first-token cardinality is vocab-sized and unbounded
    // for whitespace-tokenized web text. At 100 TB the score join
    // shuffles both sides on the bigram key once; only the 1-row vocab
    // scalar broadcasts.
    "q75_bigram_lm" -> ((s, dir) => {
      val bg = graft.functions.Signatures.skipGramRowsById(
        Tables.table(s, dir, "documents"), "doc_id", "text", 1)
        .materialize() // one tokenize pass feeds doc counts AND model
      val docBg = bg.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n_inst"))
      val model = docBg.groupBy("a", "b").agg(sum("n_inst").as("c_ab"))
        .withColumn("c_a", sum("c_ab").over(
          org.apache.spark.sql.expressions.Window.partitionBy("a")))
      val vocab = Tables.table(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(countDistinct("tok").as("v"))
      val p = (col("c_ab") + 1).cast("double") /
        (col("c_a") + col("v")).cast("double")
      docBg
        .join(model, Seq("a", "b"))
        .crossJoin(broadcast(vocab))
        .withColumn("p", p)
        .groupBy("doc_id")
        .agg(sum("n_inst").cast("bigint").as("n_bigrams"),
          sum(when(col("p") < 0.01, col("n_inst")).otherwise(lit(0L)))
            .cast("bigint").as("n_rare"),
          min("p").as("min_p"))
        .withColumn("rare_ratio",
          col("n_rare").cast("double") / col("n_bigrams").cast("double"))
        .orderBy("doc_id")
    }),

    // Reference-model quality filter (the cross-corpus twin of q75's
    // self-scored LM): train a bigram model on the REFERENCE subset (a
    // curated sample — here the md5-free deterministic 1-in-5 of the
    // 'en' docs, standing in for the "known-good corpus" slot), score
    // EVERY doc by the fraction of its bigram instances unseen in that
    // model, and emit a keep flag at OOV ≤ 0.15. Scale shape: the model
    // is reference-corpus-sized (NOT broadcastable at 100 TB), so the
    // score is one equi-join on the (a,b) bigram key with both sides
    // partitioned by it; the tokenize pass is shared between model and
    // doc counts via one checkpoint. Single-token docs have no bigrams
    // and drop out of both engines identically.
    "q79_lm_filter" -> ((s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val bg = graft.functions.Signatures.skipGramRowsById(
        docs, "doc_id", "text", 1)
        .materialize() // one tokenize pass feeds model AND doc counts
      val refIds = docs
        .filter(col("lang") === "en" && col("doc_id") % 5 === 0)
        .select("doc_id")
      val model = bg.join(refIds, Seq("doc_id"))
        .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      val docBg = bg.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n_inst"))
      val ratio = col("n_oov").cast("double") / col("n_bigrams").cast("double")
      docBg.join(model, Seq("a", "b"), "left")
        .groupBy("doc_id")
        .agg(sum("n_inst").cast("bigint").as("n_bigrams"),
          sum(when(col("c_ab").isNull, col("n_inst")).otherwise(lit(0L)))
            .cast("bigint").as("n_oov"))
        .withColumn("oov_ratio", ratio)
        .withColumn("keep", when(ratio <= 0.15, lit(1)).otherwise(lit(0)))
        .orderBy("doc_id")
    }),

    // Exact substring-span dedup: per document, the MAXIMAL token spans
    // (≥ 8 tokens) that also occur verbatim in at least one OTHER
    // document — the span-level exact-dedup operator (trim repeated
    // licence headers / navigation chrome from otherwise-unique docs),
    // complementing q28's whole-doc and q34/q35's near-whole-doc forms.
    // Shape: one positioned 8-gram pass; grams occurring in ≥2 distinct
    // docs (one gram-keyed groupBy) semi-join back (same key); adjacent
    // shared positions merge into maximal spans with gaps-and-islands
    // (pos − row_number per doc). Every stage is linear in the gram
    // count and keyed by gram or doc — nothing is pairwise, so span
    // detection costs the same whether a header is shared by 2 docs or
    // 2 million.
    "q80_shared_spans" -> ((s, dir) => {
      val n = 8
      // both the shared-set aggregate and the join-back key on md5(gram),
      // never the raw string: the gram table is token-count-sized, so at
      // corpus scale the two gram-keyed shuffles carry ~16-byte digests
      // instead of ~70-byte 8-gram strings (~4× narrower); the oracle
      // computes the identical md5 keys, so even the 2^-128 collision
      // case cannot split the engines
      val g = graft.functions.Signatures.ngramPosRows(
          Tables.table(s, dir, "documents"), "doc_id", "text", n)
        .withColumn("k", md5(col("g"))).drop("g")
        .materialize() // one tokenize pass feeds shared set AND span scan
      // "≥ 2 distinct docs" as min≠max — a plain partial-aggregable
      // min/max pair instead of countDistinct's two-phase expansion
      val shared = g.groupBy("k")
        .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
        .filter(col("d0") =!= col("d1"))
        .select("k")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      g.join(shared, Seq("k"), "left_semi")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(min("pos").as("span_start"),
          (max("pos") + lit(n - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("span_len"))
        .orderBy("doc_id", "span_start")
    }),

    // Bloom-prefiltered decontamination: the held-out set's 3-grams are
    // folded into Spark's runtime-filter Bloom sketch (bloom_agg — one
    // distributed pass, the driver holds only the ~100 kB sketch), the
    // sketch ships to the train side as a binary literal, and
    // bloom_might_contain filters the exploded train grams IN THE SCAN
    // STAGE, before their shuffle. The exact left-semi verify join then
    // kills the sketch's false positives, so the result is exact and the
    // oracle is the plain semi-join. At 100 TB this is the shape that
    // matters: a benchmark/blocklist gram set too big to broadcast raw
    // (tens of GB of strings) still fits as a Bloom sketch at ~1.2 bytes
    // per gram, and only fpp·|train grams| + true hits reach the
    // verify-join exchange instead of every gram in the corpus.
    "q82_bloom_decontaminate" -> ((s, dir) => {
      val minToks = TextFunctions.tokenCount(col("text")) >= 3
      val docs = Tables.table(s, dir, "documents").filter(minToks)
      val testGrams = docs.filter(col("doc_id") % 10 === 0)
        .select(explode(TextFunctions.wordNgrams(col("text"), 3)).as("g"))
        .distinct()
      val sketch = testGrams
        .agg(call_function("bloom_agg", xxhash64(col("g")),
          lit(100000L), lit(1000000L)))
        .head.getAs[Array[Byte]](0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          TextFunctions.wordNgrams(col("text"), 3).as("grams"))
      val hits = train.select(col("doc_id"), explode(col("grams")).as("g"))
        .filter(call_function("bloom_might_contain",
          lit(sketch), xxhash64(col("g"))))
        .join(testGrams, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      val nh = coalesce(col("n_hit"), lit(0L))
      train.select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), nh.as("n_hit"),
          (nh.cast("double") / col("n_grams")).as("contamination"))
        .orderBy("doc_id")
    }),

    // Deterministic training order: every doc gets a (shard, pos) from a
    // salted md5 — stable under re-partitioning, appends, and re-runs,
    // which is what makes a training run resumable and a data order
    // auditable. One hash-partitioned shuffle on `shard`; the position
    // is a per-shard sort, never a global one — at 100 TB shards map to
    // output files and each sorts independently.
    "q83_shuffle_shard" -> ((s, dir) => {
      val hv = TextFunctions.md5Hash60(
        concat(lit("shuf42:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("hv", "doc_id")
      Tables.table(s, dir, "documents")
        .select(col("doc_id"), hv.as("hv"))
        .withColumn("shard", (col("hv") % 8).cast("int"))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // BPE merge mining (vocab induction, one round): adjacent sub-token
    // pair frequencies over the BPE-ish tokenizer ([[TextFunctions
    // .subTokens]] — whitespace + letter/digit boundaries), top 50 merge
    // candidates. Pair generation is a pure scan-stage HOF; the single
    // shuffle is vocab²-bounded (not corpus-bounded) with map-side
    // partials, and the top-k is a TakeOrdered — at 100 TB the exchange
    // carries distinct-pair partials, never the token stream.
    "q85_bpe_merges" -> ((s, dir) => {
      val pairs = transform(sequence(lit(0), size(col("t")) - 2),
        i => concat(element_at(col("t"), i + 1), lit(" "),
          element_at(col("t"), i + 2)))
      Tables.table(s, dir, "documents")
        .select(TextFunctions.subTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(pairs).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    }),

    // Hashed tf-idf features (the hashing trick): feature index =
    // md5-hash of the token mod D, so the feature space is bounded at D
    // with NO vocabulary table and no vocab join — the trick that makes
    // featurization one pass at any corpus size. tf aggregates on
    // (doc, idx); df falls out of the tf rows (already distinct per
    // doc); the D-row df table joins back broadcast. The weight keeps
    // idf rational (tf·N/df, one multiply + one divide, no ln) so both
    // engines compute bit-identical doubles.
    "q86_feature_hash" -> ((s, dir) => {
      val dBuckets = 1024
      val docs = Tables.table(s, dir, "documents")
      val nDocs = docs.count()
      val tf = docs
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (TextFunctions.md5Hash60(col("tok")) % dBuckets).cast("int").as("idx"))
        .groupBy("doc_id", "idx").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("idx").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfT), Seq("idx"))
        .select(col("doc_id"), col("idx"), col("tf"), col("df"),
          (col("tf").cast("double") * lit(nDocs) / col("df")).as("weight"))
        .orderBy("doc_id", "idx")
    }),

    // Source-level quality gating (the domain/host filtering pass of
    // corpus cleaning): per-doc stopword evidence rolls up to the source,
    // and a doc survives only if its SOURCE's pooled stopword ratio
    // clears the bar — a doc-level ratio is too noisy on short docs, the
    // pooled one is not. Integer sums keep the aggregate order-free; the
    // source table is domains-sized, so the join back is a broadcast —
    // the corpus never shuffles.
    "q84_source_gate" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.wordSetCount(toks, STOPWORDS).cast("bigint").as("n_stop"),
          size(toks).cast("bigint").as("n_toks"))
      val src = d.groupBy("source")
        .agg(sum("n_stop").as("s_stop"), sum("n_toks").as("s_toks"))
      val ratio = col("s_stop").cast("double") / col("s_toks").cast("double")
      d.join(broadcast(src), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_stop"), col("n_toks"),
          ratio.as("src_ratio"), (ratio >= 0.05).as("kept"))
        .orderBy("doc_id")
    }),

    // Segment-level exact dedup (the CCNet paragraph-dedup shape,
    // arXiv:1911.00359): documents split into fixed 10-token segments,
    // each segment keyed by its md5 digest (the q80 narrow-shuffle
    // trick), and only the FIRST occurrence corpus-wide survives —
    // keep-first by (doc_id, seg_idx) — so boilerplate shared across
    // documents is stored once. Differs from q80 (unanchored shared
    // 8-gram spans, detect-only) in granularity and rule: fixed
    // boundaries, global keep-first, and the output is the per-doc
    // surviving token mass. Two shuffles at any scale: one digest-keyed
    // window over narrow (digest, doc, idx) rows, one doc-keyed rollup.
    "q90_segment_dedup" -> ((s, dir) => {
      val segLen = 10
      val segs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(0), floor((size(col("t")) - 1) / segLen).cast("int")),
            i => slice(col("t"), i * segLen + 1, lit(segLen))))
          .as(Seq("seg_idx", "seg")))
        .select(col("doc_id"), col("seg_idx"),
          md5(concat_ws(" ", col("seg")).cast("binary")).as("k"),
          size(col("seg")).cast("bigint").as("seg_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("doc_id", "seg_idx")
      segs.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_segs"),
          sum(when(col("rn") === 1, 1).otherwise(0)).cast("int").as("n_kept"),
          sum(when(col("rn") === 1, col("seg_toks")).otherwise(0L))
            .as("kept_toks"))
        .orderBy("doc_id")
    }),

    // DSIR-flavored importance weighting (arXiv:2302.03169 shape):
    // hashed-bigram features (q86's hashing trick — a 1024-bucket space,
    // no vocabulary), per-bucket document frequencies under the TARGET
    // distribution (lang = 'en') and the RAW corpus, and a per-doc
    // importance score = Σ target-df / Σ raw-df over the doc's buckets —
    // the log-ratio replaced by one rational division so both engines
    // compute bit-identical doubles (integer sums, one divide). Top-100
    // selection is a TakeOrdered. Scale shape: in-doc dedup happens in
    // the SCAN stage (array_distinct over the hashed array — there is no
    // corpus-sized distinct), the df aggregate map-side-combines into
    // 1024 groups, and the learned model is two 1024-long literal arrays
    // the driver holds (the q88 axes-sized-state discipline) — so
    // scoring is a second scan-stage fold over the checkpointed bucket
    // arrays and NOTHING corpus-sized ever crosses an exchange.
    "q91_dsir_importance" -> ((s, dir) => {
      val dBuckets = 1024
      // token array MATERIALIZED before the indexing HOF (q85's shape):
      // HOF lambdas run interpreted, so an inline tokens(text) under
      // element_at re-splits per element — measured 5× on this pass
      val idxs = array_distinct(transform(
        sequence(lit(0), size(col("t")) - 2),
        i => (TextFunctions.md5Hash60(
          concat(element_at(col("t"), i + 1), lit(" "),
            element_at(col("t"), i + 2))) % dBuckets).cast("int")))
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("lang"), idxs.as("idxs"))
        .materialize() // ONE md5 pass feeds the df model AND scoring
      val dfRows = docs.select(col("lang"), explode(col("idxs")).as("idx"))
        .groupBy("idx").agg(count(lit(1)).as("r_b"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
        .collect()
      val tArr = Array.fill(dBuckets)(0L)
      val rArr = Array.fill(dBuckets)(0L)
      dfRows.foreach { r =>
        val i = r.getInt(0); rArr(i) = r.getLong(1); tArr(i) = r.getLong(2)
      }
      val tLit = typedlit(tArr.toSeq)
      val rLit = typedlit(rArr.toSeq)
      docs.select(col("doc_id"),
          aggregate(col("idxs"), lit(0L),
            (a, x) => a + element_at(tLit, x + 1)).as("s_t"),
          aggregate(col("idxs"), lit(0L),
            (a, x) => a + element_at(rLit, x + 1)).as("s_r"))
        .select(col("doc_id"), col("s_t"), col("s_r"),
          (col("s_t").cast("double") / col("s_r")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
    }),

    // Gopher-style rule filter (arXiv:2112.11446 Table A1 shape): the
    // composite document-quality gate — token-count bounds, mean-word-
    // length bounds, minimum stopword evidence, and a most-repeated-token
    // dominance cap — each rule published as its own flag plus the
    // conjunction. Every comparison is integer cross-multiplied (word
    // chars = chars minus separators; dominance = max_rep·8 ≤ n_toks) so
    // no double ever forms. Pure scan-stage at any corpus size: no
    // shuffle, no join, codegen-friendly HOFs only; the per-doc
    // distinct-token recount is O(len²) in the doc, not the corpus.
    "q92_gopher_rules" -> ((s, dir) => {
      // the struct materializes ONCE per row in the first projection;
      // the field fan-out below reads attributes, never re-evaluates
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.gopherFlags(col("text"), STOPWORDS).as("f"))
        .select(col("doc_id"), col("f.n_toks"), col("f.len_chars"),
          col("f.n_stop"), col("f.max_rep"), col("f.len_ok"),
          col("f.wlen_ok"), col("f.stop_ok"), col("f.rep_ok"))
        .withColumn("kept",
          col("len_ok") && col("wlen_ok") && col("stop_ok") && col("rep_ok"))
        .orderBy("doc_id")
    }),

    // Classifier evaluation: EXACT tied-rank Mann–Whitney AUC of a
    // quality score (per-mille stopword rate, integer) predicting
    // lang='en'. The standard rank-sum form windows over EVERY row; this
    // aggregates per DISTINCT score first — n1/n0 counts per score, then
    // the tie-aware identity 2U = Σ_s n1(s)·(2·N0(<s) + n0(s)) over the
    // score-sized table — so the corpus contributes one scan + one
    // score-keyed aggregate, and the window runs over ~1000 rows at any
    // corpus size. All-integer until the single final division, so the
    // oracle matches bit-for-bit (ties included, where a double midrank
    // replay could drift).
    "q117_score_auc" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val perScore = Tables.table(s, dir, "documents")
        .select(
          floor(TextFunctions.wordSetCount(toks, STOPWORDS).cast("double")
            * 1000.0 / size(toks).cast("double")).cast("long").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("score")
        .agg(sum(col("pos")).as("n1"), sum(lit(1L) - col("pos")).as("n0"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("score").rowsBetween(Long.MinValue, -1)
      perScore
        .withColumn("below0", coalesce(sum("n0").over(w), lit(0L)))
        .agg(
          sum(col("n1") * (lit(2L) * col("below0") + col("n0"))).as("u_times_2"),
          sum("n1").as("n_pos"), sum("n0").as("n_neg"))
        .select(col("u_times_2"), col("n_pos"), col("n_neg"),
          (col("u_times_2").cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
    }),

    // Inter-classifier agreement: Cohen's kappa between two independent
    // heuristic labelers (q31's marker-ratio language-ID vs a
    // stopword-evidence gate) — the eval every weak-supervision pipeline
    // runs before trusting agreement-filtered labels. One scan to a 2×2
    // confusion matrix (map-side combined), then
    // κ = (N·Σagree − Σ rowᵢ·colᵢ) / (N² − Σ rowᵢ·colᵢ): the standard
    // (po−pe)/(1−pe) cleared of fractions so everything is INTEGER until
    // one final division — hash-exact with no rounding discipline.
    "q119_cohens_kappa" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      val cells = Tables.table(s, dir, "documents")
        .select(
          (TextFunctions.langScore(col("text"), Seq("the", "a")) >= 0.05)
            .cast("long").as("a"),
          (TextFunctions.wordSetCount(toks, STOPWORDS) >= lit(2))
            .cast("long").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .agg(
          sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("agree"),
          sum(when(col("a") === 1L, col("n")).otherwise(0L)).as("a1"),
          sum(when(col("b") === 1L, col("n")).otherwise(0L)).as("b1"),
          sum(col("n")).as("nn"))
      cells.select(col("agree"), col("a1"), col("b1"), col("nn"),
        ((col("nn") * col("agree")
          - (col("a1") * col("b1")
            + (col("nn") - col("a1")) * (col("nn") - col("b1")))).cast("double")
          / (col("nn") * col("nn")
            - (col("a1") * col("b1")
              + (col("nn") - col("a1")) * (col("nn") - col("b1"))))
            .cast("double")).as("kappa"))
    }),

    // Exact-rank winsorization: clamp each doc's token count at its
    // SOURCE's empirical p95 — outlier taming before length-based
    // curation stats. The cutoff is the value at rank ceil(0.95·n)
    // (type-1 quantile, no interpolation → stays integer/hash-exact),
    // selected WITHOUT windowing the corpus: token counts are a small
    // domain, so the corpus contributes one (source, n_toks) count
    // aggregate (map-side combined) and the rank is found by cumulative
    // counts over that domain-sized table — the q117 trick. A naive
    // row_number window (the oracle's spelling) sorts the whole corpus
    // in #sources tasks, a 100 TB non-starter with 5 sources. The clamp
    // join back is a broadcast of the domains-sized cutoff table.
    "q120_winsorize" -> ((s, dir) => {
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      val counts = base.groupBy("source", "n_toks")
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("n_toks")
      val totals = org.apache.spark.sql.expressions.Window.partitionBy("source")
      val cutoffs = counts
        .withColumn("cum", sum("c").over(w))
        .withColumn("r", ceil(sum("c").over(totals) * 0.95).cast("long"))
        // the rank-r value is the first n_toks whose cumulative count
        // reaches r — identical to the row_number selection, ties included
        .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
        .select(col("source"), col("n_toks").as("p95"))
      base.join(broadcast(cutoffs), "source")
        .select(col("doc_id"), col("source"), col("n_toks"), col("p95"),
          least(col("n_toks"), col("p95")).as("clamped"))
        .orderBy("doc_id")
    }),

    // Charset-diversity quality gate: exact per-document byte-collision
    // probability Σc²/n² (Rényi-2 / Simpson index) and distinct-byte
    // count, via the codegen'd [[graft.plans.CharSqSum]] /
    // [[graft.plans.CharDistinct]] kernels — one histogram pass per row
    // inside whole-stage codegen, where the built-in spelling is an
    // O(distinct·len) CodegenFallback HOF pipeline. A doc passes when its
    // bytes are diverse (≥20 distinct) AND un-repetitious (collision
    // prob ≤ 0.08 — log-free; ln differs across libm builds so Shannon
    // entropy cannot be oracle-gated, q75's rationale). Everything is
    // integer until two final IEEE divisions → hash-exact. The corpus is
    // ASCII so DuckDB's character-level replay matches byte semantics.
    // Reference analog: pre-parse QC gates (`utils/publish.py:499-539`)
    // generalized to corpus curation. Scan-stage shape: no shuffle at
    // all but the output sort — at 100 TB this is a pure map gate.
    "q121_charset_gate" -> ((s, dir) => {
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_bytes"),
          call_function("char_sq_sum", col("text")).as("sq_sum"),
          call_function("char_distinct", col("text")).as("n_distinct"))
        .select(col("doc_id"), col("n_bytes"), col("sq_sum"), col("n_distinct"),
          (col("sq_sum").cast("double")
            / (col("n_bytes") * col("n_bytes")).cast("double"))
            .as("collision_prob"),
          ((col("n_bytes") * col("n_bytes")).cast("double")
            / col("sq_sum").cast("double")).as("eff_alphabet"))
        .withColumn("pass_gate",
          col("n_distinct") >= 20L && col("collision_prob") <= 0.08)
        .orderBy("doc_id")
    }),

    // Token-budget mixture sampling: fill each source's token budget with
    // docs in a deterministic md5-priority order (a doc is taken while
    // the running token total BEFORE it is under the budget — so every
    // source gets its budget filled, and the crossing doc is included).
    // This is the data-mixing step of every pretraining pipeline (sample
    // sources to a target token ratio). Scale path: the oracle's
    // spelling — one window per source over the whole corpus — sorts
    // each source's full doc set in ONE task (5 sources at 100 TB = 5
    // tasks). Here the md5 priority is split at its first 2 hex chars
    // into 256 buckets: per-(source,bucket) token sums cumulate on a
    // sources×256 DOMAIN table; a bucket wholly under the budget is
    // taken outright (docs are ≥1 token, so every within-bucket prefix
    // is strictly under), a bucket wholly past it is dropped, and only
    // the ONE boundary bucket per source — 1/256 of that source — pays
    // an exact per-doc window. Bucket = md5 prefix, so (bucket,h,doc_id)
    // order IS (h,doc_id) order: selection is identical to the flat
    // window, bit-exact.
    "q122_budget_mixture" -> ((s, dir) => {
      val budget = 700L
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("bucket")
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val bcum = base.groupBy("source", "bucket")
        .agg(sum("n_toks").as("bt"))
        .withColumn("cumx", coalesce(sum("bt").over(
          wB.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      val full = bcum.filter(col("cumx") + col("bt") <= budget)
        .select("source", "bucket")
      val boundary = bcum
        .filter(col("cumx") < budget && col("cumx") + col("bt") > budget)
        .select(col("source"), col("bucket"), col("cumx"))
      val fullDocs = base
        .join(broadcast(full), Seq("source", "bucket"), "left_semi")
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "bucket").orderBy("h", "doc_id")
      val boundaryDocs = base
        .join(broadcast(boundary), Seq("source", "bucket"))
        .withColumn("inb", coalesce(sum("n_toks").over(
          wDoc.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
        .filter(col("cumx") + col("inb") < budget)
      fullDocs.select("doc_id", "source", "n_toks")
        .unionByName(boundaryDocs.select("doc_id", "source", "n_toks"))
        .orderBy("doc_id")
    }),

    // Length-bucketed inference batching: group docs into same-length
    // buckets (token count div 16), assign fixed-size batches inside
    // each bucket in deterministic doc order, report per-batch padding
    // waste (n·max − Σtoks) — the dynamic-batching layout every serving
    // stack computes before padding sequences to a common length. The
    // per-bucket rank comes from `Packing.runningOffsets` (hierarchical
    // prefix COUNT: per-sub-shard local windows + a broadcast of
    // sub-shard offsets), not the oracle's per-bucket ROW_NUMBER window
    // — with a handful of length buckets over a 100 TB corpus the flat
    // window serializes each bucket through one task (the q120/q61
    // objection); the hierarchical form is bit-identical and
    // skew-immune. Integers only.
    "q129_length_batching" -> ((s, dir) => {
      val batchSize = 8
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
        .withColumn("lb", expr("n_toks div 16"))
        .withColumn("_one", lit(1L))
      graft.operators.Packing.runningOffsets(base, "lb", "doc_id", "_one")
        .withColumn("batch_id", expr(s"(cum - 1) div $batchSize"))
        .groupBy("lb", "batch_id")
        .agg(count(lit(1)).as("n_seqs"), max("n_toks").as("max_toks"),
          sum("n_toks").as("sum_toks"))
        .select(col("lb"), col("batch_id"), col("n_seqs"), col("max_toks"),
          col("sum_toks"),
          (col("n_seqs") * col("max_toks")).as("padded"),
          (col("n_seqs") * col("max_toks") - col("sum_toks")).as("waste"))
        .orderBy("lb", "batch_id")
    }),

    // Temperature-rebalanced mixture sampling (T=2, the multilingual-
    // pretraining upsampling rule p_s ∝ n_s^(1/T)): per-source token
    // budgets derived from sqrt-weights, then q122's bucketed budget
    // fill with the budget as a JOINED column instead of a constant.
    // Exactness: sqrt is IEEE-correctly-rounded and ×2^20 is an exponent
    // shift, so w_s = ⌊√tok_s·2^20⌋ is an exact INTEGER weight; Σw is an
    // order-free integer sum; the budget is one double division +
    // multiply + floor in fixed order. Same 256-bucket threshold
    // machinery as q122 — whole buckets classified against the
    // broadcast (source, budget) table, only boundary buckets pay a
    // per-doc window.
    "q131_temperature_mixture" -> ((s, dir) => {
      val totalBudget = 8000.0
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("bucket")
      val base = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("bucket", substring(col("h"), 1, 2))
      val weights = base.groupBy("source").agg(sum("n_toks").as("tok_s"))
        .withColumn("w",
          floor(sqrt(col("tok_s").cast("double")) * 1048576.0).cast("long"))
      val budgets = weights
        .crossJoin(broadcast(weights.agg(sum("w").as("sw"))))
        .select(col("source"),
          floor(lit(totalBudget)
            * (col("w").cast("double") / col("sw").cast("double")))
            .cast("long").as("budget_s"))
      val bcum = base.groupBy("source", "bucket")
        .agg(sum("n_toks").as("bt"))
        .withColumn("cumx", coalesce(sum("bt").over(
          wB.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
        .join(broadcast(budgets), "source")
      val full = bcum.filter(col("cumx") + col("bt") <= col("budget_s"))
        .select("source", "bucket")
      val boundary = bcum
        .filter(col("cumx") < col("budget_s") &&
          col("cumx") + col("bt") > col("budget_s"))
        .select(col("source"), col("bucket"), col("cumx"), col("budget_s"))
      val fullDocs = base
        .join(broadcast(full), Seq("source", "bucket"), "left_semi")
        .join(broadcast(budgets), "source")
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "bucket").orderBy("h", "doc_id")
      val boundaryDocs = base
        .join(broadcast(boundary), Seq("source", "bucket"))
        .withColumn("inb", coalesce(sum("n_toks").over(
          wDoc.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
        .filter(col("cumx") + col("inb") < col("budget_s"))
      fullDocs.select("doc_id", "source", "n_toks", "budget_s")
        .unionByName(boundaryDocs.select("doc_id", "source", "n_toks",
          "budget_s"))
        .orderBy("doc_id")
    }),

    // Vocabulary growth / lexical-diversity profile per source (the
    // Heaps'-law numbers a corpus report leads with): token mass,
    // distinct 1/2/3-grams, type-token ratio. Grams are per-doc
    // scan-stage array ops (no join); each distinct count is one
    // source-keyed aggregate. Short docs guard the gram windows (a
    // 1-token doc emits no bigrams — Spark's sequence() counts DOWN on
    // start>stop, the q111 lesson, hence the explicit when-guards).
    "q133_vocab_growth" -> ((s, dir) => {
      val base = Tables.table(s, dir, "documents")
        .select(col("source"), TextFunctions.tokens(col("text")).as("t"))
      val empty = array().cast("array<string>")
      def grams(n: Int): org.apache.spark.sql.Column =
        if (n == 1) col("t")
        else when(size(col("t")) >= n, expr(
          s"transform(sequence(1, size(t) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(t, i, $n)))")).otherwise(empty)
      val uni = base.select(col("source"), explode(col("t")).as("g"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("g").as("d1"))
      val bi = base.select(col("source"), explode(grams(2)).as("g"))
        .groupBy("source").agg(countDistinct("g").as("d2"))
      val tri = base.select(col("source"), explode(grams(3)).as("g"))
        .groupBy("source").agg(countDistinct("g").as("d3"))
      uni.join(bi, "source").join(tri, "source")
        .select(col("source"), col("n_tokens"), col("d1"), col("d2"),
          col("d3"),
          (col("d1").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"))
        .orderBy("source")
    }),

    // Precision/recall@k for the q117 scorer (retrieval-style eval):
    // rank the corpus by (score desc, doc_id), report precision@k and
    // recall@k at k ∈ {10, 50, 100, 200}. The global top-200 comes from
    // the TopKPerKey heap plan on a constant key — partial 200-heaps
    // per partition bound the shuffle to partitions·200 rows where the
    // oracle's ROW_NUMBER sorts the whole corpus through one task; the
    // rank window then runs over ≤200 survivors. Integer counts until
    // the two final divisions (recall divides by the corpus-wide
    // positive count — one broadcast scalar).
    "q132_precision_at_k" -> ((s, dir) => {
      import s.implicits._
      val toks = TextFunctions.tokens(col("text"))
      val scored = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          floor(TextFunctions.wordSetCount(toks, STOPWORDS).cast("double")
            * 1000.0 / size(toks).cast("double")).cast("long").as("score"),
          (col("lang") === "en").cast("long").as("pos"))
      val nPos = scored.agg(sum("pos").as("n_pos_total"))
      val top = graft.plans.TopKPerKey.of(
          scored.withColumn("one", lit(1)),
          keys = Seq(col("one")),
          order = Seq(col("score").desc, col("doc_id").asc), k = 200)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      val ranked = top.withColumn("rn", row_number().over(w))
      val ks = Seq(10L, 50L, 100L, 200L).toDF("k")
      ranked.join(broadcast(ks), col("rn") <= col("k"))
        .groupBy("k")
        .agg(sum("pos").as("n_pos_at_k"))
        .crossJoin(broadcast(nPos))
        .select(col("k"), col("n_pos_at_k"), col("n_pos_total"),
          (col("n_pos_at_k").cast("double") / col("k").cast("double"))
            .as("precision"),
          (col("n_pos_at_k").cast("double")
            / col("n_pos_total").cast("double")).as("recall"))
        .orderBy("k")
    }),

    // Calibration curve (reliability diagram) for the q117 heuristic
    // scorer predicting lang='en': score-bin → (count, positives, mean
    // score, empirical positive rate). Completes the eval family
    // (AUC q117, kappa q119): AUC says the ranking works, calibration
    // says the SCORES can be thresholded. One scan to a map-side-
    // combined bin aggregate; integer until the two final divisions.
    "q130_calibration" -> ((s, dir) => {
      val toks = TextFunctions.tokens(col("text"))
      Tables.table(s, dir, "documents")
        .select(
          floor(TextFunctions.wordSetCount(toks, STOPWORDS).cast("double")
            * 1000.0 / size(toks).cast("double")).cast("long").as("score"),
          (col("lang") === "en").cast("long").as("pos"))
        .withColumn("bin", expr("score div 50"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"),
          sum("score").as("sum_score"))
        .select(col("bin"), col("n"), col("n_pos"),
          (col("sum_score").cast("double") / col("n").cast("double"))
            .as("mean_score"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"))
        .orderBy("bin")
    }),

    // EXACT set-similarity self-join at Jaccard ≥ 4/5 (the standard
    // near-dup compliance threshold) over word 3-gram sets, via
    // AllPairs/PPJoin prefix filtering
    // (operators.SetSimJoin) — the exact complement of q34's MinHash
    // estimate: no recall loss, no false positives, candidates only
    // from rare-prefix gram collisions + integer length filter. The
    // threshold test is integer cross-multiplied; the jac double is
    // display-only.
    "q134_setsim_join" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .filter(TextFunctions.tokenCount(col("text")) >= 3)
        .select(col("doc_id"),
          TextFunctions.wordNgrams(col("text"), 3).as("grams"))
      graft.operators.SetSimJoin.join(d, "doc_id", "grams", 4, 5)
        .orderBy("d1", "d2")
    }),

    // EXACT cross-corpus decontamination audit: benchmark docs (the
    // q82 held-out split) with a Jaccard ≥ 4/5 near-copy in the train
    // split, via SetSimJoin.joinBetween — the exact doc-level
    // complement of q82's gram-containment bloom gate (q82 answers
    // "does this train doc quote benchmark material", this answers
    // "is this benchmark doc ESSENTIALLY PRESENT in train"). One
    // canonical gram order shared by both sides (DF over the union).
    "q136_exact_decontamination" -> ((s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .filter(TextFunctions.tokenCount(col("text")) >= 3)
        .select(col("doc_id"),
          TextFunctions.wordNgrams(col("text"), 3).as("grams"))
      graft.operators.SetSimJoin.joinBetween(
          d.filter(col("doc_id") % 10 === 0),
          d.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "grams", 4, 5)
        .withColumnRenamed("lid", "bench_id")
        .withColumnRenamed("rid", "train_id")
        .orderBy("bench_id", "train_id")
    }),

    // Quality-proportional systematic resampling (the DSIR-style
    // importance-RESAMPLING step: given per-doc weights, draw k slots
    // with inclusion counts exactly proportional to weight). Entirely
    // integer: the k slot positions are the midpoints m=(2i+1)·W/(2k)
    // of the cumulative-weight axis, and each doc's pick count has the
    // closed form f(e)−f(s) with f(x)=min(k, (2kx+W−1) div 2W) — no
    // per-slot join, no RNG, bit-exact on any engine. The global
    // prefix sum runs through Packing.runningOffsets (two-level scan),
    // so no task ever owns the whole corpus — the flat
    // `SUM OVER (ORDER BY)` the oracle replays would serialize 100 TB
    // through one task. Overflow bound: needs 2k·W < 2^63.
    "q135_importance_resample" -> ((s, dir) => {
      val k = 200L
      val toks = TextFunctions.tokens(col("text"))
      // pinned: the weight table feeds runningOffsets (two interior
      // reads) AND the grand total — un-pinned, the stopword tokenize
      // pass ran three times per execution (guide §2.4/§5; the total
      // used to come from a third, separate documents scan computing
      // the identical `w` — same rows, same expression, so summing the
      // pinned frame is bit-identical)
      val wdf = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          (floor(TextFunctions.wordSetCount(toks, STOPWORDS).cast("double")
            * 1000.0 / size(toks).cast("double")).cast("long") + 1L).as("w"))
        .withColumn("one", lit(1))
        .materialize()
      graft.operators.Packing.runningOffsets(wdf, "one", "doc_id", "w")
        .crossJoin(broadcast(wdf.agg(sum("w").as("tw"))))
        .selectExpr("doc_id", "w",
          s"least($k, (${2 * k} * cum + tw - 1) div (2 * tw))" +
            s" - least($k, (${2 * k} * (cum - w) + tw - 1) div (2 * tw))" +
            " as n_picks")
        .filter(col("n_picks") > 0)
        .orderBy("doc_id")
    }),

    // PII detection + redaction (the CCNet/Dolma pre-training scrub).
    // The synthetic corpus has no natural PII, so the query PLANTS it
    // deterministically from doc_id (emails on ≡0 mod 7, phones on ≡1,
    // IPs on ≡2, one doc in 21 gets an email+IP pair) — the oracle
    // rebuilds the identical augmented text, so the gate checks the
    // detector and the redactor, not the generator. Everything is
    // scan-stage regexp chains ([[TextFunctions.piiCounts]] precedence:
    // an email-internal phone-shaped span counts as email only).
    "q147_pii_redact" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 1,
          concat(lit(" call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 2,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 21 === 0,
          concat(lit(" cc ops-"), col("doc_id").cast("string"),
            lit("@mail.example.org at 192.168.0."),
            (col("doc_id") % 50).cast("string")))
          .otherwise(lit("")))
      val counts = TextFunctions.piiCounts(planted)
      Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          counts.getField("n_emails").cast("long").as("n_emails"),
          counts.getField("n_phones").cast("long").as("n_phones"),
          counts.getField("n_ips").cast("long").as("n_ips"),
          TextFunctions.redactPii(planted).as("redacted"))
        .filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
        .orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    // same planted text, same three regex families in the same email →
    // phone → IP precedence (counts on the previous family's redacted
    // text, exactly TextFunctions.piiCounts)
    "q147_pii_redact" ->
      """WITH p AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 1 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 7 = 2 THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE '' END
        |    || CASE WHEN doc_id % 21 = 0 THEN ' cc ops-' || doc_id || '@mail.example.org at 192.168.0.' || (doc_id % 50) ELSE '' END AS t
        |  FROM documents),
        |c1 AS (SELECT doc_id,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM p),
        |c2 AS (SELECT doc_id, n_emails,
        |    len(regexp_extract_all(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        |    regexp_replace(t1, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS t2
        |  FROM c1),
        |c3 AS (SELECT doc_id, n_emails, n_phones,
        |    len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        |    regexp_replace(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS redacted
        |  FROM c2)
        |SELECT doc_id, n_emails, n_phones, n_ips, redacted FROM c3
        |WHERE n_emails + n_phones + n_ips > 0 ORDER BY doc_id""".stripMargin,
    "q28_dedup_exact" ->
      """SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "q29_token_count" ->
      """SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS len_chars,
        | CAST(LEN(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q30_text_quality" ->
      """WITH t AS (SELECT doc_id, CAST(LENGTH(text) AS INTEGER) AS len_chars,
        |    string_split(text, ' ') AS toks, text FROM documents)
        |SELECT doc_id, len_chars, CAST(LEN(toks) AS INTEGER) AS n_tokens,
        |  CAST(len_chars AS DOUBLE) / CAST(LEN(toks) AS DOUBLE) AS avg_token_len,
        |  CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |    / CAST(LEN(toks) AS DOUBLE) AS stop_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q31_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |    CAST(LEN(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE)
        |      / CAST(LEN(toks) AS DOUBLE) AS en_score FROM t)
        |SELECT doc_id, lang, en_score,
        |  CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS predicted
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q32_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |           WHERE doc_id < 150 AND LEN(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest(list_transform(range(LEN(toks) - 2),
        |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g FROM d),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
        |SELECT d1, d2, inter, (s1.n + s2.n - inter) AS uni,
        |  CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jac
        |FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
        |WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.02
        |ORDER BY d1, d2""".stripMargin,
    "q34_minhash_lsh" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE LEN(string_split(text,' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(LEN(toks)-2),
        |         i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3])) AS g FROM d),
        |gh AS (SELECT doc_id, CAST('0x'||substr(md5(g),1,15) AS BIGINT) AS h0,
        |              CAST('0x'||substr(md5(g),16,15) AS BIGINT) AS h1,
        |              CAST('0x'||substr(md5(g||'#'),1,15) AS BIGINT) AS h2,
        |              CAST('0x'||substr(md5(g||'#'),16,15) AS BIGINT) AS h3 FROM sh),
        |mh0 AS (SELECT doc_id, p,
        |          CAST((CASE WHEN p < 32
        |                THEN CAST(h0 AS HUGEINT) + p * CAST(h1 AS HUGEINT)
        |                ELSE CAST(h2 AS HUGEINT) + (p - 32) * CAST(h3 AS HUGEINT) END)
        |              % 1152921504606846976 AS BIGINT) AS a
        |        FROM gh CROSS JOIN range(64) t(p)),
        |mh1 AS (SELECT doc_id, p,
        |          CAST((CAST(xor(a, a >> 30) AS HUGEINT) * 6364136223846793005)
        |               % 1152921504606846976 AS BIGINT) AS b FROM mh0),
        |mh AS (SELECT doc_id, p, MIN(xor(b, b >> 27)) AS m
        |       FROM mh1 GROUP BY doc_id, p),
        |sig AS (SELECT doc_id, list(m ORDER BY p) AS sig FROM mh GROUP BY doc_id),
        |bands AS (SELECT doc_id, sig, b,
        |            array_to_string(sig[CAST(b*4+1 AS INTEGER):CAST(b*4+4 AS INTEGER)], ',') AS bk
        |          FROM sig CROSS JOIN range(16) t(b)),
        |cand AS (SELECT x.doc_id AS d1, y.doc_id AS d2, x.sig AS sa, y.sig AS sb
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
        |pairs AS (SELECT d1, d2, COUNT(*) AS n_bands,
        |            MIN(CAST(LEN(list_filter(range(64), i -> sa[i+1] = sb[i+1])) AS DOUBLE)
        |                / CAST(64 AS DOUBLE)) AS est_jac
        |          FROM cand GROUP BY d1, d2)
        |SELECT d1, d2, n_bands, est_jac FROM pairs WHERE est_jac >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "q35_simhash" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |th AS (SELECT doc_id, CAST('0x'||substr(md5(t),1,15) AS BIGINT) AS h FROM tk),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
        |                                    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
        |       FROM bits GROUP BY doc_id),
        |blk AS (SELECT doc_id, sh, q, (sh >> CAST(q*15 AS INTEGER)) & 32767 AS blk
        |        FROM sg CROSS JOIN range(4) r(q)),
        |pairs AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        |            CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS v
        |          FROM blk x JOIN blk y ON x.q = y.q AND x.blk = y.blk AND x.doc_id < y.doc_id)
        |SELECT d1, d2, v FROM (
        |  SELECT doc_id AS d1, CAST(-1 AS BIGINT) AS d2, sh AS v FROM sg
        |  UNION ALL SELECT d1, d2, v FROM pairs WHERE v <= 3)
        |ORDER BY d1, d2""".stripMargin,
    "q36_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        | sha256(text) AS sha,
        | lower(substring(hex(encode(text)), 1, 16)) AS head8
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the ground truth is closed-form: same doc_id % 100 ⇒ identical
    // media content up to a hash-preserving transform ⇒ Hamming 0;
    // different groups are independent 63-bit streams, never within
    // radius 3 (probability ~4e-15/pair, deterministic corpus)
    "q153_media_dedup" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INTEGER) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 100 = b.doc_id % 100 AND a.doc_id < b.doc_id
        |ORDER BY id1, id2""".stripMargin,
    // same closed-form ground truth at 252 bits: every doc carries its
    // group base k×-duplicated (a hash identity), so same group ⇒
    // Hamming 0; distinct groups are ~126 bits apart (pairwise > 16
    // asserted by WidePerceptualHashSpec on the exact gate generator)
    "q161_media_dedup_wide" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS INTEGER) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 100 = b.doc_id % 100 AND a.doc_id < b.doc_id
        |ORDER BY id1, id2""".stripMargin,
    "q52_dedup_components" ->
      """WITH RECURSIVE
        |kp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |       FROM documents),
        |star AS (SELECT keeper AS d1, doc_id AS d2 FROM kp WHERE doc_id <> keeper),
        |tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents
        |       WHERE doc_id IN (SELECT doc_id FROM kp WHERE doc_id = keeper)),
        |th AS (SELECT doc_id, CAST('0x'||substr(md5(t),1,15) AS BIGINT) AS h FROM tk),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
        |                                    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
        |       FROM bits GROUP BY doc_id),
        |blk AS (SELECT doc_id, sh, q, (sh >> CAST(q*15 AS INTEGER)) & 32767 AS blk
        |        FROM sg CROSS JOIN range(4) r(q)),
        |np AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |       FROM blk x JOIN blk y ON x.q = y.q AND x.blk = y.blk AND x.doc_id < y.doc_id
        |       WHERE bit_count(xor(x.sh, y.sh)) <= 3),
        |edges AS (SELECT d1, d2 FROM np UNION SELECT d1, d2 FROM star),
        |und AS (SELECT d1 AS src, d2 AS dst FROM edges UNION SELECT d2, d1 FROM edges),
        |comp(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, c.lbl FROM comp c JOIN und u ON c.id = u.src
        |)
        |SELECT id AS doc_id, MIN(lbl) AS component, CAST(COUNT(*) AS BIGINT) AS n_reach
        |FROM comp GROUP BY id HAVING MIN(lbl) < id ORDER BY doc_id""".stripMargin,
    "q95_cluster_keep_best" ->
      """WITH RECURSIVE
        |kp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |       FROM documents),
        |star AS (SELECT keeper AS d1, doc_id AS d2 FROM kp WHERE doc_id <> keeper),
        |tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents
        |       WHERE doc_id IN (SELECT doc_id FROM kp WHERE doc_id = keeper)),
        |th AS (SELECT doc_id, CAST('0x'||substr(md5(t),1,15) AS BIGINT) AS h FROM tk),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
        |                                    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sh
        |       FROM bits GROUP BY doc_id),
        |blk AS (SELECT doc_id, sh, q, (sh >> CAST(q*15 AS INTEGER)) & 32767 AS blk
        |        FROM sg CROSS JOIN range(4) r(q)),
        |np AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |       FROM blk x JOIN blk y ON x.q = y.q AND x.blk = y.blk AND x.doc_id < y.doc_id
        |       WHERE bit_count(xor(x.sh, y.sh)) <= 3),
        |edges AS (SELECT d1, d2 FROM np UNION SELECT d1, d2 FROM star),
        |und AS (SELECT d1 AS src, d2 AS dst FROM edges UNION SELECT d2, d1 FROM edges),
        |comp(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.dst, c.lbl FROM comp c JOIN und u ON c.id = u.src
        |),
        |lab AS (SELECT id, MIN(lbl) AS component FROM comp GROUP BY id),
        |mem AS (SELECT id, component FROM (
        |  SELECT id, component, COUNT(*) OVER (PARTITION BY component) AS n
        |  FROM lab) WHERE n > 1),
        |q AS (SELECT doc_id,
        |    CAST(LEN(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop,
        |    CAST(LEN(string_split(text,' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |rk AS (SELECT m.id, m.component, q.n_stop, q.n_toks,
        |    ROW_NUMBER() OVER (PARTITION BY m.component
        |      ORDER BY CAST(q.n_stop*10000 AS DOUBLE)/q.n_toks DESC, m.id) AS rk
        |  FROM mem m JOIN q ON m.id = q.doc_id)
        |SELECT id AS doc_id, component, n_stop, n_toks, rk = 1 AS kept
        |FROM rk ORDER BY doc_id""".stripMargin,
    "q96_inverted_index" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |tf AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY tok, doc_id),
        |rk AS (SELECT tok, doc_id, tf,
        |       ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
        |       FROM tf)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(tf) AS BIGINT) AS total_tf,
        |  array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rn <= 5), ',')
        |    AS postings
        |FROM rk GROUP BY tok ORDER BY tok""".stripMargin,
    "q97_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(LEN(t))) AS i FROM d),
        |fl AS (SELECT doc_id, CAST(i AS INTEGER) AS p, t[CAST(i+1 AS INTEGER)] AS tok,
        |    CASE WHEN i >= 3 AND CAST('0x'||substr(md5(
        |        array_to_string(t[CAST(i-2 AS INTEGER) : CAST(i+1 AS INTEGER)],' ')),1,15) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM pos),
        |ck AS (SELECT doc_id, p, tok,
        |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
        |  FROM fl),
        |ch AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS dig,
        |    CAST(COUNT(*) AS BIGINT) AS c_toks
        |  FROM ck GROUP BY doc_id, ci)
        |SELECT doc_id, chunk_idx, dig, c_toks,
        |  CAST(COUNT(*) OVER (PARTITION BY dig) AS BIGINT) AS shared
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q98_cdc_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(LEN(t))) AS i FROM d),
        |fl AS (SELECT doc_id, CAST(i AS INTEGER) AS p, t[CAST(i+1 AS INTEGER)] AS tok,
        |    CASE WHEN i >= 3 AND CAST('0x'||substr(md5(
        |        array_to_string(t[CAST(i-2 AS INTEGER) : CAST(i+1 AS INTEGER)],' ')),1,15) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM pos),
        |ck AS (SELECT doc_id, p, tok,
        |    COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY p
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci
        |  FROM fl),
        |ch AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |    md5(string_agg(tok, ' ' ORDER BY p)) AS dig,
        |    CAST(COUNT(*) AS BIGINT) AS c_toks
        |  FROM ck GROUP BY doc_id, ci),
        |rk AS (SELECT doc_id, c_toks,
        |    ROW_NUMBER() OVER (PARTITION BY dig ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
        |  CAST(SUM(CASE WHEN rn = 1 THEN c_toks ELSE 0 END) AS BIGINT) AS kept_toks
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q99_containment" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE LEN(string_split(text,' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(LEN(toks)-2),
        |         i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3])) AS g FROM d),
        |gh AS (SELECT doc_id, CAST('0x'||substr(md5(g),1,15) AS BIGINT) AS h0,
        |              CAST('0x'||substr(md5(g),16,15) AS BIGINT) AS h1,
        |              CAST('0x'||substr(md5(g||'#'),1,15) AS BIGINT) AS h2,
        |              CAST('0x'||substr(md5(g||'#'),16,15) AS BIGINT) AS h3 FROM sh),
        |mh0 AS (SELECT doc_id, p,
        |          CAST((CASE WHEN p < 32
        |                THEN CAST(h0 AS HUGEINT) + p * CAST(h1 AS HUGEINT)
        |                ELSE CAST(h2 AS HUGEINT) + (p - 32) * CAST(h3 AS HUGEINT) END)
        |              % 1152921504606846976 AS BIGINT) AS a
        |        FROM gh CROSS JOIN range(64) t(p)),
        |mh1 AS (SELECT doc_id, p,
        |          CAST((CAST(xor(a, a >> 30) AS HUGEINT) * 6364136223846793005)
        |               % 1152921504606846976 AS BIGINT) AS b FROM mh0),
        |mh AS (SELECT doc_id, p, MIN(xor(b, b >> 27)) AS m
        |       FROM mh1 GROUP BY doc_id, p),
        |sig AS (SELECT doc_id, list(m ORDER BY p) AS sig FROM mh GROUP BY doc_id),
        |bands AS (SELECT doc_id, b,
        |            array_to_string(sig[CAST(b*4+1 AS INTEGER):CAST(b*4+4 AS INTEGER)], ',') AS bk
        |          FROM sig CROSS JOIN range(16) t(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
        |         FROM bands x JOIN bands y ON x.b = y.b AND x.bk = y.bk AND x.doc_id < y.doc_id),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM cand c JOIN sh a ON a.doc_id = c.d1
        |  JOIN sh b ON b.doc_id = c.d2 AND a.g = b.g
        |  GROUP BY c.d1, c.d2)
        |SELECT i.d1, i.d2, sa.n AS na, sb.n AS nb, i.inter,
        |  CAST(i.inter AS DOUBLE) / LEAST(sa.n, sb.n) AS cont
        |FROM inter i JOIN sz sa ON i.d1 = sa.doc_id
        |JOIN sz sb ON i.d2 = sb.doc_id
        |WHERE CAST(i.inter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.5
        |ORDER BY i.d1, i.d2""".stripMargin,
    "q53_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM d),
        |stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        |tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tk
        |       WHERE tok IN ('spark','merge','window') GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tk
        |       WHERE tok IN ('spark','merge','window') GROUP BY tok),
        |sc AS (SELECT tf.doc_id,
        |   CAST((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)/(CAST(df AS DOUBLE) + 0.5)
        |     * (CAST(tf AS DOUBLE) * 2.2)
        |     / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)/avgdl))
        |     AS DECIMAL(28,12)) AS term_score
        |   FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
        |SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS bm25
        |FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin,
    "q56_contamination" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE LEN(string_split(text,' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(LEN(toks)-2),
        |         i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3])) AS g FROM d),
        |df AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(COUNT(CASE WHEN df >= 2 THEN 1 END) AS BIGINT) AS n_shared,
        |  CAST(COUNT(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE) / COUNT(*) AS contamination
        |FROM sh JOIN df USING (g) GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "q58_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(CAST(floor((LEN(toks)-1)/24) AS BIGINT)+1)) AS ci FROM d)
        |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
        |  CAST(LEN(toks[ci*24+1 : ci*24+32]) AS INTEGER) AS n_tok,
        |  md5(array_to_string(toks[ci*24+1 : ci*24+32], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q59_boilerplate_phrases" ->
      """WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents
        |           WHERE LEN(string_split(text,' ')) >= 4),
        |sh AS (SELECT DISTINCT doc_id, source,
        |         unnest(list_transform(range(LEN(toks)-3),
        |           i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4])) AS g FROM d)
        |SELECT g, COUNT(DISTINCT doc_id) AS df, COUNT(DISTINCT source) AS n_sources
        |FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 3
        |ORDER BY df DESC, g LIMIT 50""".stripMargin,
    "q60_split_assign" ->
      """WITH s AS (SELECT doc_id,
        |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM s ORDER BY doc_id""".stripMargin,
    "q61_pack_sequences" ->
      """WITH d AS (SELECT doc_id, source, LEN(string_split(text,' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |b AS (SELECT source, CAST(floor((cum - n_tok) / 256) AS BIGINT) AS bin, n_tok FROM c)
        |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
        |  CAST(SUM(n_tok) AS DOUBLE) / 256 AS fill
        |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q62_kmv_distinct" ->
      """WITH toks AS (SELECT DISTINCT source, unnest(string_split(text,' ')) AS tok
        |              FROM documents),
        |h AS (SELECT source, tok,
        |        CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS hv,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |          CAST('0x'||substr(md5(tok),1,15) AS BIGINT), tok) AS rn
        |      FROM toks),
        |k AS (SELECT source, MAX(hv) AS kth, CAST(COUNT(*) AS BIGINT) AS n_seen
        |      FROM h WHERE rn <= 16 GROUP BY source),
        |ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_nd FROM toks GROUP BY source)
        |SELECT k.source, n_seen, kth,
        |  CASE WHEN n_seen < 16 THEN CAST(n_seen AS DOUBLE)
        |       ELSE (16 - 1) * (CAST(1152921504606846975 AS DOUBLE) / kth) END AS est_nd,
        |  exact_nd
        |FROM k JOIN ex ON k.source = ex.source ORDER BY k.source""".stripMargin,
    "q63_source_overlap" ->
      """WITH toks AS (SELECT DISTINCT source, unnest(string_split(text,' ')) AS tok
        |              FROM documents),
        |h AS (SELECT source, tok, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS hv,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |          CAST('0x'||substr(md5(tok),1,15) AS BIGINT), tok) AS rn
        |      FROM toks),
        |sk AS (SELECT source, list_sort(list(hv)) AS m FROM h WHERE rn <= 64 GROUP BY source),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY source),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.m AS ma, b.m AS mb,
        |        za.n AS na, zb.n AS nb
        |      FROM sk a JOIN sk b ON a.source < b.source
        |      JOIN sz za ON za.source = a.source JOIN sz zb ON zb.source = b.source),
        |x AS (SELECT src_a, src_b, ma, mb, na, nb,
        |        list_sort(list_distinct(list_concat(ma, mb)))[1:64] AS xs FROM p),
        |i AS (SELECT t1.source AS src_a, t2.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
        |      FROM toks t1 JOIN toks t2 ON t1.tok = t2.tok AND t1.source < t2.source
        |      GROUP BY 1, 2)
        |SELECT x.src_a, x.src_b,
        |  CAST(LEN(list_filter(xs, v -> list_contains(ma, v) AND list_contains(mb, v)))
        |    AS DOUBLE) / LEN(xs) AS est_jacc,
        |  CAST(COALESCE(n_inter, 0) AS DOUBLE) / (na + nb - COALESCE(n_inter, 0)) AS exact_jacc
        |FROM x LEFT JOIN i ON x.src_a = i.src_a AND x.src_b = i.src_b
        |ORDER BY x.src_a, x.src_b""".stripMargin,
    "q54_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |        list_transform(range(LEN(toks)-1), i -> toks[i+1]||' '||toks[i+2]) AS g2
        |      FROM d WHERE LEN(toks) >= 2),
        |tk AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok),
        |top AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_tok, COUNT(*) AS n_distinct
        |        FROM tc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_tok AS DOUBLE) AS dup_token_ratio,
        |  CAST(top_c AS DOUBLE)/CAST(n_tok AS DOUBLE) AS top_token_ratio,
        |  1.0 - CAST(LEN(list_distinct(g2)) AS DOUBLE)/CAST(LEN(g2) AS DOUBLE) AS dup_2gram_ratio
        |FROM top t JOIN g ON t.doc_id = g.doc_id ORDER BY t.doc_id""".stripMargin,
    "q68_pii_redact" ->
      """WITH a AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' contact user' || doc_id || '@mail.com' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LEN(regexp_extract_all(aug, '[a-z0-9._]+@[a-z0-9.]+[.][a-z]+')) AS INTEGER) AS n_emails,
        |  CAST(LEN(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(aug, '[a-z0-9._]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM a ORDER BY doc_id""".stripMargin,
    "q70_countmin_freq" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |j(j) AS (VALUES (0), (1), (2), (3)),
        |r AS (SELECT j, CAST('0x'||substr(md5(CAST(j AS VARCHAR)||tok),1,15) AS BIGINT) % 512 AS b
        |      FROM toks CROSS JOIN j),
        |sk AS (SELECT j, b, COUNT(*) AS c FROM r GROUP BY j, b),
        |ex AS (SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY tok),
        |top AS (SELECT tok, exact_n FROM ex ORDER BY exact_n DESC, tok LIMIT 10),
        |pr AS (SELECT tok, exact_n, j,
        |    CAST('0x'||substr(md5(CAST(j AS VARCHAR)||tok),1,15) AS BIGINT) % 512 AS b
        |  FROM top CROSS JOIN j)
        |SELECT tok, exact_n, MIN(c) AS est_n
        |FROM pr JOIN sk USING (j, b)
        |GROUP BY tok, exact_n ORDER BY exact_n DESC, tok""".stripMargin,
    "q101_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |j(j) AS (VALUES (0), (1), (2), (3)),
        |r AS (SELECT j, CAST('0x'||substr(md5(CAST(j AS VARCHAR)||tok),1,15) AS BIGINT) % 512 AS b
        |      FROM toks CROSS JOIN j),
        |sk AS (SELECT j, b, COUNT(*) AS c FROM r GROUP BY j, b),
        |thr AS (SELECT COUNT(*) // 30 AS thr FROM toks),
        |pr AS (SELECT tok, j,
        |    CAST('0x'||substr(md5(CAST(j AS VARCHAR)||tok),1,15) AS BIGINT) % 512 AS b
        |  FROM (SELECT DISTINCT tok FROM toks) CROSS JOIN j),
        |est AS (SELECT tok, MIN(c) AS est_n FROM pr JOIN sk USING (j, b) GROUP BY tok),
        |cands AS (SELECT tok, est_n, thr FROM est CROSS JOIN thr WHERE est_n >= thr),
        |ex AS (SELECT t.tok, COUNT(*) AS exact_n FROM toks t
        |       JOIN (SELECT tok FROM cands) c ON t.tok = c.tok GROUP BY t.tok)
        |SELECT c.tok, c.est_n, ex.exact_n, c.thr, ex.exact_n >= c.thr AS is_heavy
        |FROM cands c JOIN ex ON c.tok = ex.tok ORDER BY c.tok""".stripMargin,
    // HLL replay: same md5-60 hash as q62; the register sum is exact
    // integer arithmetic (1<<(55-m)), so only the final division is a
    // double — one op, rounded at 9 dp on both engines.
    "q102_hll_distinct" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT DISTINCT source,
        |         ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
        |       FROM w, unnest(range(1, len(ts) - 1)) AS t(i)
        |       WHERE len(ts) >= 3),
        |h AS (SELECT source,
        |        CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) AS hv FROM sh),
        |b AS (SELECT source, hv % 64 AS bucket,
        |        CASE WHEN hv // 64 = 0 THEN 55
        |             ELSE 55 - length(bin(hv // 64)) END AS rho FROM h),
        |r AS (SELECT source, bucket, MAX(rho) AS m, COUNT(*) AS cnt
        |      FROM b GROUP BY source, bucket),
        |a AS (SELECT source, CAST(64 - COUNT(*) AS BIGINT) AS zero_regs,
        |        CAST(SUM(1::BIGINT << (55 - m))
        |          + (64 - COUNT(*)) * (1::BIGINT << 55) AS BIGINT) AS reg_sum,
        |        CAST(SUM(cnt) AS BIGINT) AS exact_nd
        |      FROM r GROUP BY source)
        |SELECT source, zero_regs, reg_sum,
        |  ROUND(1.0462993238608057e20 / reg_sum, 9) AS est_nd, exact_nd
        |FROM a ORDER BY source""".stripMargin,
    // Two GD steps replayed as chained CTEs: integer Sxy, ordered-fold
    // dot products (list_sum ORDER BY bucket = the ascending fold the
    // Spark `aggregate` runs), decimal-exact Σ x·r, double ops in the
    // identical sequence (eta * (x / n)).
    "q103_linear_probe" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |        CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 16 AS bucket,
        |        COUNT(*) AS cnt
        |      FROM (SELECT doc_id, n_chars,
        |              unnest(string_split(text, ' ')) AS tok FROM documents)
        |      GROUP BY 1, 2, 3),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |sxy AS (SELECT bucket, SUM(cnt * n_chars) AS s FROM f GROUP BY bucket),
        |w1 AS (SELECT b.bucket,
        |         0.002 * (CAST(COALESCE(s.s, 0) AS DOUBLE) / nn.n) AS w
        |       FROM (SELECT unnest(range(16)) AS bucket) b
        |       LEFT JOIN sxy s ON s.bucket = b.bucket CROSS JOIN nn),
        |r AS (SELECT f.doc_id, f.n_chars,
        |        list_sum(list(f.cnt * w1.w ORDER BY f.bucket)) - f.n_chars AS r
        |      FROM f JOIN w1 ON w1.bucket = f.bucket
        |      GROUP BY f.doc_id, f.n_chars),
        |g2 AS (SELECT f.bucket,
        |         CAST(SUM(CAST(f.cnt * r.r AS DECIMAL(25,9))) AS DOUBLE) AS g
        |       FROM f JOIN r ON r.doc_id = f.doc_id GROUP BY f.bucket),
        |w2 AS (SELECT w1.bucket,
        |         w1.w - 0.002 * (COALESCE(g2.g, 0) / nn.n) AS w
        |       FROM w1 LEFT JOIN g2 ON g2.bucket = w1.bucket CROSS JOIN nn)
        |SELECT f.doc_id,
        |  list_sum(list(f.cnt * w2.w ORDER BY f.bucket)) AS pred,
        |  f.n_chars
        |FROM f JOIN w2 ON w2.bucket = f.bucket
        |GROUP BY f.doc_id, f.n_chars ORDER BY f.doc_id""".stripMargin,
    // Winnowing replay: every gram joins its ≤8 covering windows, each
    // window takes the lexicographic (hv, pos) struct minimum, distinct
    // selections are the fingerprints. Windows are [j, j+7] for
    // j = 0..G-8 (one whole-doc window when G < 8).
    "q104_winnow_fingerprints" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |        CAST('0x'||substr(md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]),
        |          1, 15) AS BIGINT) AS hv,
        |        len(ts) - 3 AS gcnt
        |      FROM t, unnest(range(1, len(ts) - 2)) AS u(i)
        |      WHERE len(ts) >= 4),
        |w AS (SELECT doc_id, pos, hv,
        |        unnest(range(greatest(0, pos - 7),
        |                     least(pos, greatest(0, gcnt - 8)) + 1)) AS win
        |      FROM g),
        |sel AS (SELECT doc_id, win, min(struct_pack(h := hv, p := pos)) AS m
        |        FROM w GROUP BY doc_id, win)
        |SELECT DISTINCT doc_id, m.p AS pos, m.h AS hv
        |FROM sel ORDER BY doc_id, pos""".stripMargin,
    "q105_winnow_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |        CAST('0x'||substr(md5(ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]),
        |          1, 15) AS BIGINT) AS hv,
        |        len(ts) - 3 AS gcnt
        |      FROM t, unnest(range(1, len(ts) - 2)) AS u(i)
        |      WHERE len(ts) >= 4),
        |w AS (SELECT doc_id, pos, hv,
        |        unnest(range(greatest(0, pos - 7),
        |                     least(pos, greatest(0, gcnt - 8)) + 1)) AS win
        |      FROM g),
        |sel AS (SELECT doc_id, win, min(struct_pack(h := hv, p := pos)) AS m
        |        FROM w GROUP BY doc_id, win),
        |fp AS (SELECT DISTINCT doc_id, m.h AS hv FROM sel),
        |keep AS (SELECT hv FROM (SELECT hv, COUNT(*) AS df FROM fp GROUP BY hv)
        |         WHERE df BETWEEN 2 AND 50),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp FROM fp GROUP BY doc_id),
        |c AS (SELECT fp.doc_id, fp.hv FROM fp JOIN keep USING (hv)),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(COUNT(*) AS BIGINT) AS n_shared
        |      FROM c a JOIN c b ON a.hv = b.hv AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT doc_a, doc_b, n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE) / least(sa.nfp, sb.nfp), 9) AS containment
        |FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q71_cooccurrence" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM d),
        |tk AS (SELECT doc_id, i, t[i] AS tok FROM pos),
        |p AS (SELECT x.tok AS a, y.tok AS b FROM tk x JOIN tk y
        |      ON x.doc_id = y.doc_id AND y.i - x.i BETWEEN 1 AND 2),
        |uni AS (SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM tk),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM p),
        |pc AS (SELECT a, b, COUNT(*) AS n_ab FROM p GROUP BY a, b)
        |SELECT a, b, n_ab, ua.n AS n_a, ub.n AS n_b,
        |  (CAST(n_ab AS DOUBLE) / CAST(tt AS DOUBLE)) /
        |    ((CAST(ua.n AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |     (CAST(ub.n AS DOUBLE) / CAST(nn AS DOUBLE))) AS lift
        |FROM pc JOIN uni ua ON pc.a = ua.tok JOIN uni ub ON pc.b = ub.tok
        |CROSS JOIN nn CROSS JOIN tt
        |ORDER BY n_ab DESC, a, b LIMIT 50""".stripMargin,
    "q72_mixture_sample" ->
      """WITH w AS (SELECT source, COUNT(*) AS n,
        |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(38,10)) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT SUM(w) AS tot FROM w),
        |q AS (SELECT source, n,
        |    CAST(FLOOR(200 * CAST(w AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT) AS quota
        |  FROM w CROSS JOIN tot),
        |r AS (SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT r.source, doc_id, rn, n, quota
        |FROM r JOIN q ON r.source = q.source
        |WHERE rn <= quota ORDER BY r.source, rn""".stripMargin,
    "q75_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM d),
        |tk AS (SELECT doc_id, i, t[i] AS tok FROM pos),
        |bg AS (SELECT x.doc_id, x.tok AS a, y.tok AS b FROM tk x JOIN tk y
        |       ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |docbg AS (SELECT doc_id, a, b, COUNT(*) AS n_inst
        |          FROM bg GROUP BY doc_id, a, b),
        |model AS (SELECT a, b, SUM(n_inst) AS c_ab FROM docbg GROUP BY a, b),
        |ctx AS (SELECT a, SUM(c_ab) AS c_a FROM model GROUP BY a),
        |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tk),
        |scored AS (SELECT doc_id, n_inst,
        |    CAST(c_ab + 1 AS DOUBLE) / CAST(c_a + v AS DOUBLE) AS p
        |  FROM docbg JOIN model USING (a, b) JOIN ctx USING (a) CROSS JOIN vocab)
        |SELECT doc_id, CAST(SUM(n_inst) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN p < 0.01 THEN n_inst ELSE 0 END) AS BIGINT) AS n_rare,
        |  MIN(p) AS min_p,
        |  CAST(SUM(CASE WHEN p < 0.01 THEN n_inst ELSE 0 END) AS DOUBLE) /
        |    CAST(SUM(n_inst) AS DOUBLE) AS rare_ratio
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q79_lm_filter" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, lang, t, unnest(range(1, len(t) + 1)) AS i FROM d),
        |tk AS (SELECT doc_id, lang, i, t[i] AS tok FROM pos),
        |bg AS (SELECT x.doc_id, x.lang, x.tok AS a, y.tok AS b FROM tk x JOIN tk y
        |       ON x.doc_id = y.doc_id AND y.i = x.i + 1),
        |model AS (SELECT a, b, COUNT(*) AS c_ab FROM bg
        |          WHERE lang = 'en' AND doc_id % 5 = 0 GROUP BY a, b),
        |docbg AS (SELECT doc_id, a, b, COUNT(*) AS n_inst
        |          FROM bg GROUP BY doc_id, a, b),
        |sc AS (SELECT doc_id, SUM(n_inst) AS nb,
        |    SUM(CASE WHEN m.c_ab IS NULL THEN n_inst ELSE 0 END) AS no
        |  FROM docbg db LEFT JOIN model m ON db.a = m.a AND db.b = m.b
        |  GROUP BY doc_id)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        |  CAST(no AS BIGINT) AS n_oov,
        |  CAST(no AS DOUBLE) / CAST(nb AS DOUBLE) AS oov_ratio,
        |  CAST(CASE WHEN CAST(no AS DOUBLE) / CAST(nb AS DOUBLE) <= 0.15
        |       THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q80_shared_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(len(t) - 7)) AS i FROM d
        |        WHERE len(t) >= 8),
        |g AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
        |        md5(array_to_string(t[i+1:i+8], ' ')) AS k FROM pos),
        |sh AS (SELECT k FROM g GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 2),
        |sp AS (SELECT doc_id, pos,
        |        pos - CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
        |                   AS INTEGER) AS grp
        |      FROM g JOIN sh USING (k)),
        |isl AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
        |        FROM sp GROUP BY doc_id, grp)
        |SELECT doc_id, span_start, span_end,
        |  span_end - span_start + 1 AS span_len
        |FROM isl ORDER BY doc_id, span_start""".stripMargin,
    // the Bloom sketch is a pure prefilter whose false positives the
    // exact semi-join removes, so the oracle is the join-only form
    "q82_bloom_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE LEN(string_split(text,' ')) >= 3),
        |tg AS (SELECT DISTINCT unnest(list_transform(range(LEN(toks)-2),
        |         i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3])) AS g
        |       FROM d WHERE doc_id % 10 = 0),
        |tr AS (SELECT DISTINCT doc_id, unnest(list_transform(range(LEN(toks)-2),
        |         i -> toks[i+1]||' '||toks[i+2]||' '||toks[i+3])) AS g
        |       FROM d WHERE doc_id % 10 <> 0),
        |ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id),
        |h AS (SELECT doc_id, COUNT(*) AS n_hit FROM tr
        |      WHERE g IN (SELECT g FROM tg) GROUP BY doc_id)
        |SELECT ng.doc_id, CAST(ng.n_grams AS BIGINT) AS n_grams,
        |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / ng.n_grams AS contamination
        |FROM ng LEFT JOIN h USING (doc_id) ORDER BY ng.doc_id""".stripMargin,
    "q83_shuffle_shard" ->
      """WITH h AS (SELECT doc_id,
        |    CAST('0x'||substr(md5('shuf42:'||CAST(doc_id AS VARCHAR)),1,15)
        |      AS BIGINT) AS hv FROM documents)
        |SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id)
        |    AS INTEGER) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    // the lookahead-free DuckDB mirror of subTokens: insert a space at
    // every letter↔digit boundary, then split on whitespace
    "q85_bpe_merges" ->
      """WITH t AS (SELECT string_split_regex(
        |    regexp_replace(regexp_replace(text,
        |      '([a-z])([0-9])', '\1 \2', 'g'),
        |      '([0-9])([a-z])', '\1 \2', 'g'), '\s+') AS st
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(range(LEN(st)-1),
        |        i -> st[i+1]||' '||st[i+2])) AS pair
        |      FROM t WHERE LEN(st) >= 2)
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "q86_feature_hash" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 1024
        |      AS INTEGER) AS idx
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok
        |        FROM documents)),
        |tf AS (SELECT doc_id, idx, COUNT(*) AS tf FROM f GROUP BY doc_id, idx),
        |df AS (SELECT idx, COUNT(*) AS df FROM tf GROUP BY idx)
        |SELECT tf.doc_id, tf.idx, tf.tf, df.df,
        |  CAST(tf.tf AS DOUBLE) * (SELECT COUNT(*) FROM documents) / df.df
        |    AS weight
        |FROM tf JOIN df USING (idx) ORDER BY tf.doc_id, tf.idx""".stripMargin,
    "q84_source_gate" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(LEN(list_filter(string_split(text,' '),
        |      x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop,
        |    CAST(LEN(string_split(text,' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |s AS (SELECT source, SUM(n_stop) AS s_stop, SUM(n_toks) AS s_toks
        |      FROM d GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_stop, d.n_toks,
        |  CAST(s.s_stop AS DOUBLE) / s.s_toks AS src_ratio,
        |  CAST(s.s_stop AS DOUBLE) / s.s_toks >= 0.05 AS kept
        |FROM d JOIN s USING (source) ORDER BY d.doc_id""".stripMargin,
    "q90_segment_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |e AS (SELECT doc_id, t,
        |        unnest(range(CAST(FLOOR((LEN(t)-1)/10) AS BIGINT)+1)) AS i
        |      FROM d),
        |seg AS (SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
        |        md5(array_to_string(t[i*10+1 : i*10+10], ' ')) AS k,
        |        CAST(LEN(t[i*10+1 : i*10+10]) AS BIGINT) AS seg_toks
        |        FROM e),
        |rk AS (SELECT doc_id, seg_toks,
        |       ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, seg_idx) AS rn
        |       FROM seg)
        |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_segs,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
        |  CAST(SUM(CASE WHEN rn = 1 THEN seg_toks ELSE 0 END) AS BIGINT)
        |    AS kept_toks
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q91_dsir_importance" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks
        |           FROM documents WHERE LEN(string_split(text,' ')) >= 2),
        |bg AS (SELECT DISTINCT doc_id, lang,
        |       CAST(CAST('0x'||substr(md5(g),1,15) AS BIGINT) % 1024
        |         AS INTEGER) AS idx
        |       FROM (SELECT doc_id, lang,
        |             unnest(list_transform(range(LEN(toks)-1),
        |               i -> toks[i+1]||' '||toks[i+2])) AS g FROM t)),
        |tc AS (SELECT idx, COUNT(*) AS t_b FROM bg WHERE lang = 'en'
        |       GROUP BY idx),
        |rc AS (SELECT idx, COUNT(*) AS r_b FROM bg GROUP BY idx),
        |sc AS (SELECT doc_id, SUM(COALESCE(t_b, 0)) AS s_t, SUM(r_b) AS s_r
        |       FROM bg JOIN rc USING (idx) LEFT JOIN tc USING (idx)
        |       GROUP BY doc_id)
        |SELECT doc_id, CAST(s_t AS BIGINT) AS s_t, CAST(s_r AS BIGINT) AS s_r,
        |  CAST(s_t AS DOUBLE) / s_r AS score
        |FROM sc ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    "q92_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks,
        |             CAST(LENGTH(text) AS INTEGER) AS len_chars FROM documents),
        |d AS (SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_toks, len_chars,
        |        CAST(LEN(list_filter(toks,
        |          x -> x IN ('the','a','of','and'))) AS INTEGER) AS n_stop,
        |        CAST(list_max(list_transform(list_distinct(toks),
        |          w -> LEN(list_filter(toks, x -> x = w)))) AS INTEGER) AS max_rep
        |      FROM t)
        |SELECT doc_id, n_toks, len_chars, n_stop, max_rep,
        |  (n_toks >= 20 AND n_toks <= 90) AS len_ok,
        |  (len_chars - (n_toks-1) >= n_toks*3
        |    AND len_chars - (n_toks-1) <= n_toks*8) AS wlen_ok,
        |  (n_stop >= 2) AS stop_ok,
        |  (max_rep * 8 <= n_toks) AS rep_ok,
        |  ((n_toks >= 20 AND n_toks <= 90)
        |    AND (len_chars - (n_toks-1) >= n_toks*3
        |         AND len_chars - (n_toks-1) <= n_toks*8)
        |    AND n_stop >= 2 AND max_rep * 8 <= n_toks) AS kept
        |FROM d ORDER BY doc_id""".stripMargin,
    "q117_score_auc" ->
      """WITH d AS (SELECT
        |    CAST(FLOOR(CAST(LEN(list_filter(string_split(text,' '),
        |        x -> x IN ('the','a','of','and'))) AS DOUBLE) * 1000.0
        |      / CAST(LEN(string_split(text,' ')) AS DOUBLE)) AS BIGINT) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |per AS (SELECT score, CAST(SUM(pos) AS BIGINT) AS n1,
        |          CAST(SUM(1 - pos) AS BIGINT) AS n0
        |        FROM d GROUP BY score),
        |cum AS (SELECT score, n1, n0,
        |          COALESCE(SUM(n0) OVER (ORDER BY score
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            AS below0
        |        FROM per)
        |SELECT CAST(SUM(n1 * (2 * below0 + n0)) AS BIGINT) AS u_times_2,
        |  CAST(SUM(n1) AS BIGINT) AS n_pos, CAST(SUM(n0) AS BIGINT) AS n_neg,
        |  CAST(SUM(n1 * (2 * below0 + n0)) AS DOUBLE)
        |    / (2.0 * SUM(n1) * SUM(n0)) AS auc
        |FROM cum""".stripMargin,
    "q119_cohens_kappa" ->
      """WITH d AS (SELECT
        |    CASE WHEN CAST(LEN(list_filter(string_split(text,' '),
        |          x -> x IN ('the','a'))) AS DOUBLE)
        |        / CAST(LEN(string_split(text,' ')) AS DOUBLE) >= 0.05
        |      THEN 1 ELSE 0 END AS a,
        |    CASE WHEN LEN(list_filter(string_split(text,' '),
        |          x -> x IN ('the','a','of','and'))) >= 2
        |      THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(SUM(a) AS BIGINT) AS a1, CAST(SUM(b) AS BIGINT) AS b1,
        |    CAST(COUNT(*) AS BIGINT) AS nn
        |  FROM d)
        |SELECT agree, a1, b1, nn,
        |  CAST(nn * agree - (a1 * b1 + (nn - a1) * (nn - b1)) AS DOUBLE)
        |    / CAST(nn * nn - (a1 * b1 + (nn - a1) * (nn - b1)) AS DOUBLE)
        |    AS kappa
        |FROM m""".stripMargin,
    "q120_winsorize" ->
      """WITH base AS (SELECT doc_id, source,
        |    CAST(LEN(string_split(text,' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |r AS (SELECT base.*,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_toks, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM base),
        |cut AS (SELECT source, n_toks AS p95 FROM r
        |        WHERE rn = CAST(CEIL(n * 0.95) AS BIGINT))
        |SELECT base.doc_id, base.source, base.n_toks, cut.p95,
        |  LEAST(base.n_toks, cut.p95) AS clamped
        |FROM base JOIN cut ON cut.source = base.source
        |ORDER BY base.doc_id""".stripMargin,
    "q121_charset_gate" ->
      """WITH h AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
        |        FROM documents) t
        |  GROUP BY doc_id, c),
        |s AS (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS sq_sum,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt) AS BIGINT) AS n_bytes
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, n_bytes, sq_sum, n_distinct,
        |  CAST(sq_sum AS DOUBLE) / CAST(n_bytes * n_bytes AS DOUBLE)
        |    AS collision_prob,
        |  CAST(n_bytes * n_bytes AS DOUBLE) / CAST(sq_sum AS DOUBLE)
        |    AS eff_alphabet,
        |  (n_distinct >= 20 AND
        |   CAST(sq_sum AS DOUBLE) / CAST(n_bytes * n_bytes AS DOUBLE) <= 0.08)
        |    AS pass_gate
        |FROM s ORDER BY doc_id""".stripMargin,
    "q122_budget_mixture" ->
      """WITH base AS (SELECT doc_id, source,
        |    CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_toks,
        |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
        |  FROM base)
        |SELECT doc_id, source, n_toks FROM c
        |WHERE cum_excl < 700 ORDER BY doc_id""".stripMargin,
    "q129_length_batching" ->
      """WITH base AS (SELECT doc_id,
        |    CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |b AS (SELECT doc_id, n_toks, n_toks // 16 AS lb FROM base),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lb ORDER BY doc_id)
        |    AS rn FROM b),
        |g AS (SELECT lb, (rn - 1) // 8 AS batch_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |    MAX(n_toks) AS max_toks, CAST(SUM(n_toks) AS BIGINT) AS sum_toks
        |  FROM r GROUP BY 1, 2)
        |SELECT lb, batch_id, n_seqs, max_toks, sum_toks,
        |  n_seqs * max_toks AS padded,
        |  n_seqs * max_toks - sum_toks AS waste
        |FROM g ORDER BY lb, batch_id""".stripMargin,
    "q130_calibration" ->
      """WITH d AS (SELECT
        |    CAST(FLOOR(CAST(LEN(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and'))) AS DOUBLE) * 1000.0
        |      / CAST(LEN(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
        |      AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |g AS (SELECT score // 50 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(score) AS BIGINT) AS sum_score
        |  FROM d GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  CAST(sum_score AS DOUBLE) / CAST(n AS DOUBLE) AS mean_score,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
        |FROM g ORDER BY bin""".stripMargin,
    "q131_temperature_mixture" ->
      """WITH base AS (SELECT doc_id, source,
        |    CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |cs AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS tok_s
        |  FROM base GROUP BY source),
        |w AS (SELECT source,
        |    CAST(FLOOR(sqrt(CAST(tok_s AS DOUBLE)) * 1048576.0) AS BIGINT)
        |      AS w
        |  FROM cs),
        |sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sw FROM w),
        |b AS (SELECT source,
        |    CAST(FLOOR(8000.0 * (CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)))
        |      AS BIGINT) AS budget_s
        |  FROM w, sw),
        |c AS (SELECT base.doc_id, base.source, base.n_toks, b.budget_s,
        |    COALESCE(SUM(base.n_toks) OVER (PARTITION BY base.source
        |      ORDER BY base.h, base.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_excl
        |  FROM base JOIN b ON base.source = b.source)
        |SELECT doc_id, source, n_toks, budget_s FROM c
        |WHERE cum_excl < budget_s ORDER BY doc_id""".stripMargin,
    "q132_precision_at_k" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(FLOOR(CAST(LEN(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and'))) AS DOUBLE) * 1000.0
        |      / CAST(LEN(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
        |      AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |np AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos_total FROM d),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
        |    AS rn FROM d),
        |ks AS (SELECT CAST(k AS BIGINT) AS k
        |       FROM (VALUES (10), (50), (100), (200)) v(k)),
        |g AS (SELECT ks.k, CAST(SUM(r.pos) AS BIGINT) AS n_pos_at_k
        |  FROM r JOIN ks ON r.rn <= ks.k GROUP BY ks.k)
        |SELECT g.k, g.n_pos_at_k, np.n_pos_total,
        |  CAST(g.n_pos_at_k AS DOUBLE) / CAST(g.k AS DOUBLE) AS precision,
        |  CAST(g.n_pos_at_k AS DOUBLE) / CAST(np.n_pos_total AS DOUBLE)
        |    AS recall
        |FROM g, np ORDER BY k""".stripMargin,
    "q133_vocab_growth" ->
      """WITH base AS (SELECT source, string_split(text, ' ') AS t
        |  FROM documents),
        |u AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
        |  FROM (SELECT source, unnest(t) AS g FROM base) GROUP BY source),
        |b2 AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
        |  FROM (SELECT source, unnest(list_transform(range(1, LEN(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS g FROM base)
        |  GROUP BY source),
        |b3 AS (SELECT source, CAST(COUNT(DISTINCT g) AS BIGINT) AS d3
        |  FROM (SELECT source, unnest(list_transform(range(1, LEN(t) - 1),
        |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
        |    FROM base)
        |  GROUP BY source)
        |SELECT u.source, u.n_tokens, u.d1, b2.d2, b3.d3,
        |  CAST(u.d1 AS DOUBLE) / CAST(u.n_tokens AS DOUBLE) AS ttr
        |FROM u JOIN b2 ON u.source = b2.source
        |JOIN b3 ON u.source = b3.source
        |ORDER BY u.source""".stripMargin,
    "q134_setsim_join" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE LEN(string_split(text, ' ')) >= 3),
        |g0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(LEN(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
        |  FROM d),
        |sh AS (SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h FROM g0),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |dfq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1),
        |rk AS (SELECT sh.doc_id, sh.h, sz.n,
        |    ROW_NUMBER() OVER (PARTITION BY sh.doc_id
        |      ORDER BY dfq.df, sh.h) AS rn
        |  FROM sh JOIN dfq USING (h) JOIN sz ON sh.doc_id = sz.doc_id),
        |pf AS (SELECT * FROM rk WHERE rn <= n - ((4*n + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        |    a.n AS n1, b.n AS n2
        |  FROM pf a JOIN pf b ON a.h = b.h AND a.doc_id < b.doc_id
        |    AND 4 * GREATEST(a.n, b.n) <= 5 * LEAST(a.n, b.n)),
        |iv AS (SELECT d1, d2, n1, n2, COUNT(*) AS inter
        |  FROM cand JOIN sh x ON x.doc_id = cand.d1
        |    JOIN sh y ON y.doc_id = cand.d2 AND y.h = x.h
        |  GROUP BY 1, 2, 3, 4)
        |SELECT d1, d2, inter, (n1 + n2 - inter) AS uni,
        |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) AS jac
        |FROM iv WHERE 5 * inter >= 4 * (n1 + n2 - inter)
        |ORDER BY d1, d2""".stripMargin,
    "q136_exact_decontamination" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE LEN(string_split(text, ' ')) >= 3),
        |g0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(LEN(toks) - 2),
        |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS g
        |  FROM d),
        |sh AS (SELECT DISTINCT doc_id,
        |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h FROM g0),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |dfq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY 1),
        |rk AS (SELECT sh.doc_id, sh.h, sz.n,
        |    ROW_NUMBER() OVER (PARTITION BY sh.doc_id
        |      ORDER BY dfq.df, sh.h) AS rn
        |  FROM sh JOIN dfq USING (h) JOIN sz ON sh.doc_id = sz.doc_id),
        |pf AS (SELECT * FROM rk WHERE rn <= n - ((4*n + 4) // 5) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS tid,
        |    a.n AS n1, b.n AS n2
        |  FROM pf a JOIN pf b ON a.h = b.h
        |    AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |    AND 4 * GREATEST(a.n, b.n) <= 5 * LEAST(a.n, b.n)),
        |iv AS (SELECT bid, tid, n1, n2, COUNT(*) AS inter
        |  FROM cand JOIN sh x ON x.doc_id = cand.bid
        |    JOIN sh y ON y.doc_id = cand.tid AND y.h = x.h
        |  GROUP BY 1, 2, 3, 4)
        |SELECT bid AS bench_id, tid AS train_id, inter,
        |  (n1 + n2 - inter) AS uni,
        |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) AS jac
        |FROM iv WHERE 5 * inter >= 4 * (n1 + n2 - inter)
        |ORDER BY bench_id, train_id""".stripMargin,
    "q135_importance_resample" ->
      """WITH sc AS (SELECT doc_id,
        |    CAST(FLOOR(CAST(LEN(list_filter(string_split(text, ' '),
        |        x -> x IN ('the','a','of','and'))) AS DOUBLE) * 1000.0
        |      / CAST(LEN(string_split(text, ' ')) AS DOUBLE)) AS BIGINT)
        |      + 1 AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w,
        |    CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum,
        |    CAST(SUM(w) OVER () AS BIGINT) AS tw
        |  FROM sc)
        |SELECT doc_id, w,
        |  LEAST(200, (400 * cum + tw - 1) // (2 * tw))
        |    - LEAST(200, (400 * (cum - w) + tw - 1) // (2 * tw)) AS n_picks
        |FROM c
        |WHERE LEAST(200, (400 * cum + tw - 1) // (2 * tw))
        |    - LEAST(200, (400 * (cum - w) + tw - 1) // (2 * tw)) > 0
        |ORDER BY doc_id""".stripMargin)

  /** q99's body, exposed with a checkpoint toggle so PlanRegressionSpec
    * can see the WHOLE logical plan (localCheckpoint truncates lineage
    * into LogicalRDDs, hiding the candidate-bounding semi-join from the
    * final query's plan). `checkpoint = false` changes only plan
    * materialization, never semantics. `bigAt` is the measured-row-count
    * threshold for the merge guard (production default 100k; the spec
    * lowers it to exercise the big-corpus plan shape at test scale). */
  private[graft] def containment(s: SparkSession, dir: String,
                                 checkpoint: Boolean = true,
                                 bigAt: Long = 100000L): DataFrame = {
    def ckpt(df: DataFrame): DataFrame =
      if (checkpoint) graft.operators.Materialize(df) else df
    val docs = Tables.table(s, dir, "documents")
      .filter(TextFunctions.tokenCount(col("text")) >= 3)
    val d = ckpt(graft.functions.Signatures
      .minhash(docs, "doc_id", "text", 3, 64)
      .withColumn("bands", DedupFunctions.bandKeys(col("sig"), 16, 4)))
    val banded = d.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "bk")))
    val pairs = ckpt(banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()) // feeds the id semi-join AND the verify joins
    val ids = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    val grams = ckpt(docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        TextFunctions.wordNgrams(col("text"), 3).as("g")))
    // measured-size merge guard (the SetSimJoin.scala:100-117 idiom):
    // when the candidate-id gram frame is genuinely large, pin merge
    // joins so a tiny size ESTIMATE can never broadcast it; small
    // corpora keep the planner's broadcast freedom. |grams| ≤ 2·|pairs|
    // (one row per DISTINCT candidate id), and pairs is already
    // materialized — the guard costs a count over checkpointed longs,
    // not an extra pass over the gram arrays
    val big = 2L * pairs.count() >= bigAt
    def guarded(df: DataFrame): DataFrame = if (big) df.hint("merge") else df
    pairs
      .join(guarded(grams.select(col("doc_id").as("d1"), col("g").as("ga"))), "d1")
      .join(guarded(grams.select(col("doc_id").as("d2"), col("g").as("gb"))), "d2")
      .select(col("d1"), col("d2"),
        size(col("ga")).cast("bigint").as("na"),
        size(col("gb")).cast("bigint").as("nb"),
        size(array_intersect(col("ga"), col("gb")))
          .cast("bigint").as("inter"))
      .withColumn("cont",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("cont") >= 0.5)
      .orderBy("d1", "d2")
  }
}
