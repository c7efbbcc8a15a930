package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed (mapPartitions) signature computation for MinHash and SimHash.
  *
  * Why not Catalyst expressions: nested higher-order functions
  * (`transform`/`aggregate` with lambdas) are NOT whole-stage-codegen'd —
  * they evaluate interpreted, allocating per-element; and a 64-perm
  * signature expression referenced by 16 band expressions gets duplicated
  * by projection collapse into an enormous tree (observed: >100 ms/row
  * interpreted, optimizer blow-up on the banded self-join). A single
  * imperative pass per row is O(shingles·perms), allocates two arrays,
  * and stays fully distributed — this is the "genuine per-partition
  * imperative logic" case where `mapPartitions` is the idiomatic Spark
  * answer.
  *
  * Hashing is PORTABLE by construction: every hash is the first 60 bits
  * (15 hex chars) of an MD5 digest, which the DuckDB correctness oracle
  * reproduces bit-for-bit as `CAST('0x' || substr(md5(s), 1, 15) AS
  * BIGINT)`. That makes the whole shingle → minhash → band → bucket-join
  * pipeline oracle-checkable end to end (the round-1 murmur/xxhash
  * derivation was engine-specific, so the driver could only do rows-only
  * checks). MD5 here is a deterministic mixer, not a security boundary.
  */
object Signatures {

  /** The hash primitive behind a signature scheme — pluggable because
    * the two legitimate deployments want different things:
    *
    *   - [[Md5SigHasher]] (default): every hash is reproducible in any
    *     SQL engine from `md5(s)` substrings, so the whole shingle →
    *     minhash → band → bucket-join pipeline is oracle-checkable
    *     bit-for-bit. MD5 is the single dominant CPU cost of the
    *     signature pass.
    *   - [[Xxh64SigHasher]]: xxHash64 (Spark's own `XXH64`, the codegen
    *     backing of `functions.xxhash64`) — engine-specific, so only
    *     rows-only checks are possible, but several times cheaper per
    *     shingle. The production choice when no external oracle needs
    *     to replay the hashes.
    *
    * Each `scheme` id names the exact text → signature function.
    * Persisted artifacts are only comparable to signatures computed
    * under the SAME scheme, so [[graft.etl.CorpusManager]] stamps the
    * id into every committed manifest and refuses mismatched stores
    * loudly (switching hashers on a live corpus routes through
    * `migrateSignatureScheme()`). Scheme history: 1 = one md5 digest
    * per perm-pair (hex lanes per perm, round 1-2); 2 = two raw
    * Kirsch–Mitzenmacher families from two md5 digests per shingle
    * (rounds 3-8); 3 = the same raw KM construction over four seeded
    * xxHash64 lanes; 4 = the md5 KM values passed through the
    * [[finalize60]] order-decorrelating finalizer (current default —
    * see [[minhash]]'s scaladoc for the 2M-doc false-positive tail the
    * raw affine values carry); 5 = the xxh64 lanes under the same
    * finalizer. Bump/add an id on ANY change to the hashing or
    * [[wordShingles]] output.
    *
    * Implementations are objects (serializable singletons); the
    * per-partition factories exist because MessageDigest instances are
    * stateful and must not cross task threads. */
  trait SigHasher extends Serializable {
    def name: String
    def scheme: Long
    /** Per-partition instance: four independent 60-bit lanes per
      * shingle — (h0, h1) and (h2, h3) drive the two KM families. */
    def lanes(): Array[Byte] => (Long, Long, Long, Long)
    /** Per-partition instance: one 60-bit hash per token (the SimHash
      * vote hash). */
    def hash60(): String => Long
  }

  /** Oracle-reproducible md5 lanes (see [[SigHasher]]): two digests per
    * shingle, hex chars 1-15 and 16-30 of each. */
  object Md5SigHasher extends SigHasher {
    val name = "md5"
    val scheme = 4L
    def lanes(): Array[Byte] => (Long, Long, Long, Long) = {
      val md = MessageDigest.getInstance("MD5")
      val suffix = "#".getBytes(StandardCharsets.UTF_8)
      def split(d: Array[Byte]): (Long, Long) = {
        var v0 = 0L
        var i = 0
        while (i < 8) { v0 = (v0 << 8) | (d(i) & 0xffL); i += 1 }
        var v1 = 0L
        i = 7
        while (i < 15) { v1 = (v1 << 8) | (d(i) & 0xffL); i += 1 }
        (v0 >>> 4, v1 & 0x0FFFFFFFFFFFFFFFL) // hex chars 1..15, 16..30
      }
      gb => {
        md.reset()
        val (h0, h1) = split(md.digest(gb))
        md.reset()
        md.update(gb)
        md.update(suffix)
        val (h2, h3) = split(md.digest())
        (h0, h1, h2, h3)
      }
    }
    def hash60(): String => Long = {
      val md = MessageDigest.getInstance("MD5")
      s => md5_60(md, s)
    }
  }

  /** xxHash64 lanes: four seeded calls per shingle (~5× cheaper than
    * the two md5 digests — no per-digest allocation, ~0.1 ns/byte), each
    * `>>> 4` to the same non-negative 60-bit domain the md5 scheme
    * uses. Seeds are arbitrary distinct constants; stateless, so the
    * per-partition factories return shared closures. */
  object Xxh64SigHasher extends SigHasher {
    val name = "xxh64"
    val scheme = 5L
    private def xx(b: Array[Byte], seed: Long): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    def lanes(): Array[Byte] => (Long, Long, Long, Long) =
      gb => (xx(gb, 0L) >>> 4, xx(gb, 1L) >>> 4,
        xx(gb, 2L) >>> 4, xx(gb, 3L) >>> 4)
    def hash60(): String => Long =
      s => xx(s.getBytes(StandardCharsets.UTF_8), 0L) >>> 4
  }

  /** Scheme id of the DEFAULT (md5, oracle-checkable) hasher — what a
    * store ingested with default params is stamped with. */
  val SchemeVersion: Long = Md5SigHasher.scheme

  /** First 60 bits (15 hex chars) of md5(s) — always non-negative, so
    * signed-long MIN agrees between JVM and SQL engines. */
  private[graft] def md5_60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4 // drop the 16th hex char: 64 -> 60 bits
  }

  /** Low bit of the FIRST md5 hex char of `s` (0 or 1) — the Rademacher
    * ±1 coin used for hyperplane signs in [[VectorFunctions]]. Oracle
    * equivalent: `CAST('0x'||substr(md5(s),1,1) AS INTEGER) % 2`. */
  private[graft] def md5SignBit(s: String): Int = {
    val md = MessageDigest.getInstance("MD5")
    (md.digest(s.getBytes(StandardCharsets.UTF_8))(0) >> 4) & 1
  }

  /** Spread a thin input across the cluster before a CPU-heavy typed
    * pass: a small/single-file parquet scan arrives as one partition and
    * would hash on one core. No-op when the input is already at least as
    * parallel as the session (the 100 TB case — real inputs come
    * pre-partitioned, and a blind repartition there would be a
    * regression). The reshuffle moves only (id, text) rows.
    *
    * Decided without running a Spark job. An exchange-free plan (a file
    * scan, a pinned frame) knows its partition count from its RDD. A
    * plan with an exchange or a subquery fixes its count only when it
    * runs — `df.rdd` there executes every shuffle stage, and the
    * consumer then runs them again — so it is judged by its size
    * estimate: one that AQE could coalesce below `target` advisory-size
    * partitions is spread, a larger one is left alone. */
  private[functions] def spread(df: DataFrame): DataFrame = {
    // a streaming Dataset has no .rdd (and micro-batch inputs arrive
    // pre-partitioned by the source) — pass it through untouched so the
    // signature pipeline composes with Structured Streaming
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val thin = if (runsToPartition(df)) {
      val advisory = df.sparkSession.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(advisory) * target
    } else df.rdd.getNumPartitions < target
    if (thin) df.repartition(target) else df
  }

  /** True when `df`'s partition count is known only by running it: its
    * physical plan holds an exchange or a subquery (an adaptive plan
    * always does). */
  private def runsToPartition(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => true
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case p => p.subqueries.nonEmpty
    }

  /** Distinct word n-gram shingles, in first-seen order. Tokenization is
    * `split(" ", -1)` — trailing empty tokens kept — to match both Spark
    * SQL `split` and DuckDB `string_split`. */
  private def wordShingles(text: String, n: Int): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Array.empty[String]
    else {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i <= toks.length - n) {
        seen += toks.slice(i, i + n).mkString(" ")
        i += 1
      }
      seen.toArray
    }
  }

  /** Exploded distinct n-gram rows `(id, src, g)` — ONE imperative
    * tokenize+shingle pass per document. The SQL-expression route
    * (`explode(transform(sequence(...), i -> concat_ws(...)))`) inlines
    * an interpreted lambda into the Generate that re-runs `split(text)`
    * at every element_at site — observed 12× slower at sf0.1 (5.9 s vs
    * 0.45 s) than this typed pass. Same distinct-gram set as
    * [[TextFunctions.wordNgrams]] / the oracle's `SELECT DISTINCT`. */
  def ngramRows(df: DataFrame, idCol: String, srcCol: String,
                textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(srcCol), col(textCol)))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, src, text) =>
        wordShingles(text, n).iterator.map(g => (id, src, g))
      })
      .toDF(idCol, srcCol, "g")
  }

  /** POSITIONED n-gram rows `(id, pos, g)` — every occurrence with its
    * 0-based token offset, NOT the distinct set: span-level operators
    * (shared-substring dedup) need to know WHERE a gram sits so
    * adjacent shared grams can merge into maximal spans. Same
    * imperative single-pass rationale and `split(" ", -1)` contract as
    * [[ngramRows]]. */
  def ngramPosRows(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        if (t.length < n) Iterator.empty
        else (0 to t.length - n).iterator.map { i =>
          (id, i, t.slice(i, i + n).mkString(" "))
        }
      })
      .toDF(idCol, "pos", "g")
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03):
    * per document, hash every `k`-token gram, slide a `w`-gram window,
    * and keep each window's minimal hash (leftmost on ties) — the local
    * fingerprint-selection rule behind MOSS-style plagiarism and
    * substring-overlap detection. Guarantee: any run of ≥ w+k-1 tokens
    * shared verbatim by two documents shares at least one fingerprint;
    * expected density 2/(w+1) of the gram count. Documents with fewer
    * than `w` grams winnow a single whole-document window.
    *
    * One typed pass per row — gram hashing AND window minima are
    * document-local, so selection costs O(grams·w) CPU in the scan
    * stage with ZERO shuffle at any corpus size (the declarative form
    * would explode every gram into w window rows and shuffle the w×
    * stream to group per window). Hashes come from `hasher.hash60`
    * (default md5 — reproduced digit-for-digit by the DuckDB oracle;
    * pass [[Xxh64SigHasher]] for ungated production runs). */
  def winnowRows(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 4, w: Int = 8,
                 hasher: SigHasher = Md5SigHasher): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { it =>
        val h60 = hasher.hash60()
        it.flatMap { case (id, text) =>
          val t = text.split(" ", -1)
          val g = t.length - k + 1
          if (g <= 0) Iterator.empty
          else {
            val hv = Array.tabulate(g)(i => h60(t.slice(i, i + k).mkString(" ")))
            val out = scala.collection.mutable.LinkedHashSet.empty[Int]
            var j = 0
            val lastWin = math.max(0, g - w)
            while (j <= lastWin) {
              var best = j
              var p = j + 1
              val end = math.min(j + w, g)
              while (p < end) {
                if (hv(p) < hv(best)) best = p
                p += 1
              }
              out += best
              j += 1
            }
            out.iterator.map(p => (id, p, hv(p)))
          }
        }
      }
      .toDF(idCol, "pos", "hv")
  }

  /** Skip-gram pair rows `(a, b)` for token offsets 1..maxOff — one
    * imperative tokenize pass per document, for the same reason as
    * [[ngramRows]]: the HOF route (`explode(concat(transform(...)))`)
    * re-runs `split(text)` inside an interpreted lambda at every
    * `element_at` site (observed 5.4× slower on q71 at sf0.1).
    * Tokenization matches Spark SQL `split(text, " ")` / DuckDB
    * `string_split` (trailing empties kept). */
  def skipGramRows(df: DataFrame, textCol: String, maxOff: Int): DataFrame =
    skipGramRowsById(df.select(lit(0L).as("__sg_id"), col(textCol)),
      "__sg_id", textCol, maxOff).select("a", "b")

  /** [[skipGramRows]] carrying the document id — `(idCol, a, b)` — for
    * per-document aggregation (LM scoring, doc-level co-occurrence).
    * The single home of the pair-generation loop: tokenization must
    * stay `split(" ", -1)` (trailing empties kept) to match Spark SQL
    * `split` / DuckDB `string_split` in the oracle SQL. */
  def skipGramRowsById(df: DataFrame, idCol: String, textCol: String,
                       maxOff: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        for {
          i <- t.indices.iterator
          k <- 1 to maxOff
          if i + k < t.length
        } yield (id, t(i), t(i + k))
      })
      .toDF(idCol, "a", "b")
  }

  /** (id, sig: array<long>[perms]) — MinHash signatures over distinct
    * word n-gram shingles. TWO md5 digests per shingle (md5(g) and
    * md5(g + "#")) each yield two 60-bit base lanes (hex chars 1-15 and
    * 16-30), driving two INDEPENDENT Kirsch–Mitzenmacher double-hash
    * families: perm k < perms/2 hashes to `(h0 + k·h1) mod 2^60`, the
    * upper half to `(h2 + k'·h3) mod 2^60` — so the per-shingle cost is
    * two digests plus `perms` multiply-adds, instead of the `perms/2`
    * digests of the round-2 per-perm scheme (16× fewer; MD5 was the
    * dominant dedup-stage cost).
    *
    * Why two families, not one: with a single (h0, h1) pair, a shingle
    * that happens to minimize BOTH lanes is the argmin for EVERY k, so
    * a near-pair whose symmetric difference contains such a shingle
    * misses at ~(2/|shingles|)² probability REGARDLESS of its true
    * Jaccard — the 2M-doc rehearsal caught exactly this (4 of 60 000
    * planted edges lost). Independent halves square that floor away
    * (observed: none at 2M).
    *
    * Why the [[finalize60]] step (scheme 4/5): the RAW affine values
    * `h0 + k·h1` are order-correlated ACROSS k — as k sweeps, the
    * per-shingle values trace (wrapped) lines, and a SHARED shingle
    * whose line dominates one family's whole k-range in BOTH documents
    * matches at all 32 of that family's positions, pushing est-Jaccard
    * to exactly 0.5 for a pair whose true Jaccard is near zero. This
    * is the FALSE-POSITIVE twin of the single-family recall floor
    * above, and it is a tail event with a scale fuse: the 2M-doc
    * combined rehearsal measured 2 such merges in 1.6·10¹² pairs
    * (docs 572356↔268070, 997224↔336617: one shared trigram of six,
    * true J = 1/11, est ≥ 0.5 — invisible at 20k docs, a steady drip
    * of silent data loss at corpus scale). The finalizer
    * (xorshift-multiply-xorshift, mod 2^60) is a bijection per value,
    * so each position's argmin distribution — and therefore the
    * estimator's UNBIASEDNESS — is unchanged, but position ORDER
    * correlation dies: a pair now needs genuinely matching minima at
    * ≥ threshold·perms positions. 3 extra ALU ops per (shingle, perm);
    * md5 remains the dominant cost.
    *
    * Wrapped Long arithmetic is exact here: 2^60 divides 2^64, so the
    * `& mask` of the overflowed sum (and of the finalizer's multiply)
    * equals the true value mod 2^60, and the oracle reproduces both
    * with HUGEINT arithmetic on the same md5 substrings. Empty-shingle
    * docs get all-MaxValue sigs (callers that band-join should filter
    * them out first — two empty docs are not near-duplicates of each
    * other). */
  def minhash(df: DataFrame, idCol: String, textCol: String,
              ngram: Int, perms: Int): DataFrame =
    minhash(df, idCol, textCol, ngram, perms, Md5SigHasher)

  /** [[minhash]] under an explicit [[SigHasher]] — [[Xxh64SigHasher]]
    * for production runs that don't need oracle-replayable hashes. The
    * KM construction, shingling and signature layout are identical
    * across hashers; only the four base lanes change. */
  def minhash(df: DataFrame, idCol: String, textCol: String,
              ngram: Int, perms: Int, hasher: SigHasher): DataFrame =
    minhashCarrying(df, idCol, textCol, ngram, perms, Nil, hasher)

  /** [[minhash]] carrying extra columns through the signature pass
    * (the simhash `keep` idiom): one scan yields (id, keep..., sig)
    * instead of a signature/attribute join of two passes — on a
    * STREAMING input that join would be a watermarked stream-stream
    * join, so carrying is not just cheaper, it is what keeps the
    * streaming near-dup pipeline single-pass. */
  /** Order-decorrelating finalizer over the 60-bit KM values (scheme
    * 4/5): xorshift-30, odd multiply mod 2^60, xorshift-27. A bijection
    * on [0, 2^60) — argmin distributions (and estimator unbiasedness)
    * unchanged; the affine cross-perm ORDER correlation destroyed. The
    * multiplier is the positive-signed-64 MMIX LCG constant so both
    * Long-wrap (`& mask` after 2^64 wrap ≡ mod 2^60, since 2^60 | 2^64)
    * and the oracle's exact HUGEINT `% 2^60` produce identical bits. */
  @inline private[graft] def finalize60(a: Long): Long = {
    val mask60 = (1L << 60) - 1
    val b = a ^ (a >>> 30)
    val c = (b * 6364136223846793005L) & mask60
    c ^ (c >>> 27)
  }

  def minhashCarrying(df: DataFrame, idCol: String, textCol: String,
                      ngram: Int, perms: Int, keep: Seq[String],
                      hasher: SigHasher = Md5SigHasher): DataFrame = {
    require(perms % 2 == 0, "perms must be even (two hash families)")
    val mask60 = (1L << 60) - 1
    val half = perms / 2
    val in = spread(df.select(
      (col(idCol).cast("long") +: keep.map(col)) :+ col(textCol): _*))
    val outSchema = org.apache.spark.sql.types.StructType(
      in.schema.fields.dropRight(1) :+
        org.apache.spark.sql.types.StructField("sig",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val textIdx = in.schema.fields.length - 1
    in.mapPartitions { it =>
      val lanes = hasher.lanes()
      it.map { r =>
        val sh = wordShingles(r.getString(textIdx), ngram)
        val sig = Array.fill(perms)(Long.MaxValue)
        var j = 0
        while (j < sh.length) {
          val gb = sh(j).getBytes(StandardCharsets.UTF_8)
          val (h0, h1, h2, h3) = lanes(gb)
          var k = 0
          var v = h0
          while (k < half) {
            val vm = finalize60(v & mask60)
            if (vm < sig(k)) sig(k) = vm
            v += h1
            k += 1
          }
          v = h2
          while (k < perms) {
            val vm = finalize60(v & mask60)
            if (vm < sig(k)) sig(k) = vm
            v += h3
            k += 1
          }
          j += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1) :+ sig.toSeq)
      }
    }.toDF()
  }

  /** (id, simhash: long) — 60-bit SimHash over whitespace tokens
    * (multiset: repeated tokens vote repeatedly). Bit b is set iff the
    * ±1 votes from bit b of each token's md5_60 sum positive. 60 bits
    * (not 64) so the token hash and the signature both round-trip
    * through the oracle's 15-hex-char BIGINT parse. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(df, idCol, textCol, Nil)

  /** [[simhash]] carrying extra columns through the signature pass, so
    * callers that need (id, md5, simhash) — e.g. the q52 star-edge
    * collapse — get both signatures from ONE scan instead of a join of
    * two passes. `keep` columns ride along untouched. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              keep: Seq[String]): DataFrame =
    simhash(df, idCol, textCol, keep, Md5SigHasher)

  /** [[simhash]] under an explicit [[SigHasher]] (see [[minhash]]'s
    * hasher overload): same vote construction, pluggable token hash. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              keep: Seq[String], hasher: SigHasher): DataFrame = {
    val in = spread(df.select(
      (col(idCol).cast("long") +: keep.map(col)) :+ col(textCol): _*))
    val outSchema = org.apache.spark.sql.types.StructType(
      in.schema.fields.dropRight(1) :+
        org.apache.spark.sql.types.StructField(
          "simhash", org.apache.spark.sql.types.LongType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val textIdx = in.schema.fields.length - 1
    in.mapPartitions { it =>
      val h60 = hasher.hash60()
      val counts = new Array[Int](60)
      it.map { r =>
        val text = r.getString(textIdx)
        java.util.Arrays.fill(counts, 0)
        text.split(" ", -1).foreach { t =>
          val h = h60(t)
          var i = 0
          while (i < 60) {
            if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
            i += 1
          }
        }
        var sh = 0L
        var i = 0
        while (i < 60) {
          if (counts(i) > 0) sh |= (1L << i)
          i += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1) :+ sh)
      }
    }
  }
}
