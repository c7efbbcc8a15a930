package graft

import graft.etl.CorpusManager
import graft.functions.{BpeOps, DedupFunctions, DedupPipeline, Signatures,
  TextFunctions, UnigramOps, VectorFunctions}
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.multimodal.Multimodal
import graft.operators.{GraphOps, Packing, RankSelect, SetSimJoin}
import graft.operators.Materialize.Pinning
import graft.sources.{GriddedStore, StoreSink}
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `Probe scale` rehearsals: each generates `n` rows of planted
  * data distributively (`spark.range`, no driver-side rows; the values
  * come from [[ScaleData]]), runs one engine path over it, prints stage
  * wall times and REQUIRES the planted answer — a correctness-at-scale
  * check first and a stopwatch second.
  *
  * `mode` selects an existing engine parameter where a scenario has
  * one (the first listed mode is the default): the media hash scheme,
  * the signature hasher, the streaming state store.
  *
  * Serializable: the `combined` row generator is a def nested in its
  * scenario (it closes over nInit), so its lambdas capture this module
  * instance; a module marker serializes for free. */
object ScaleScenarios extends Serializable {

  final case class Scenario(name: String, defaultN: Int, modes: Seq[String],
                            run: (SparkSession, Int, String) => Unit)

  val all: Seq[Scenario] = Seq(
    Scenario("gridded", 2000, Nil, gridded),
    Scenario("setsim", 200000, Nil, setsim),
    Scenario("snd", 100000, Seq("heap", "rocksdb"), snd),
    Scenario("unigram", 2000000, Nil, unigram),
    Scenario("media", 100000, Seq("1", "2"), media),
    Scenario("combined", 200000, Nil, combined),
    Scenario("graph", 1000000, Nil, graph),
    Scenario("text", 500000, Seq("md5", "xxh64"), text),
    Scenario("vec", 200000, Nil, vec),
    Scenario("bpe", 2000000, Nil, bpe),
    Scenario("quantile", 20000000, Nil, quantile),
    Scenario("gate", 500000, Nil, gate),
    Scenario("cdc", 500000, Seq("md5", "xxh64"), cdc),
    Scenario("pack", 10000000, Nil, pack),
    Scenario("stream", 200, Nil, stream),
    Scenario("exactverify", 200000, Nil, exactVerify))

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.1fs")
    r
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A temp dir deleted at JVM exit: a large run writes GBs of committed
    * corpus + artifacts, and stale roots from earlier runs ENOSPC'd a
    * later one mid-ingest. */
  private def scratchRoot(prefix: String): String = {
    val root = tmp(prefix)
    sys.addShutdownHook {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    root
  }

  private def sigHasher(mode: String): Signatures.SigHasher =
    if (mode == "xxh64") Signatures.Xxh64SigHasher else Signatures.Md5SigHasher

  /** The planted-cluster corpus of `text` and `exactverify`: doc
    * i%100==1 copies i-1 exactly; i%100==2 copies i-2 with the last
    * token changed; everything else is its own 60-token random text
    * over a 5k-word vocabulary. */
  private def clusterDocs(spark: SparkSession, nDocs: Int): DataFrame = {
    val r = pmod(col("id"), lit(100))
    val seed = col("id") - when(r === 1, 1L).when(r === 2, 2L).otherwise(0L)
    spark.range(nDocs).select(col("id").as("doc_id"),
        ScaleData.words(60)(j => when(j === 59 && r === 2,
            concat(lit("w"), pmod(col("id"), lit(5000)) + 5000))
          .otherwise(ScaleData.word(seed, j, 5000))).as("text"))
      .materialize()
  }

  /** Gridded store: an `nDays` × 112 × 112 cube (~25M cells at the
    * default) pushed through initial write → point select → region
    * insert → full-scan aggregate. Driver memory stays flat because
    * only the descriptor and the distinct-time axis ever reach it. */
  def gridded(spark: SparkSession, nDays: Int, mode: String): Unit = {
    val DAY = 86400000000L
    def cube(from: Int, until: Int, off: Double) =
      ScaleData.cube(spark, from, until, off)
    val store = new GriddedStore(tmp("scale"), spark)
    val d = DatasetDescriptor("scale", "precip", Category.Observation,
      None, DAY, ChunkGrid(timeBucketUs = 100 * DAY, maxRecordsPerFile = 2000000))

    val midDay = nDays / 2L
    val insDay = (nDays * 7L) / 10L
    timed(s"write_initial ${nDays}d x 112 x 112 = ${nDays.toLong * 112 * 112} cells") {
      store.writeInitial(cube(0, nDays, 0.0), d)
    }
    timed("point_select") {
      val v = store.read().where(col("time") === midDay * DAY &&
        col("latitude") === -14.0 && col("longitude") === 10.0)
        .select("precip").collect()
      require(v.length == 1)
    }
    timed("range_slice_agg (30d window)") {
      store.read().where(col("time").between(midDay * DAY, (midDay + 30) * DAY))
        .agg(avg("precip"), count(lit(1))).collect()
    }
    timed("insert_10d_region") {
      store.update(cube(insDay.toInt, insDay.toInt + 10, 50000.0))
    }
    timed("full_scan_agg") {
      val r = store.read().groupBy(expr("time div 31536000000000").as("year"))
        .agg(count(lit(1)).as("n"), avg("precip")).collect()
      require(r.length >= nDays / 366)
    }
    val verify = store.read().where(col("time") === (insDay + 5) * DAY &&
      col("latitude") === -14.0 && col("longitude") === 10.0)
      .select("precip").collect()(0).getDouble(0)
    println(s"PROBE inserted region visible: ${verify > 50000.0}")
    println(s"PROBE rows total: ${store.read().count()}")
  }

  /** The EXACT prefix-filtered set-similarity join (q134's engine): N
    * docs of 43 tokens, every 50th doc followed by a 2-token-changed
    * near copy (3-gram Jaccard ≥ 0.72 by construction — 2 edits alter
    * ≤ 6 of ~41 grams per side). Perfect recovery is REQUIRED: exactly
    * the planted (i−1, i) pairs at threshold 3/5, nothing else.
    *
    * The adversarial detail: EVERY doc opens with the same boilerplate
    * header, so three grams have document frequency N. A naive
    * inverted-index join would generate ~N²/2 candidates from those
    * grams alone; the canonical rarest-first order puts them at the END
    * of each doc's gram list, outside every prefix, so they generate
    * ZERO candidates — the rehearsal finishing at all is the
    * demonstration, and the planted-pair exactness shows the pruning
    * loses nothing. */
  def setsim(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    // doc i%50==1 copies i-1 with tokens 10 and 25 replaced by a
    // copy-unique marker; all docs share the 3-token boilerplate header
    val isCopy = pmod(col("id"), lit(50)) === 1
    val seed = col("id") - when(isCopy, 1L).otherwise(0L)
    val body = ScaleData.words(40)(j =>
      when(isCopy && (j === 10 || j === 25),
        concat(lit("m"), pmod(col("id"), lit(999983)), lit("x"), j))
        .otherwise(ScaleData.word(seed, j, 5000)))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("corpus header boilerplate "), body).as("text"))
      .repartition(64)
      .materialize()
    println(s"PROBE corpus ${docs.count()} docs")

    val grams = docs.select(col("doc_id"),
      TextFunctions.wordNgrams(col("text"), 3).as("grams"))
    val pairs = timed("setsim_join t=3/5") {
      SetSimJoin.join(grams, "doc_id", "grams", 3, 5)
        .select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val expected = (0L until nDocs.toLong)
      .filter(_ % 50 == 1).map(i => (i - 1, i)).toSet
    require(pairs == expected,
      s"recovery imperfect: ${expected.size} planted, ${pairs.size} found; " +
        s"missing=${expected.diff(pairs).take(3)} extra=${pairs.diff(expected).take(3)}")
    println(s"PROBE recovered ${pairs.size}/${expected.size} planted pairs, 0 extra")
  }

  /** [[graft.streaming.StreamingNearDup]]: N docs on a LONG time axis
    * (one per minute — the stream shape where bounded state is the
    * whole game), 4 band rows each, fed through the real engine as 16
    * ascending time-slice micro-batches from one checkpoint.
    *
    * Planted signal:
    *  - every 50th doc re-uses its predecessor's band keys at +1 min
    *    (inside the 45-min ttl) → MUST flag;
    *  - every 97th doc re-uses the keys of the doc 5000 min earlier
    *    (far outside ttl) → MUST NOT flag — the stale-band case that
    *    distinguishes TTL semantics from plain key-collision dedup.
    * Required: streamed verdicts == the planted set == the batch twin.
    *
    * It also asserts MAX STATE ROWS across micro-batches against the
    * operator's real bound: O(band rows per WATERMARK INTERVAL + keys
    * within one ttl window) — rows of the in-flight batch wait in state
    * until the next batch's watermark finalizes them, and a finalized
    * key is evicted exactly once the watermark passes lastSeen + ttl.
    * Stream LENGTH never appears in the bound: a number near the corpus
    * size (N×4) falsifies the eviction argument. (A first run with a
    * 4-slice feed held 97k state rows — the bound working as
    * documented: the slice spanned 25k minutes of event time, so a
    * quarter of the corpus was legitimately in flight. Production
    * triggers are seconds wide.)
    *
    * mode `rocksdb` runs on [[GraftSession.streamingStateConf]] — the
    * production provider, state on disk instead of heap. */
  def snd(spark: SparkSession, n: Int, mode: String): Unit = {
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    if (mode == "rocksdb") {
      GraftSession.streamingStateConf.foreach { case (k, v) =>
        spark.conf.set(k, v) }
      println("PROBE state store: RocksDB (changelog checkpointing)")
    }
    import spark.implicits._
    val MinUs = 60000000L
    val Base = 1704067200000000L
    val Ttl = 45 * MinUs
    val Bands = 4

    // band rows, generated distributively. `seed` = the doc whose keys
    // this doc carries: its predecessor (copies), the doc 5000 back
    // (stale case), else itself. Keys are unique per (band, seed) in a
    // 2^64 space — planted collisions only.
    val isCopy = pmod(col("id"), lit(50)) === 1
    // a stale doc must never be a copy's predecessor (id % 50 == 0): the
    // copy re-uses keys "of doc id", which a stale predecessor never
    // emitted — the planted flag would silently vanish
    val isStale = pmod(col("id"), lit(97)) === 2 && col("id") >= 5000 &&
      pmod(col("id"), lit(50)) =!= 0 && !isCopy
    val seed = when(isCopy, col("id") - 1)
      .when(isStale, col("id") - 5000).otherwise(col("id"))
    val rows = spark.range(n)
      .select(col("id"), (lit(Base) + col("id") * MinUs).as("us"),
        seed.as("s"))
      .select(col("id"), col("us"), col("s"),
        explode(sequence(lit(0), lit(Bands - 1))).as("bandIdx"))
      .select(col("id").as("docId"), col("us"), col("bandIdx"),
        concat(lit("b"), col("bandIdx"), lit("-"),
          xxhash64(col("s"), col("bandIdx"))).as("bandKey"))
      .materialize()
    println(s"PROBE corpus $n docs, ${n * Bands} band rows")

    // feed: 16 ascending time slices + a sentinel, single file each.
    // The state bound is O(band rows per WATERMARK INTERVAL + keys in
    // one ttl window): rows of the in-flight batch wait in state until
    // the next batch's watermark finalizes them, so slice width — not
    // stream length — sets the state high-water mark (in production the
    // interval is a trigger period, not n/16 minutes).
    val Parts = 16
    val in = tmp("snd-in")
    val out = tmp("snd-out")
    val ckpt = tmp("snd-ck")
    val qw = n.toLong / Parts
    (0 until Parts).foreach { i =>
      rows.filter(col("docId") >= i * qw &&
          (col("docId") < (i + 1) * qw || lit(i == Parts - 1)))
        .coalesce(1).write.parquet(f"$in/p=$i%02d")
    }
    (0 until Bands).map(b => (-1L, Base + (n + 10000L) * MinUs, b, s"sent-$b"))
      .toDF("docId", "us", "bandIdx", "bandKey")
      .coalesce(1).write.parquet(s"$in/p=$Parts")

    var maxState = 0L
    timed(s"stream n=$n") {
      val src = spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "1 minute")
        .select(col("docId"), col("us"), col("bandIdx"), col("bandKey"),
          col("ts"))
        .as[(Long, Long, Int, String, java.sql.Timestamp)]
      val q = StreamingNearDup
        .flagContinuous(src, Ttl, Bands)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      maxState = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max)
    }
    val sliceRows = qw * Bands
    println(s"PROBE max state rows across batches: $maxState " +
      s"(one slice: $sliceRows, corpus: ${n * Bands})")
    // the documented bound: one watermark-interval of in-flight rows
    // plus the ttl window of live keys — and never the corpus
    require(maxState > 0 && maxState < 2 * sliceRows + 10L * Ttl / MinUs,
      s"state not bounded by the watermark interval: $maxState rows")

    val got = spark.read.parquet(out)
      .filter(col("docId") >= 0 && col("nearDup"))
      .select("docId").as[Long].collect().toSet
    val expectedFlags = (0L until n.toLong).filter(_ % 50 == 1).toSet
    require(got == expectedFlags,
      s"flags wrong: expected ${expectedFlags.size}, got ${got.size}; " +
        s"missing=${expectedFlags.diff(got).take(3)} " +
        s"extra=${got.diff(expectedFlags).take(3)}")
    println(s"PROBE flags exact: ${got.size}/${expectedFlags.size}, " +
      "0 stale-band false positives")

    // batch-twin parity on the same frame (the spec's property, at scale)
    val twin = timed("batch twin") {
      StreamingNearDup
        .flagBatch(rows.toDF("docId", "timeUs", "bandIdx", "bandKey"), Ttl)
        .filter(col("nearDup")).select("docId").as[Long].collect().toSet
    }
    require(twin == got, "streamed != batch twin")
    println("PROBE streamed == batch twin")
  }

  /** Unigram-LM (hard-EM) tokenizer training: N docs of 40 tokens over a
    * 20k-word vocabulary. The corpus is touched exactly once (word
    * counts); the substring explode, every Viterbi round and the piece
    * re-counts all run on the vocab-sized word table, so round time
    * must stay FLAT as N grows — the same discipline that makes BPE
    * trainable at 100 TB, applied to the SentencePiece family.
    * REQUIRED: a planted high-frequency bigram piece survives both EM
    * rounds; every round's vocab is a subset of the previous; encode
    * conserves whitespace token counts exactly at corpus scale. */
  def unigram(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    // every doc carries the planted marker word "qz" once; organic words
    // are wNNNN over a 20k vocabulary (4-5 chars after the w prefix)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(ScaleData.words(40)(ScaleData.word(col("id"), _, 20000)),
          lit(" qz")).as("text"))
      .materialize()

    val words = timed("word_counts (the one corpus-sized job)") {
      val w = BpeOps.wordCounts(docs, "text").materialize()
      println(s"PROBE vocab ${w.count()} distinct words")
      w
    }

    val subs = timed("substring_counts (vocab-sized)") {
      val s = UnigramOps.substringCounts(words).materialize()
      println(s"PROBE pieces ${s.count()} candidate substrings")
      s
    }
    val vocab0 = UnigramOps.seedVocab(subs).materialize()
    var probs = timed("seed_prob_collect")(UnigramOps.probMap(vocab0))
    println(s"PROBE seed-vocab ${probs.size} pieces")

    var prevPieces = probs.keySet
    (1 to 3).foreach { r =>
      val v = timed(s"em_round_$r (vocab-sized viterbi + recount)") {
        val x = UnigramOps.emRound(words, probs).materialize()
        x.count(); x
      }
      probs = UnigramOps.probMap(v)
      require(probs.keySet.subsetOf(prevPieces),
        s"round $r grew the vocab — hard EM must only prune")
      prevPieces = probs.keySet
      println(s"PROBE round_$r vocab ${probs.size} pieces")
    }
    // the marker word is one token per doc; its pieces' counts must
    // carry at least nDocs uses total (it segments to qz or q+z)
    val qzMass = probs.keySet.filter(p => p == "qz" || p == "q" || p == "z")
    require(qzMass.nonEmpty, "planted marker pieces vanished")

    val enc = timed("encode (one corpus join)") {
      UnigramOps.encodeDocCounts(docs, "doc_id", "text", probs)
        .agg(sum("n_tokens"), sum("n_units")).collect()(0)
    }
    val nTokens = enc.getLong(0)
    require(nTokens == nDocs.toLong * 41,
      s"token conservation broke: $nTokens != ${nDocs.toLong * 41}")
    println(s"PROBE encode tokens=$nTokens units=${enc.getLong(1)}")
  }

  /** Perceptual-media ingest: N docs with 64×64 grayscale images
    * (every 40th initial doc is followed by a 4×4-patch near copy, and
    * every 50th shard doc reuses a corpus image) and globally unique
    * texts — only the MEDIA signal can dedup. Recovery is REQUIRED
    * within the pHash tail (≤0.5% of planted pairs may exceed the
    * Hamming radius — noise robustness is probabilistic; the blocking
    * guarantee is exact AT the radius). The per-doc cost is real
    * decode+DCT work (pHash), so this also measures the hashing pass.
    *
    * False-positive accounting is BIRTHDAY-BOUNDED, not zero: a 63-bit
    * hash at radius 4 puts P(random pair ≤ 4 Hamming) at
    * Σ₀⁴C(63,k)/2⁶³ ≈ 6.9·10⁻¹⁴, so the ~6.5·10¹² intra pairs of a
    * 3.6M-doc corpus expect ~0.45 random merges and the first one
    * LANDED at the 4M run (8001 drops vs 8000 planted, invisible at
    * 400k). The scheme-1 stages therefore allow a 5×-expectation
    * Poisson tail of extra drops and refuse beyond it. The 100-TB
    * posture this encodes: at billions of images a 64-bit pHash WILL
    * merge unrelated pairs at radius 4 — production-scale corpora want
    * a longer perceptual hash (256-bit from a 16×16 DCT) or a tighter
    * radius, and the blocking machinery (Multimodal.hashBlocks) is
    * width-agnostic.
    *
    * mode = the manager's hash scheme. Scheme 2 (radius 16 = 4× the
    * narrow 4) drops the birthday allowance to ZERO — at 252 bits a
    * single extra drop is a defect, not a tail event — and, because its
    * manager stages already run the wide path end to end, skips the
    * standalone 252-bit stage that scheme 1 runs last. */
  def media(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    import spark.implicits._
    val scheme = mode.toInt
    val nInit = nDocs * 9 / 10
    // initial: id%40==1 docs carry a near copy of id-1's image
    val init = spark.range(nInit).as[Long].mapPartitions(_.map { id =>
      val near = id % 40 == 1
      val seed = if (near) (id - 1).toInt else id.toInt
      (id, (0 until 10).map(j => s"t${id}x$j").mkString(" "), "web",
        ScaleData.img(seed, near))
    }).toDF("doc_id", "text", "source", "media").materialize()
    // shard: id%50==0 docs reuse (near) the image of corpus doc id-nInit
    val shard = spark.range(nInit.toLong, nDocs.toLong).as[Long]
      .mapPartitions(_.map { id =>
        val cross = id % 50 == 0
        val seed = if (cross) (id - nInit).toInt else id.toInt
        (id, (0 until 10).map(j => s"t${id}x$j").mkString(" "), "web",
          ScaleData.img(seed, cross))
      }).toDF("doc_id", "text", "source", "media").materialize()
    println(s"PROBE corpus ${init.count()} + shard ${shard.count()} docs")

    val m = new CorpusManager("media_probe", scratchRoot("media_probe"), spark,
      numBuckets = 8, minTokens = 2, mediaCol = Some("media"),
      mediaMaxHamming = if (scheme == 2) 16 else 4, mediaScheme = scheme)
    // planted expectations: initial drops = #ids ≡ 1 (mod 40) in
    // [0, nInit) whose BASE seed maps to a distinct image; every near
    // copy pairs with its base, nothing else collides (distinct seeds
    // give uncorrelated hashes)
    val expInitDrop = (0 until nInit).count(_ % 40 == 1)
    // birthday allowance for EXTRA drops (see scaladoc): 5× the
    // expected random near-collision count of the stage's pair volume
    val pNear = (0 to 4).map { k =>
      (0 until k).map(i => (63 - i).toDouble / (i + 1)).product
    }.sum / math.pow(2.0, 63)
    // scheme 2's collision floor is ~10^-47 at radius 16/252: the
    // allowance is EXACTLY zero — that is the scheme's whole point
    def allowRandom(pairs: Double): Long =
      if (scheme == 2) 0L else math.ceil(5.0 * pNear * pairs).toLong
    val r0 = timed("initial_ingest")(m.ingestInitial(init))
    // the patch perturbation lands a planted pair beyond the radius for
    // a sub-0.1% tail (pHash noise robustness is probabilistic; the
    // BLOCKING guarantee is exact AT the radius) — tolerate 0.5% down,
    // and only the birthday allowance of extra drops up
    require(r0.duplicates <= expInitDrop + allowRandom(nInit.toDouble * nInit / 2) &&
      r0.duplicates >= expInitDrop - math.max(1, expInitDrop / 200),
      s"initial: $r0, expected ~$expInitDrop dups")
    // shard cross dups: ids ≡ 0 (mod 50) whose referenced corpus seed
    // has a SURVIVING holder of its base pixels. A referenced seed ≡ 1
    // (mod 40) points at a corpus doc that itself carried its
    // PREDECESSOR's patched image (and was dropped) — no surviving doc
    // holds img(seed), so that shard copy is genuinely fresh.
    val expCross = (nInit until nDocs)
      .count(id => id % 50 == 0 && (id - nInit) % 40 != 1)
    val r1 = timed("shard_ingest")(m.ingestShard(shard))
    val shardPairs = nInit.toDouble * (nDocs - nInit) +
      (nDocs - nInit).toDouble * (nDocs - nInit) / 2
    require(r1.duplicates <= expCross + allowRandom(shardPairs) &&
      r1.duplicates >= expCross - math.max(1, expCross / 200),
      s"shard: $r1, expected ~$expCross dups")
    println(s"PROBE recovery (scheme $scheme): ${r0.ingested}+${r1.ingested} keepers, " +
      s"${r0.duplicates}/${expInitDrop} + ${r1.duplicates}/$expCross media " +
      (if (scheme == 2) "dups dropped (EXACT — zero birthday allowance at 252 bits)"
       else "dups dropped (extra drops birthday-bounded, see scaladoc)"))
    if (scheme != 2) mediaWide(spark, nDocs, nInit)
  }

  /** The 252-bit hash at the same scale. The wide hash's point is ZERO
    * birthday exposure (P(random pair ≤ 16 of 252) ≈ 10⁻⁴⁷): the same
    * corpus that hands the 63-bit hash a false merge must produce NOT
    * ONE pair outside the planted seed groups. Radius 16 holds every
    * planted patch pair (measured base-vs-patch distance 2-14 over this
    * generator) with distinct bases ≥ 44 away; combo is cost-sized
    * (comboForCost, whose emitWeight was calibrated by this stage's 4M
    * A/B: combo 1 582 s vs combo 2 480 s, identical pair sets). */
  private def mediaWide(spark: SparkSession, nDocs: Int, nInit: Int): Unit = {
    import spark.implicits._
    // shard docs patch on SEED arithmetic ((id - nInit) % 50), the same
    // convention the expected-pair sets below use — patching on the
    // global id agrees only when nInit happens to be a multiple of 50,
    // and any other nDocs would misclassify planted pairs as extras
    val all = spark.range(nDocs.toLong).as[Long].mapPartitions(_.map { id =>
      val (seed, patch) =
        if (id < nInit) { if (id % 40 == 1) (id - 1, true) else (id, false) }
        else { if ((id - nInit) % 50 == 0) (id - nInit, true) else (id, false) }
      (id, ScaleData.img(seed.toInt, patch))
    }).toDF("doc_id", "media")
    val wh = timed("wide_hash_pass")(
      Multimodal.perceptualHashesWide(all, "doc_id", "media").materialize())
    val nW = wh.count().toDouble
    val comboW = Multimodal.comboForCost(nW, nW * nW / 2, 16, bits = 252)
    val found = timed(s"wide_hamming_join(combo=$comboW)")(
      Multimodal.hammingPairsWide(wh, 16, comboW)
        .select("id1", "id2").as[(Long, Long)].collect().toSet)
    // expected pairs from seed-group arithmetic: seed s is carried by
    // corpus doc s (unpatched, s%40≠1), corpus doc s+1 (patched,
    // (s+1)%40==1) and shard doc s+nInit (patched, s%50==0)
    // a shard twin s+nInit exists only for seeds below the shard size
    val nShard = nDocs - nInit
    val exactPairs = (0 until nInit).collect {
      case s if s % 200 == 0 && s + 1 < nInit && s < nShard =>
        (s.toLong + 1, s.toLong + nInit) // identical patched bytes
    }.toSet
    val basePatch = scala.collection.mutable.Set[(Long, Long)]()
    var s = 0
    while (s < nInit) {
      if (s % 40 != 1) {
        if ((s + 1) % 40 == 1 && s + 1 < nInit) basePatch += ((s.toLong, s.toLong + 1))
        if (s % 50 == 0 && s < nShard) basePatch += ((s.toLong, s.toLong + nInit))
      }
      s += 1
    }
    val expectedW = exactPairs ++ basePatch
    val extras = found.diff(expectedW)
    val missedExact = exactPairs.diff(found)
    val missedPatch = basePatch.diff(found)
    require(extras.isEmpty,
      s"wide hash produced ${extras.size} pairs outside the seed groups: ${extras.take(5)}")
    require(missedExact.isEmpty,
      s"identical patched twins missed: ${missedExact.take(5)}")
    require(missedPatch.size <= basePatch.size / 200,
      s"${missedPatch.size}/${basePatch.size} base-patch pairs beyond radius 16")
    println(s"PROBE wide: ${found.size}/${expectedW.size} pairs " +
      s"(${missedPatch.size} patch-tail misses, ZERO extras at 252 bits)")
  }

  /** COMBINED multimodal corpus lifecycle: one CorpusManager run over
    * docs carrying text + media + embedding columns TOGETHER, with
    * planted duplicates in each family on disjoint id classes so the
    * keep/drop accounting is exact PER FAMILY. The single-family
    * scenarios (text, media, vec) cannot see cross-family interactions
    * — a join strategy cliff that only appears when the binary media
    * column rides through the text-dedup lineage, a dup graph whose
    * components mix families, artifact commits for all three signals
    * under ONE manifest swap — and this one exists to catch exactly
    * those.
    *
    * Id classes (mod 40), initial corpus: r=1 is a TEXT near copy of
    * r=0 (one token appended; fresh media+emb), r=3 reuses r=2's MEDIA
    * near-identically (fresh text+emb), r=5 is an EMB near copy of r=4
    * (cos ≈ 0.995; fresh text+media). Shard docs reference corpus seeds
    * s = id − nInit: s%40==10/20/30 are text/media/emb dups of corpus
    * doc s. Everything else is fresh in every family.
    *
    * Media runs under SCHEME 2 (252-bit wide hash, radius 16): the
    * birthday allowance is ZERO — any corpus-side false merge is a
    * defect. Text recall at the planted Jaccard (~0.9 on trigrams) is
    * 1−4·10⁻¹² per pair under the 16×4 banding — misses allowed at
    * 0.2% for the pHash-style tail discipline only. Embedding recall is
    * honestly probabilistic (8-table×12-bit hyperplane LSH intra,
    * top-cell IVF probe cross — the documented boundary hole), so the
    * emb classes tolerate a 2% miss tail; EXTRA drops in any family are
    * refused outright. The drift gate runs armed (minVocabContainment)
    * over a shared 1000-token vocabulary and must pass — the same run
    * proves the gate does not false-fire on an in-distribution shard. */
  def combined(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    import spark.implicits._
    val nInit = nDocs * 9 / 10
    // One row: every family's payload, dup classes on disjoint residues.
    // A near copy must reference its partner's GENERATOR SEED exactly:
    // fresh text/emb seeds are offset by family (1e9/2e9 + global id)
    // so cross-family and fresh/fresh collisions are impossible; media
    // seeds are the plain global id (the seed spaces of corpus fresh
    // docs and shard fresh docs are disjoint id ranges, and a shard
    // media-dup deliberately reuses corpus doc s's seed).
    def row(id: Long, isShard: Boolean): (Long, String, String, Array[Byte], Array[Float]) = {
      val s = if (isShard) id - nInit else id
      val r = s % 40
      val (tSeed, tNear) =
        if (!isShard && r == 1) (1000000000L + (id - 1), true)
        else if (isShard && r == 10) (1000000000L + s, true)
        else (1000000000L + id, false)
      val (mSeed, mPatch) =
        if (!isShard && r == 3) (id - 1, true)
        else if (isShard && r == 20) (s, false) // identical corpus bytes
        else (id, false)
      val (eSeed, eNear) =
        if (!isShard && r == 5) (2000000000L + (id - 1), true)
        else if (isShard && r == 30) (2000000000L + s, true)
        else (2000000000L + id, false)
      val src = if (id % 2 == 0) "web" else "books"
      (id, ScaleData.text(tSeed, tNear), src, ScaleData.img(mSeed.toInt, mPatch),
        ScaleData.emb(eSeed, eNear))
    }
    val init = spark.range(nInit.toLong).as[Long]
      .mapPartitions(_.map(id => row(id, isShard = false)))
      .toDF("doc_id", "text", "source", "media", "emb").materialize()
    val shard = spark.range(nInit.toLong, nDocs.toLong).as[Long]
      .mapPartitions(_.map(id => row(id, isShard = true)))
      .toDF("doc_id", "text", "source", "media", "emb").materialize()
    println(s"PROBE corpus ${init.count()} + shard ${shard.count()} docs " +
      "(text+media+emb)")

    // embProbes = 3: the single-cell IVF cross-probe's boundary hole
    // measured 4% at 20k on this generator (random 64-dim unit vectors
    // split across 16 cells put plenty of planted pairs near a cell
    // boundary); probing the two runner-up cells shrinks it under the
    // tolerance while the corpus layout and exchange-free scan are
    // unchanged — exactly the knob's documented purpose.
    val m = new CorpusManager("combined_probe", scratchRoot("combined_probe"), spark,
      numBuckets = 8, minTokens = 2,
      embCol = Some("emb"), embNearCos = 0.98, embDims = 64, embProbes = 3,
      mediaCol = Some("media"), mediaMaxHamming = 16, mediaScheme = 2,
      minVocabContainment = Some(0.2))

    def classIds(lo: Long, hi: Long, res: Long, shardBase: Long): Set[Long] =
      (lo until hi).filter(id => (id - shardBase) % 40 == res).toSet
    val textI = classIds(0, nInit, 1, 0)
    val mediaI = classIds(0, nInit, 3, 0)
    val embI = classIds(0, nInit, 5, 0)
    val r0 = timed("initial_ingest")(m.ingestInitial(init))
    println(s"PROBE initial report: $r0") // before asserts: a failure
    // must still show whether the gap was rejections vs dedup drops
    val kept0 = m.corpus().select("doc_id").as[Long].collect().toSet
    def account(tag: String, kept: Set[Long], all: Set[Long],
                t: Set[Long], md: Set[Long], e: Set[Long]): Unit = {
      val expectedKeep = all -- t -- md -- e
      val extraDrops = expectedKeep -- kept // non-planted docs dropped
      require(extraDrops.isEmpty,
        s"$tag: ${extraDrops.size} NON-planted docs dropped (false " +
          s"positives): ${extraDrops.take(5)}")
      val missT = t.intersect(kept); val missM = md.intersect(kept)
      val missE = e.intersect(kept)
      require(missT.size <= math.max(1, t.size / 500),
        s"$tag: text misses ${missT.size}/${t.size}")
      // media DOWN-tail only: blocking recall is exact AT the radius,
      // but the patch perturbation's Hamming distance is probabilistic
      // (measured 2-14 on small samples; at 45k planted pairs ~0.04%
      // land past 16) — the standard 0.5% pHash-tail allowance. EXTRA
      // media drops remain zero-tolerance via expectedKeep above.
      require(missM.size <= math.max(1, md.size / 200),
        s"$tag: media misses ${missM.size}/${md.size}: ${missM.take(5)}")
      require(missE.size <= math.max(1, e.size / 50),
        s"$tag: emb misses ${missE.size}/${e.size}")
      println(s"PROBE $tag per-family: text ${t.size - missT.size}/${t.size}, " +
        s"media ${md.size - missM.size}/${md.size}, " +
        s"emb ${e.size - missE.size}/${e.size} dropped; zero extras")
    }
    account("initial", kept0, (0L until nInit.toLong).toSet, textI, mediaI, embI)
    require(r0.ingested == kept0.size, s"report/corpus divergence: $r0")

    val textS = classIds(nInit, nDocs, 10, nInit)
    val mediaS = classIds(nInit, nDocs, 20, nInit)
    val embS = classIds(nInit, nDocs, 30, nInit)
    val r1 = timed("shard_ingest")(m.ingestShard(shard))
    // the armed drift gate ran and passed; its report must show every
    // source known and well-contained (the shared 1000-token vocab)
    require(r1.drift.nonEmpty && r1.drift.forall(d =>
      !d.novelSource && d.containmentEst > 0.5),
      s"drift report implausible: ${r1.drift}")
    val kept1 = m.corpus().select("doc_id").as[Long].collect().toSet
    account("shard", kept1 -- kept0, (nInit.toLong until nDocs.toLong).toSet,
      textS, mediaS, embS)
    require(kept0.subsetOf(kept1), "shard ingest must never drop corpus docs")
    println(s"PROBE reports: initial $r0; shard ingested=${r1.ingested} " +
      s"dups=${r1.duplicates} drift=${r1.drift}")
  }

  /** The graph family (q106/q108/q109/q110): a planted-partition graph —
    * communities of 100 nodes, 8 heavy intra-community edges per node,
    * sparse inter-community noise — through sparsifyTopK, triangles,
    * labelPropagate and pageRank. Every stage must stay linear-ish in
    * |E|, and recovery is REQUIRED, not eyeballed: LPA must label ≥99%
    * of nodes by their planted community, the rank mass must stay ≤ 1,
    * and triangle counts must be dominated by intra-community closures.
    *
    * Memory budget: at 10M nodes (~90M weighted edges) an 8 g heap
    * (`SPARK_DRIVER_MEM`) dies in the first LPA aggregate — 32 task
    * slots over ~4.6 g unified memory is ~140 MB/slot, below the
    * per-slot working set once the pinned edge checkpoint occupies
    * storage (`UNABLE_TO_ACQUIRE_MEMORY`, round-8 record). Run 10M+ with
    * `SPARK_DRIVER_MEM=48g` — the cluster-honest per-executor budget a
    * real deployment would give the same slice of a 90M-edge graph. */
  def graph(spark: SparkSession, nNodes: Int, mode: String): Unit = {
    val degree = 8
    val commSize = 100 // planted communities of 100 nodes
    // at 10M nodes each LPA round shuffles ~15 GB; a ~100 GB scratch
    // disk cannot hold the default 5-round live window (see
    // GraphOps.checkpointEvery — cluster SSDs can, so 5 stays the
    // library default)
    if (nNodes >= 5000000)
      spark.conf.set("spark.graft.iterate.checkpointEvery", "2")

    // ---- planted-partition edges, generated distributively:
    // each node emits `degree` heavy edges inside its community (weight
    // 5..9, deterministic) and 1 light cross-community edge (weight 1).
    val edges = timed("gen-edges") {
      val intra = spark.range(nNodes.toLong * degree).select(
        (col("id") / degree).cast("long").as("src"),
        col("id").as("e"))
        .select(col("src"),
          // neighbor inside the same community block, never self
          ((col("src") - pmod(col("src"), lit(commSize))) +
            pmod(col("src") * 31 + col("e") * 7 + 1, lit(commSize))).as("dst"),
          (pmod(col("e") * 13, lit(5)) + 5).as("w"))
        .filter(col("src") =!= col("dst"))
      val inter = spark.range(nNodes).select(
        col("id").as("src"),
        pmod(col("id") * 2654435761L + 99991L, lit(nNodes)).as("dst"),
        lit(1L).as("w"))
        .filter(col("src") =!= col("dst"))
      intra.union(inter)
        .groupBy("src", "dst").agg(sum("w").as("w"))
        .materialize()
    }
    val nEdges = edges.count()
    println(s"PROBE edges=$nEdges nodes=$nNodes")
    val nodes = timed("nodes") {
      spark.range(nNodes).select(col("id").as("k")).materialize()
    }

    // ---- LPA: 3 rounds; planted recovery required
    val labels = timed("lpa-3-rounds") {
      val l = GraphOps.labelPropagate(edges, nodes, rounds = 3).materialize()
      l.count(); l
    }
    // recovery metric: a node's adopted label must come from its OWN
    // planted community (full single-label collapse needs more rounds
    // than 3 — what must NOT happen is labels leaking across the weak
    // inter-community edges)
    val agree = labels
      .select((col("k") - pmod(col("k"), lit(commSize)) ===
        col("label") - pmod(col("label"), lit(commSize))).cast("long").as("ok"))
      .agg(sum("ok")).head.getLong(0)
    val frac = agree.toDouble / nNodes
    println(f"PROBE lpa-label-purity $frac%.4f")
    require(frac >= 0.99, s"LPA label purity only $frac")

    // ---- PageRank: 3 distributed iterations; mass conservation bound
    val mass = timed("pagerank-3-iters") {
      GraphOps.pageRank(edges, nodes, iters = 3, nNodes = nNodes)
        .agg(sum("pr")).head.getDouble(0)
    }
    println(f"PROBE pagerank-mass $mass%.6f")
    require(mass <= 1.0 + 1e-6, s"rank mass $mass exceeds 1")

    // ---- sparsify + triangles: undirected form of the same graph
    val und = timed("undirect") {
      val u = edges.groupBy(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .agg(sum("w").as("w")).materialize()
      u.count(); u
    }
    val kept = timed("sparsify-top6") {
      val k = GraphOps.sparsifyTopK(und, 6).materialize()
      println(s"PROBE kept-edges ${k.count()}")
      k
    }
    val tris = timed("triangles") {
      GraphOps.triangles(kept)
        .select((col("a") - pmod(col("a"), lit(commSize)) ===
          col("c") - pmod(col("c"), lit(commSize))).as("intra"))
        .groupBy("intra").count()
        .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    }
    val intra = tris.getOrElse(true, 0L); val cross = tris.getOrElse(false, 0L)
    println(s"PROBE triangles intra=$intra cross=$cross")
    require(intra > cross * 10,
      "triangles must be dominated by intra-community closures")

    // ---- deep iteration: 20 rounds must stay flat per round. Without
    // lineage truncation the fold's plan grows superlinearly and 20
    // rounds spend more time in analysis/codegen than in data — the
    // in-loop localCheckpoint (GraphOps.iterate) is what this gates.
    timed("lpa-20-rounds") {
      GraphOps.labelPropagate(edges, nodes, rounds = 20).count()
    }
    val p20 = timed("pagerank-20-iters") {
      val m = GraphOps.pageRank(edges, nodes, iters = 20, nNodes = nNodes)
        .agg(sum("pr")).head.getDouble(0)
      require(m <= 1.0 + 1e-6, s"rank mass $m exceeds 1 at 20 iters")
      m
    }
    println(f"PROBE pagerank-mass-20 $p20%.6f")
  }

  /** The dedup pipeline over the planted-cluster corpus (every 100th doc
    * a base, followed by one exact copy and one 1-token-changed near
    * copy, Jaccard ≈ 0.9): minhash signatures → band-bucket candidate
    * join → estimated-Jaccard verify → connected components, then the
    * incremental shard path and the CorpusManager lifecycle over a
    * 90/10 cut. REQUIRES perfect cluster recovery (N/100 components of
    * size 3) and exact incremental and manager counts.
    *
    * mode = the signature hasher: `xxh64` rehearses the production
    * (non-oracle) scheme; every planted-recovery requirement applies to
    * BOTH — recall is a property of the KM construction, not of the
    * hash primitive. */
  def text(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    val hasher = sigHasher(mode)
    val params = DedupPipeline.Params(hasher = hasher)
    println(s"PROBE hasher ${hasher.name} (scheme ${hasher.scheme})")
    val docs = clusterDocs(spark, nDocs)
    println(s"PROBE corpus ${docs.count()} docs")

    val exact = timed("exact_dedup (hash groupBy)") {
      DedupFunctions.exactDupGroups(docs, "doc_id", "text")
        .filter(col("n") > 1).count()
    }
    println(s"PROBE exact dup groups $exact (expect ${nDocs / 100})")

    val sigs = timed("minhash signatures (64 perms)") {
      Signatures.minhash(docs, "doc_id", "text", 3, 64, hasher)
        .withColumn("bands", DedupFunctions.bandKeys(col("sig"), 16, 4))
        .materialize()
    }

    val edges = timed("band join + jaccard verify") {
      val banded = sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bk")))
      val cand = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
        .agg(count(lit(1)).as("n_bands"))
      val sa = sigs.select(col("doc_id").as("src"), col("sig").as("siga"))
      val sb = sigs.select(col("doc_id").as("dst"), col("sig").as("sigb"))
      cand.join(sa, "src").join(sb, "dst")
        .filter(DedupFunctions.estimatedJaccard(col("siga"), col("sigb")) >= 0.5)
        .select("src", "dst")
        .materialize()
    }
    println(s"PROBE verified edges ${edges.count()} (expect ${3 * nDocs / 100})")

    // driver finisher OFF: this rehearses the DISTRIBUTED loop — the
    // path a 100 TB dup graph (edge count above the driver bound)
    // actually takes.
    val labels = timed("connected components (distributed loop)") {
      DedupFunctions.connectedComponents(edges, driverFinishEdges = 0L)
        .materialize()
    }
    val nComp = labels.select("lbl").distinct().count()
    val nMembers = labels.count()
    println(s"PROBE components $nComp of total members $nMembers " +
      s"(expect ${nDocs / 100} x 3)")
    require(nComp == nDocs / 100 && nMembers == 3L * (nDocs / 100),
      "planted dup clusters not perfectly recovered")

    // Incremental rehearsal: persist the first 90% as the corpus, then
    // dedup the last 10% as an arriving shard — the 100 TB ingest shape.
    // Shard cost must reflect shard size, not corpus size.
    // +1 so the cut lands INSIDE a planted cluster (base in the corpus,
    // copies in the shard) — cross-shard pairs must be found, not just
    // shard-internal ones
    val cut = (nDocs * 9L) / 10 + 1
    val corpus = docs.filter(col("doc_id") < cut)
    val shard = docs.filter(col("doc_id") >= cut)
    val incPath = tmp("dedup_inc")
    timed(s"persist corpus ($cut docs, bucketed bands)") {
      DedupPipeline.persist(corpus, "doc_id", "text", "probe", incPath, 64, params)
    }
    val incPairs = timed(s"incremental shard dedup (${nDocs - cut} docs)") {
      DedupPipeline.runIncremental(spark, shard, "doc_id",
        "text", "probe", incPath, 64, params).materialize()
    }
    // planted clusters whose members straddle the cut: every (base,
    // copy) / (base, near) / (copy, near) pair with ≥1 member ≥ cut —
    // MINUS the exact copy's two edges for clusters ENTIRELY inside the
    // shard: runIncremental collapses intra-shard exact groups to their
    // rep before the band join (identical signatures would clique), so
    // (base, copy) and (copy, near) there belong to the caller's
    // exact-hash path (as CorpusManager wires it), not the LSH result.
    // The straddle cluster's copy is NOT collapsed (its twin is in the
    // corpus, not the shard) and must still pair via the bucketed join.
    val wholeInShardBases = (0L until nDocs by 100).count(_ >= cut)
    val expInc = edges.filter(col("src") >= cut || col("dst") >= cut).count() -
      2L * wholeInShardBases
    val gotInc = incPairs.count()
    println(s"PROBE incremental pairs $gotInc (expect $expInc)")
    require(gotInc == expInc, "incremental dedup missed cross-shard pairs")
    spark.sql("DROP TABLE IF EXISTS probe_bands")
    spark.sql("DROP TABLE IF EXISTS probe_shard_bands")

    // CorpusManager end-to-end rehearsal over the same corpus/shard cut:
    // the orchestrated path (gate → dedup → drift → artifact appends)
    // must reproduce the pipeline-level expectations computed from the
    // batch `labels` frame above — initial keeps each cluster's minimum,
    // the shard drops straddle-cluster members (canonical copy already
    // in the corpus) and non-minima of shard-only clusters. 4 synthetic
    // sources feed the manager's per-source sketches.
    val mdocs = docs.withColumn("source", pmod(col("doc_id"), lit(4)).cast("string"))
    val mgr = new CorpusManager("probe_mgr", tmp("corpus_mgr"), spark,
      p = params, numBuckets = 64)
    val rInit = timed(s"manager initial ingest ($cut docs)") {
      mgr.ingestInitial(mdocs.filter(col("doc_id") < cut))
    }
    val corpusDrops = labels.filter(col("id") < cut && col("id") =!= col("lbl")).count()
    println(s"PROBE manager initial ingested ${rInit.ingested} " +
      s"(expect ${cut - corpusDrops})")
    require(rInit.ingested == cut - corpusDrops, "manager initial dedup wrong")
    val rShard = timed(s"manager shard ingest (${nDocs - cut} docs)") {
      mgr.ingestShard(mdocs.filter(col("doc_id") >= cut))
    }
    val shardDrops = labels.filter(col("id") >= cut &&
      (col("lbl") < cut || col("id") =!= col("lbl"))).count()
    println(s"PROBE manager shard ingested ${rShard.ingested} " +
      s"(expect ${nDocs - cut - shardDrops}); drift " +
      rShard.drift.map(d => f"${d.source}:${d.containmentEst}%.3f").mkString(" "))
    require(rShard.ingested == nDocs - cut - shardDrops, "manager shard dedup wrong")
    require(rShard.drift.nonEmpty && rShard.drift.forall(d =>
      !d.novelSource && d.containmentEst > 0.8), "drift report out of expected range")
    spark.sql("DROP TABLE IF EXISTS probe_mgr_bands_v1")
    spark.sql("DROP TABLE IF EXISTS probe_mgr_shard_bands")
  }

  /** Embedding dedup: the CorpusManager vector path (`embCol`) over
    * planted embedding near-dup groups, initial + incremental. Recovery
    * of EVERY planted group is REQUIRED.
    *
    * Shape: `n` docs in groups of 4 sharing a unit direction (32-dim;
    * random 32-dim directions collide above cos 0.98 with probability
    * ~1e-21, so distinct groups never pair), each member perturbed by
    * small deterministic noise (cos(member, base) ≈ 0.999). Texts are
    * all distinct — only the VECTOR signal can dedup. The last shard
    * group reuses group 0's direction, planting a cross-corpus near-dup.
    *
    * annCells sizing matters here the way shuffle partitions do
    * elsewhere: intra-batch candidates are cell-local SELF-joins, so a
    * cell holding k vectors contributes k²/2 pairs — cells are sized
    * ~√N (the standard IVF rule: balances Lloyd-pass cost N·C·dims
    * against the shard-vs-corpus candidate volume N_c·N_s/C), and the
    * hyperplane bits ~log₂(batch/50). */
  def vec(spark: SparkSession, n: Int, mode: String): Unit = {
    require(n % 40 == 0, "n must be a multiple of 40 (groups of 4, 90/10 split)")
    val cells = if (n <= 200000) 256 else math.sqrt(n.toDouble).toInt
    val bits = math.max(16, math.ceil(math.log((n * 0.9) / 50.0) / math.log(2)).toInt)
    import spark.implicits._

    val dims = 32
    val cut = (n * 9L) / 10 // group-aligned: n % 40 == 0
    // Deterministic direction per group + per-member noise, computed in
    // a typed pass (no driver-side data). The last shard group reuses
    // group 0's direction — the planted cross-corpus near-dup.
    val lastGroup = (n - 4) / 4
    def vecOf(id: Long): Array[Float] = {
      val g0 = id / 4
      val g = if (g0 == lastGroup) 0L else g0
      val v = new Array[Float](dims)
      var j = 0
      var s = g * 2654435761L + 1
      var norm = 0.0
      while (j < dims) {
        s = s * 6364136223846793005L + 1442695040888963407L // LCG
        v(j) = ((s >>> 33).toDouble / (1L << 31).toDouble - 0.5).toFloat
        norm += v(j) * v(j)
        j += 1
      }
      j = 0
      val inv = (1.0 / math.sqrt(norm)).toFloat
      var t = id * 1099511628211L + 7
      while (j < dims) {
        t = t * 6364136223846793005L + 1442695040888963407L
        val noise = ((t >>> 33).toDouble / (1L << 31).toDouble - 0.5) * 0.02
        v(j) = v(j) * inv + noise.toFloat
        j += 1
      }
      v
    }
    // texts fully distinct per doc (no shared shingles — a shared trigram
    // pair across docs would put the TEXT band join at O(N²))
    val docs = spark.range(n).as[Long].map { id =>
      (id, s"t${id}a t${id}b t${id}c t${id}d t${id}e", "src", vecOf(id))
    }.toDF("doc_id", "text", "source", "emb")
      .repartition(64).materialize()

    val m = new CorpusManager("vecprobe", scratchRoot("vec-probe"), spark,
      numBuckets = 16, minTokens = 1,
      embCol = Some("emb"), embNearCos = 0.98,
      annCells = cells, embDims = dims,
      // uniform-random directions are the LSH worst case (no cluster
      // structure): bits sized for a bounded bucket load at this n
      embBits = bits)
    println(s"PROBE sizing n=$n annCells=$cells embBits=$bits")

    try {
      val rInit = timed(s"manager initial ingest ($cut docs)") {
        m.ingestInitial(docs.filter(col("doc_id") < cut))
      }
      // every complete group of 4 collapses to its minimum member
      val expectInit = cut / 4
      println(s"PROBE initial ingested ${rInit.ingested} (expect $expectInit)")
      require(rInit.ingested == expectInit && rInit.duplicates == cut - expectInit,
        s"initial embedding dedup wrong: $rInit")

      val rShard = timed(s"manager shard ingest (${n - cut} docs)") {
        m.ingestShard(docs.filter(col("doc_id") >= cut))
      }
      // shard groups collapse 4→1 except the planted cross group, whose
      // members ALL drop against the committed corpus copy of group 0
      val shardGroups = (n - cut) / 4
      val expectShard = shardGroups - 1
      println(s"PROBE shard ingested ${rShard.ingested} (expect $expectShard)")
      require(rShard.ingested == expectShard,
        s"shard embedding dedup wrong: $rShard")
      require(rShard.duplicates == (n - cut) - expectShard,
        s"shard duplicate count wrong: $rShard")
      println("PROBE vec-dedup recovery complete (all planted groups)")
    } finally {
      spark.sql("DROP TABLE IF EXISTS vecprobe_vecs")
      spark.sql("DROP TABLE IF EXISTS vecprobe_bands_v1")
      spark.sql("DROP TABLE IF EXISTS vecprobe_shard_bands")
    }
  }

  /** BPE training: N docs of 60 tokens over a 5k-word vocabulary plus a
    * planted 48x-repeated "zq" marker token per doc, so the first three
    * merges are forced — (z,q) at 48N, (zq,zq) at 47N, (zqzq,zqzq) at
    * 23N; the largest organic pair, (w, leading-digit), runs at ~13.3N —
    * and those exact rules with exactly those counts are REQUIRED.
    *
    * The corpus is touched exactly once (word counts); every one of the
    * 12 training rounds then runs on the vocab-sized symbol table (~5k
    * words), so round time must stay flat as N grows — the Sennrich
    * word-count trick that makes BPE trainable at 100 TB. The encode
    * pass joins the trained word->units table back against the full
    * corpus and must conserve token counts exactly. */
  def bpe(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    val marker = "zq" * 48
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat(ScaleData.words(60)(ScaleData.word(col("id"), _, 5000)),
        lit(" " + marker)).as("text"))
      .materialize()

    val words = timed("word_counts (the one corpus-sized job)") {
      val w = BpeOps.wordCounts(docs, "text").materialize()
      println(s"PROBE vocab ${w.count()} words")
      w
    }

    var syms = BpeOps.initSymbols(words)
    val rules = Seq.newBuilder[BpeOps.MergeRule]
    timed("train_12_rounds (vocab-sized)") {
      var i = 1
      while (i <= 12) {
        val t0 = System.nanoTime()
        val r = BpeOps.bestPair(syms).get
        rules += r.copy(iter = i)
        syms = BpeOps.mergeRoundFiltered(syms, r.a, r.b)
        // cut lineage every round: the table is vocab-sized (cheap to
        // materialize) while 6 stacked window ops per un-checkpointed
        // round make replanning+recompute the dominant cost (measured
        // 0.6s/round checkpointed vs 20s+ by round 6 without)
        syms = syms.materialize()
        println(f"PROBE   round $i (${r.a},${r.b}) cnt=${r.count} " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
        i += 1
      }
    }
    val got = rules.result().take(3).map(r => (r.a, r.b, r.count))
    val want = Seq(("z", "q", 48L * nDocs), ("zq", "zq", 47L * nDocs),
      ("zqzq", "zqzq", 23L * nDocs))
    require(got == want, s"planted merges not recovered: $got vs $want")
    println("PROBE planted merges recovered exactly")

    val units = BpeOps.unitCounts(syms).materialize()
    val perDoc = timed("encode (corpus-sized join)") {
      val d = BpeOps.encodeDocCounts(docs, "doc_id", "text", units)
        .agg(sum("n_tokens"), sum("n_units")).head()
      (d.getLong(0), d.getLong(1))
    }
    require(perDoc._1 == 61L * nDocs,
      s"token conservation broke: ${perDoc._1} vs ${61L * nDocs}")
    // cross-check: corpus-side unit total == vocab-side wc-weighted total
    val vocabUnits = words.join(units, "word")
      .agg(sum(col("wc") * col("units"))).head().getLong(0)
    require(perDoc._2 == vocabUnits,
      s"unit totals disagree: corpus ${perDoc._2} vs vocab $vocabUnits")
    println(s"PROBE encode conserves: ${perDoc._1} tokens -> ${perDoc._2} units")
  }

  /** Bucketed exact rank selection (RankSelect / q64): N rows where one
    * group owns 90% of the data AND 30% of that group's values are a
    * single constant (the duplicate spike that inflates one histogram
    * bucket). REQUIRES bit-identical results vs the flat per-group
    * window spelling on the same data — exactness under group skew,
    * value skew and ties is the point; the stopwatch compares the two
    * shapes. */
  def quantile(spark: SparkSession, n: Int, mode: String): Unit = {
    // 90% in group "dominant"; inside it, 30% share the constant 777.0
    val df = spark.range(n).select(
        when(pmod(col("id"), lit(10)) < 9, lit("dominant"))
          .otherwise(concat(lit("g"), pmod(col("id"), lit(7)))).as("g"),
        when(pmod(col("id"), lit(10)) < 9 && pmod(col("id"), lit(3)) === 0,
          lit(777.0))
          .otherwise((pmod(col("id") * 2654435761L, lit(1000000)))
            .cast("double") / 997.0).as("v"))
      .materialize()

    val counts = df.groupBy("g").agg(count(lit(1)).as("cn"))
    val targets = counts.select(col("g"),
        explode(array(lit(0.25), lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .join(counts, "g")
      .select(col("g"),
        (lit(1L) + floor(col("p") * (col("cn") - 1).cast("double"))).as("r"))
      .distinct().materialize()

    val bucketed = timed("bucketed rank selection") {
      val x = RankSelect.selectRanks(df, "g", "v", targets).materialize()
      x.count(); x
    }
    val windowed = timed("flat per-group window (the shape it replaces)") {
      val w = Window.partitionBy("g").orderBy("v")
      val x = df.withColumn("rn", row_number().over(w))
        .join(broadcast(targets.withColumnRenamed("r", "rn")), Seq("g", "rn"))
        .select(col("g"), col("rn").as("r"), col("v"))
        .materialize()
      x.count(); x
    }
    val diff = bucketed.exceptAll(windowed).count() +
      windowed.exceptAll(bucketed).count()
    require(diff == 0, s"bucketed selection diverged from the window: $diff")
    println(s"PROBE exact-match rows=${bucketed.count()} (ties + skew held)")
  }

  /** The CorpusManager blocklist decontamination gate (the q82 shape at
    * ingest): N docs of 60 tokens over a 5k-word vocab with a planted
    * benchmark slice — every id%100==50 doc is "benchmark" text whose
    * 3-grams form the blocklist, and every id%100==51 doc is an exact
    * copy of it (a leaked benchmark doc). The gate must reject EXACTLY
    * the benchmark docs and their copies (contamination 1.0) and keep
    * everything else (random cross-doc gram collisions sit ~4 orders of
    * magnitude under the 0.5 threshold). */
  def gate(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    // id%100==51 copies id-1 (the benchmark doc); everything else is its
    // own 60-token random text
    val seed = col("id") - when(pmod(col("id"), lit(100)) === 51, 1L).otherwise(0L)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        ScaleData.words(60)(ScaleData.word(seed, _, 5000)).as("text"),
        lit("web").as("source"))
      .materialize()
    println(s"PROBE corpus ${docs.count()} docs")
    val blocklist = timed("blocklist build (benchmark 3-grams)") {
      docs.filter(pmod(col("doc_id"), lit(100)) === 50)
        .select(explode(TextFunctions.wordNgrams(col("text"), 3)).as("g"))
        .distinct().materialize()
    }
    println(s"PROBE blocklist ${blocklist.count()} grams")
    val m = new CorpusManager("gateprobe", tmp("gateprobe"), spark,
      blocklist = Some(blocklist), maxContamination = 0.5)
    // the gate's contamination decision is materialized EAGERLY inside
    // contaminationGate (one localCheckpoint feeds both sides), so the
    // call itself carries the sketch build + gram explode + bloom cut +
    // exact verify — time it as one unit
    val (kept, rejected) = timed("gate decision (sketch + explode + bloom + verify)") {
      m.contaminationGate(docs)
    }
    val nRej = timed("gate — rejected side (anti/semi join only)")(rejected.count())
    val nKeep = timed("gate — kept side")(kept.count())
    val expectRej = docs.filter(pmod(col("doc_id"), lit(100)).isin(50, 51)).count()
    println(s"PROBE rejected $nRej (expect $expectRej), kept $nKeep")
    val wrong = rejected.filter(!pmod(col("doc_id"), lit(100)).isin(50, 51)).count()
    require(nRej == expectRej && wrong == 0,
      s"gate must reject exactly the planted contamination: " +
        s"rejected=$nRej expect=$expectRej falsePositives=$wrong")
    println("PROBE planted contamination exactly recovered")
  }

  /** Content-defined chunking (+ keep-first dedup rollup) over N docs
    * with planted shared suffixes, and product-quantization
    * train/encode over 2N/5 generated vectors. Both paths must stay
    * LINEAR in N (each is a typed scan plus at most narrow digest-keyed
    * shuffles), and the CDC pass must actually recover the planted
    * sharing: every replica pair shares its suffix chunks, so the
    * keep-first rollup's dropped-token mass is bounded below by the
    * planted suffix mass.
    *
    * mode = the boundary hasher (`xxh64` is the production one; chunk
    * digests stay md5 — the content address). */
  def cdc(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    val nVecs = nDocs * 2 / 5
    // ---- CDC: ~60-token docs; every 10th doc is followed by a copy
    // whose first 5 tokens differ (prefix edit) — CDC must re-sync and
    // share the suffix chunks.
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ",
        transform(sequence(lit(0), lit(59)), i =>
          when(col("id") % 10 === 1 && i < 5,
            concat(lit("edit"), col("id"), lit("_"), i))
            .otherwise(concat(lit("w"),
              pmod((col("id") - pmod(col("id"), lit(10))) * 61 + i * 7,
                lit(5000)))))).as("text"))
      .materialize()

    val hasher = sigHasher(mode)
    println(s"PROBE boundary hasher ${hasher.name}")
    val chunks = timed(s"cdc_chunks n=$nDocs") {
      val c = TextFunctions.cdcChunks(docs, "doc_id", "text", hasher = hasher)
        .materialize()
      c.count()
      c
    }
    val rolled = timed(s"cdc_dedup n=$nDocs") {
      val w = Window.partitionBy("dig").orderBy("doc_id", "chunk_idx")
      chunks.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(sum(when(col("rn") === 1, col("c_toks")).otherwise(0L)).as("kept"),
          sum("c_toks").as("total"))
        .agg(sum("kept").as("kept"), sum("total").as("total"))
        .collect()(0)
    }
    val kept = rolled.getLong(0); val total = rolled.getLong(1)
    println(s"PROBE cdc kept=$kept total=$total " +
      f"dropped=${100.0 * (total - kept) / total}%.1f%%")
    // base/copy pairs: copy docs (id%10==1) are ~55/60 suffix-identical
    // to their base (id%10==0); keep-first must drop a large share of
    // the copies' mass. Lower bound: nDocs/10 copies × ≥40 shared toks.
    require(total - kept >= (nDocs / 10L) * 40L,
      s"planted suffix sharing not recovered: dropped=${total - kept}")

    // ---- PQ: 64-dim vectors in 16 planted product clusters
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (pmod(col("id"), lit(4)) * when(j < 32, 1.0).otherwise(0.0) +
          pmod(col("id") / 4, lit(4)) * when(j < 32, 0.0).otherwise(1.0) +
          pmod(col("id") * 31 + j, lit(97)).cast("double") / lit(1000.0))
          .cast("float")).as("embedding"))
      .materialize()
    val seeds = vecs.filter(col("vec_id") < 4).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toArray)
    val books = timed(s"pq_train n=$nVecs") {
      VectorFunctions.pqTrain(vecs, "vec_id", "embedding",
        Array.tabulate(4)(s => seeds.map(_.slice(s * 16, (s + 1) * 16))),
        iters = 2)
    }
    val nCodes = timed(s"pq_encode n=$nVecs") {
      VectorFunctions.pqEncode(vecs, "vec_id", "embedding", books).count()
    }
    require(nCodes == nVecs, s"encode row count $nCodes != $nVecs")
    println(s"PROBE pq ok n=$nCodes")
  }

  /** Hierarchical packing ([[graft.operators.Packing.runningOffsets]]):
    * N rows where ONE source owns 90% — the skew that makes the flat
    * per-source window serialize 9N/10 rows through a single task.
    * Times flat vs hierarchical on identical data and REQUIRES
    * bit-identical offsets (distributed exceptAll both ways). */
  def pack(spark: SparkSession, n: Int, mode: String): Unit = {
    // 90% of ids land in source "dominant", the rest spread over 64
    // small sources; weights 1..7 per row
    val df = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(10)) < 9, lit("dominant"))
          .otherwise(concat(lit("s"), pmod(col("id"), lit(64)))).as("src"),
        (pmod(col("id"), lit(7)) + 1).as("w"))
      .materialize()
    println(s"PROBE rows ${df.count()} (dominant source ~${9L * n / 10})")

    val wFlat = Window.partitionBy("src").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = timed("flat per-source window (single dominant task)") {
      df.withColumn("cum", sum("w").over(wFlat))
        .select("id", "cum").materialize()
    }
    val hier = timed("hierarchical (span 262144 sub-shards + stitch)") {
      Packing.runningOffsets(df, "src", "id", "w", span = 1L << 18)
        .select("id", "cum").materialize()
    }
    require(timed("equivalence (exceptAll both ways)") {
      hier.exceptAll(flat).isEmpty && flat.exceptAll(hier).isEmpty
    }, "hierarchical offsets must be bit-identical to the flat window")
    println("PROBE equivalence OK")
  }

  /** The streaming faces of the store: an `nDays` × 112 × 112 initial
    * write, five 10-day appends through the exactly-once sink path, a
    * replay no-op, a from-zero StoreStream drain, and the commit-diff
    * feed — millions of cells at the default. */
  def stream(spark: SparkSession, nDays: Int, mode: String): Unit = {
    val (nLat, nLon) = (112, 112)
    val DAY_US = 86400000000L
    def slab(d0: Long, len: Long): DataFrame =
      spark.range(len * nLat * nLon).select(
        ((expr(s"id div ${nLat * nLon}") + d0) * DAY_US).as("time"),
        (lit(-14.0) + pmod(expr(s"id div $nLon"), lit(nLat.toLong)) * 0.25)
          .as("latitude"),
        (lit(10.0) + pmod(col("id"), lit(nLon.toLong)) * 0.25).as("longitude"),
        pmod(col("id") * 37L, lit(1000L)).cast("double").as("precip"))

    val root = tmp("stream-scale")
    val store = new GriddedStore(root, spark)
    val d = DatasetDescriptor("probe", "precip", Category.Observation,
      missingValue = Some(-9999.0), cadenceUs = DAY_US,
      chunk = ChunkGrid(50 * DAY_US, 2000000))
    timed(s"writeInitial ${nDays}d (${nDays.toLong * nLat * nLon} cells)") {
      store.writeInitial(slab(0, nDays), d)
    }
    // 5 streaming micro-batches of 10 days each through the sink path
    (0 until 5).foreach { i =>
      timed(s"sink batch $i (10d, ${10L * nLat * nLon} cells)") {
        StoreSink.applyBatch(slab(nDays + i * 10, 10), root, i.toLong)
      }
    }
    val total = (nDays + 50L) * nLat * nLon
    require(store.read().count() == total)
    timed("replayed batch 4 (marker no-op)") {
      StoreSink.applyBatch(slab(nDays + 40, 10), root, 4L)
    }
    // from-zero streaming drain: log-compacted catch-up of the whole store
    val out = tmp("stream-scale-out")
    val ckpt = tmp("stream-scale-ck")
    timed("StoreStream drain from version 0") {
      val q = spark.readStream.format("graft.sources.StoreStream")
        .option("path", root).option("startingVersion", "0").load()
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(300000)
    }
    require(spark.read.parquet(out).count() == total)
    // incremental consumer: one batch's commit diff
    val v = store.latestVersionNumber()
    val delta = timed("changes() across the last sink batch") {
      store.changes(v - 2, v).count()
    }
    require(delta == 10L * nLat * nLon, s"delta $delta")
    println(s"PROBE stream ok: $total cells, store v$v")
  }

  /** The exact-verify knob: est-Jaccard vs exact gram-set verify on the
    * planted-cluster corpus of `text`. Both modes must recover every
    * planted cluster; the number to read is the delta — exact verify's
    * extra cost is bounded by the CANDIDATE set, not the corpus. */
  def exactVerify(spark: SparkSession, nDocs: Int, mode: String): Unit = {
    val docs = clusterDocs(spark, nDocs)
    println(s"PROBE corpus ${docs.count()} docs")
    val expected = nDocs / 100 // components of size 3
    for (exact <- Seq(false, true)) {
      val p = DedupPipeline.Params(exactVerify = exact)
      val tag = if (exact) "exact_verify" else "est_verify"
      val nComponents = timed(tag) {
        val (_, labels, _) = DedupPipeline.run(docs, "doc_id", "text", p)
        labels.select("lbl").distinct().count()
      }
      require(nComponents == expected,
        s"$tag: $nComponents clusters, expected $expected")
      println(s"PROBE $tag clusters $nComponents/$expected")
      // no blanket unpersist: the shared docs checkpoint must survive
      // into the second round
    }
  }
}
