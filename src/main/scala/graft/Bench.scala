package graft

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark main: times every SparkEntry query cold + warm (min-of-3)
  * at sf0.1 and a ×10 replicated tier, polices regressions against the
  * baseline record, and writes the full per-query [[Bench.Record]] as
  * one JSON line to stdout and `bench_out.json`. A full run (no
  * `SPARK_GRAFT_BENCH_ONLY`, ×10 tier on) also writes it to
  * `BENCH_FULL_r<N+1>.json`, N the newest `BENCH_FULL_r<N>.json`, and
  * never over an existing file. A compact summary line is printed last.
  *
  * The baseline is `SPARK_GRAFT_BENCH_BASELINE` when set, otherwise the
  * newest `BENCH_FULL_r<N>.json` that reads as a record with at least
  * one query; a baseline that does not read polices nothing and says
  * so (`baseline_missing: true`).
  *
  * == MEASUREMENT DISCIPLINE (repo law, not session lore) ==
  *
  *  - '''Never run anything CPU-heavy concurrently with a bench run'''
  *    (no verify jobs, no sbt test, no probes). Contention contaminates
  *    both the per-query timings and the hostScore calibration — the
  *    round-7 record carried a 42 s q134 cold sample for exactly this
  *    reason. One bench at a time, idle host.
  *  - '''A full run is the next baseline.''' Its record becomes the
  *    newest `BENCH_FULL_r<N>.json`, so the next run polices against
  *    it; delete a trial record that should not be.
  *  - '''The warm (min-of-3) series is the signal; cold is a single
  *    sample.''' Host noise is multi-core, not single-thread: A/B runs
  *    of identical code flag non-overlapping "regression" sets at
  *    ±30-50% on sub-second queries while single-thread calibration
  *    stays flat. Chase a cold flag only when it repeats across runs or
  *    exceeds ~2× on a >2 s query; adjudicate with an isolated
  *    `SPARK_GRAFT_BENCH_ONLY=<q>` steady state, nothing else running.
  *  - Lifecycle gate queries (streaming runs / store lifecycles per
  *    execution) are reported in their own `gates`/`warm_gates`
  *    sub-maps: their cost is state-store floor and physical IO by
  *    design, and mixing them into `queries` buries the plan-shaped
  *    queries' trends.
  *  - '''Hypervisor steal check.''' These VMs run with visible steal
  *    (round 8 measured /proc/stat steal at ~68% of cumulative user
  *    time); a steal episode collapses 32-way throughput while the
  *    single-thread yardstick stays flat. Since round 9 the record is
  *    SELF-CLASSIFYING: calibration is sampled at run START and END
  *    (`*_miters` / `*_miters_end`), the /proc/stat steal-jiffies
  *    delta over the run is recorded, and `steal_suspect:true` is set
  *    whenever the sandwich swings >20% — the committed adjudication
  *    rule, applied by the record itself. A `steal_suspect` record's
  *    per-query flags are NOT adjudicable; re-measure when stable. The
  *    regression gate scales by the worst calibration ratio across
  *    both samples (assume the host at its measured slowest).
  */
object Bench {

  /** One flagged slowdown. `expected` is the host-scaled previous time
    * (absent in records from before host scaling). */
  case class Regression(q: String, prev: Double, expected: Option[Double],
                        now: Double)

  /** One regression series of a tier. `host_scale` is the drift the
    * threshold was scaled by (1.0 in records from before host scaling).
    * `baseline_missing` means nothing was compared, so an empty
    * `regressions` list is never mistaken for a clean result. */
  case class Series(regressions: List[Regression], host_scale: Double = 1.0,
                    baseline_missing: Boolean)

  /** Host calibration: the sandwich's START and END samples, and the
    * steal over the run. The `_end`, swing and steal fields date from
    * round 9; `cores` (the JVM's available processors) is absent from
    * records written before it. */
  case class Host(single_miters: Long, multi32_miters: Long,
                  single_miters_end: Option[Long] = None,
                  multi32_miters_end: Option[Long] = None,
                  sandwich_swing: Option[Double] = None,
                  steal_jiffies: Option[Long] = None,
                  cpu_jiffies: Option[Long] = None,
                  steal_suspect: Option[Boolean] = None,
                  cores: Option[Int] = None)

  /** One tier's numbers. Times are seconds; a failed query times −1, is
    * listed in `failed`, and makes both totals None (JSON `null`).
    * `policing` holds the series per kind, keyed by the prefix its keys
    * carry in the record (see [[Thresholds]]); `factor` is the ×10
    * tier's replication. */
  case class Tier(factor: Option[Int] = None, total: Option[Double],
                  queries: Map[String, Double],
                  gates: Map[String, Double] = Map.empty,
                  failed: List[String], warm_total: Option[Double],
                  warm: Map[String, Double] = Map.empty,
                  warm_gates: Map[String, Double] = Map.empty,
                  policing: Map[String, Series] = Map.empty)

  /** A bench record. In the JSON, tier 1's fields sit at the top level,
    * its total under `value`, beside `metric`, `unit` and `ok`. */
  case class Record(host: Host, sf: String, tier1: Tier,
                    tier2: Option[Tier] = None,
                    warm_estimator: Option[String] = None)

  /** Regression series kinds (the key prefix) and the slowdown ratio
    * that flags a query. Cold is a SINGLE sample per run, and round-7
    * A/B runs showed ±30-50% swings on sub-second queries with zero
    * code change, so it gets 1.5; warm is min-of-3 and stays at 1.25;
    * lifecycle gates cost physical IO and state-store floor by design,
    * so only a 2× blowup surfaces. */
  private[graft] val Thresholds =
    ListMap("" -> 1.5, "warm_" -> 1.25, "gate_" -> 2.0, "warm_gate_" -> 2.0)

  // totals of a tier with failures are None and must stay JSON null
  private implicit val formats: Formats = DefaultFormats.preservingEmptyValues

  private def orNull(x: Option[Double]): JValue = x.fold[JValue](JNull)(JDouble(_))

  /** Queries whose per-execution cost is a full multi-batch streaming
    * run or store lifecycle (rerun-idempotent by design): reported
    * under `gates`/`warm_gates` instead of `queries`/`warm` so tier-1
    * totals of plan-shaped queries stay readable. */
  private val GateQueries = Set(
    "q137_store_roundtrip", "q138_store_correction",
    "q139_store_vacuum", "q140_store_encrypted",
    "q144_streaming_neardup", "q145_store_repair",
    "q146_store_stream_sink", "q148_store_stream_source",
    "q149_streaming_ttl_dedup", "q151_store_surgery",
    "q152_catalog_extents", "q154_streaming_sessions",
    "q155_streaming_funnel", "q156_streaming_interval_join",
    "q157_streaming_incremental", "q160_corpus_lifecycle",
    "q162_incremental_agg", "q163_state_audit",
    "q164_scheme_migration", "q165_media_shard_ingest",
    "q166_catalog_concurrency")

  /** Queries for the ×10 tier: the shuffle/AQE-sensitive set, where the
    * sf0.1 numbers sit at the scheduling floor and scale effects are
    * invisible. */
  private val Tier2Queries = Seq(
    "q01_pricing_summary", "q04_semi_join", "q09_sessionize",
    "q11_running_total", "q34_minhash_lsh", "q35_simhash",
    "q46_embedding_dedup", "q52_dedup_components", "q56_contamination",
    "q65_climatology_anomaly", "q67_rolling_daily", "q75_bigram_lm",
    "q77_ivf_trained", "q79_lm_filter", "q80_shared_spans",
    "q82_bloom_decontaminate", "q89_semantic_dedup", "q90_segment_dedup",
    "q91_dsir_importance", "q93_pq_codes", "q96_inverted_index",
    "q97_cdc_chunks", "q98_cdc_dedup", "q99_containment", "q100_ivf_pq",
    "q101_heavy_hitters",
    "q102_hll_distinct", "q104_winnow_fingerprints", "q105_winnow_overlap",
    "q106_pagerank", "q108_label_prop", "q109_triangles",
    "q110_coengagement", "q111_fuzzy_join",
    // round-6 breadth: the store write path and the window-heavy set,
    // so scale policing covers the gridded/sequence surface too
    "q10_topk_per_user", "q40_hourly_windows", "q47_asof_join",
    "q58_chunk_windows", "q64_quantile_profile", "q69_interpolate_gaps",
    "q76_range_join", "q137_store_roundtrip", "q138_store_correction",
    "q113_bpe_train", "q114_bpe_encode", "q115_conservative_regrid",
    "q116_point_in_polygon", "q118_bitmap_distinct",
    "q121_charset_gate", "q122_budget_mixture", "q123_hybrid_rrf",
    "q124_funnel", "q125_cohort_retention",
    // q128 is deliberately NOT in this tier: its output is quadratic in
    // point DENSITY and the ×10 replica keeps the same lat/lon area, so
    // the ×10 run materializes ~100× the pairs (measured 17 s, all
    // output) — the tier would measure row materialization, not the
    // blocking join the query exists to exercise.
    "q126_unigram_train", "q127_unigram_encode", "q129_length_batching",
    "q134_setsim_join", "q135_importance_resample",
    "q136_exact_decontamination",
    // round-7 breadth: the scan-stage PII scrub at ×10 (regex families
    // over the replicated corpus — pure narrow work, scale-visible)
    "q147_pii_redact")

  /** Tables the tier-2 set reads. Each is replicated `factor`× with its
    * id keys shifted per replica (joins/groups keep realistic key
    * cardinality instead of 10× rows per key); document text gets a
    * per-replica suffix token so the dedup queries see near-dup chains
    * across replicas — the load they exist to handle — rather than one
    * giant exact group. */
  private def ensureTier2(spark: org.apache.spark.sql.SparkSession,
                          baseDir: String, outDir: String, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(outDir, "_TIER_READY")
    if (fs.exists(marker)) return
    def replicate(table: String, shift: Map[String, Long],
                  textCol: Option[String] = None): Unit = {
      val base = spark.read.parquet(s"$baseDir/$table.parquet")
      val copies = (0 until factor).map { i =>
        val shifted = shift.foldLeft(base) { case (df, (c, m)) =>
          df.withColumn(c, col(c) + lit(i * m)) }
        textCol.fold(shifted)(t =>
          shifted.withColumn(t,
            if (i == 0) col(t) else concat(col(t), lit(s" r$i"))))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    // shift spans: max key + 1, computed once per table family
    val oMax = spark.read.parquet(s"$baseDir/orders.parquet")
      .agg(max("o_orderkey")).collect()(0).getLong(0) + 1
    val cMax = spark.read.parquet(s"$baseDir/customer.parquet")
      .agg(max("c_custkey")).collect()(0).getLong(0) + 1
    val uMax = spark.read.parquet(s"$baseDir/events.parquet")
      .agg(max("user_id")).collect()(0).getLong(0) + 1
    val dMax = spark.read.parquet(s"$baseDir/documents.parquet")
      .agg(max("doc_id")).collect()(0).getLong(0) + 1
    val vMax = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .agg(max("vec_id")).collect()(0).getLong(0) + 1
    replicate("lineitem", Map("l_orderkey" -> oMax))
    replicate("orders", Map("o_orderkey" -> oMax, "o_custkey" -> cMax))
    replicate("customer", Map("c_custkey" -> cMax))
    replicate("events", Map("user_id" -> uMax))
    replicate("documents", Map("doc_id" -> dMax), textCol = Some("text"))
    replicate("embeddings", Map("vec_id" -> vMax))
    fs.create(marker, true).close()
  }

  private val PolicingKeys = Seq("regressions", "host_scale", "baseline_missing")

  /** A tier's JSON fields: the case-class fields, then each regression
    * series flattened under its kind prefix (`warm_regressions`,
    * `gate_host_scale`, ...), the layout of every committed record. */
  private def tierFields(t: Tier): List[JField] = {
    val JObject(fields) = Extraction.decompose(t)
    fields.filterNot(_._1 == "policing") ++
      Thresholds.keys.flatMap(k => t.policing.get(k).toList.flatMap { s =>
        val JObject(sf) = Extraction.decompose(s)
        sf.map { case (n, v) => (k + n, v) }
      })
  }

  private def readTier(j: JValue): Tier =
    j.extract[Tier].copy(policing = ListMap(Thresholds.keys.toSeq.collect {
      case k if (j \ (k + "baseline_missing")) != JNothing =>
        k -> JObject(PolicingKeys.map(n => n -> (j \ (k + n)))
          .filter(_._2 != JNothing): _*).extract[Series]
    }: _*))

  /** The fields both the record and the compact line open with. */
  private def head(r: Record): List[JField] = List(
    "metric" -> JString("total"), "value" -> orNull(r.tier1.total),
    "unit" -> JString("sec"), "ok" -> JBool(r.tier1.failed.isEmpty))

  /** The record as one JSON line. */
  private[graft] def writeRecord(r: Record): String = {
    val t1 = tierFields(r.tier1).filterNot(f => f._1 == "factor" || f._1 == "total")
    JsonMethods.compact(JObject(head(r) ++ List(
      "warm_estimator" -> Extraction.decompose(r.warm_estimator),
      "host" -> Extraction.decompose(r.host)) ++ t1 ++
      List("sf" -> JString(r.sf)) ++
      r.tier2.map(t => "tier2" -> JObject(tierFields(t)))))
  }

  /** The record in `text`; None when it is not one. Fields added since
    * round 6 default when absent, so every committed record reads. */
  private[graft] def readRecord(text: String): Option[Record] =
    scala.util.Try {
      val j = JsonMethods.parse(text)
      Record((j \ "host").extract[Host], (j \ "sf").extract[String],
        readTier(j).copy(total = (j \ "value").extractOpt[Double]),
        (j \ "tier2") match { case t: JObject => Some(readTier(t)); case _ => None },
        (j \ "warm_estimator").extractOpt[String])
    }.toOption

  private[graft] def readRecordFile(path: String): Option[Record] =
    scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      .toOption.flatMap(readRecord)

  /** Fixed-work xorshift throughput (million iterations/sec), single
    * thread and 32-way — a host calibration constant embedded in every
    * bench record. The local[32] hosts these rounds run on have shown a
    * ~1.6× per-core speed spread AND session-to-session drift (round-5
    * measured identical code+data 2–3× slower cold than round 3);
    * without a same-JVM yardstick in the record, cross-round per-query
    * diffs conflate host drift with plan regressions. */
  private[graft] def hostScore(): (Long, Long) = {
    def burn(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    var sink = burn(20000000L) // JIT warm
    val n1 = 300000000L
    var t0 = System.nanoTime()
    sink ^= burn(n1)
    val single = n1 * 1000L / math.max(1L, System.nanoTime() - t0)
    val nT = 150000000L
    val acc = new java.util.concurrent.atomic.AtomicLong
    val ts = (1 to 32).map { _ =>
      new Thread(() => { acc.addAndGet(burn(nT) | 1L); () })
    }
    t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val multi = nT * 32L * 1000L / math.max(1L, System.nanoTime() - t0)
    if ((sink ^ acc.get) == 42L) System.err.print("") // defeat DCE
    (single, multi)
  }

  /** Aggregate (stealJiffies, totalJiffies) from the `cpu ` line of
    * /proc/stat — the hypervisor's own account of time stolen from this
    * VM. Sampled at run start AND end; the DELTA over the run is the
    * steal the measurements actually absorbed (a point sample only says
    * the host has been stolen from since boot). None off-Linux. */
  private[graft] def cpuStealJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        // total = user..steal (first 8 fields) ONLY: the kernel already
        // folds guest/guest_nice into user/nice, so summing all 10
        // would double-count guest time and understate the steal
        // fraction readers derive from the record
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => None }

  /** Relative swing between two calibration samples: |a−b| / max. */
  private[graft] def calibrationSwing(a: Long, b: Long): Double =
    if (math.max(a, b) <= 0) 0.0
    else math.abs(a - b).toDouble / math.max(a, b)

  /** The repo root this bench reads baselines from and writes its full
    * record into. NOT hardcoded (the round-7 advice): a bench run from
    * another checkout must not write its record into /root/repo —
    * resolve from the env override, then the launch directory (sbt sets
    * user.dir to the project root), then the canonical path. */
  private[graft] def repoDir: String =
    sys.env.getOrElse("SPARK_GRAFT_REPO_DIR",
      sys.props.getOrElse("user.dir", "/root/repo"))

  private val FullRecordName = """BENCH_FULL_r(\d+)\.json""".r

  /** (N, path) of every `BENCH_FULL_r<N>.json` in `dir`, newest first. */
  private def fullRecords(dir: String): Seq[(Int, String)] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .flatMap(f => f.getName match {
        case FullRecordName(n) => Some((n.toInt, f.getPath))
        case _ => None
      }).sortBy(-_._1)

  /** The baseline: the newest `BENCH_FULL_r<N>.json` in `dir` that reads
    * as a record with at least one query (a run that failed to compile
    * or crashed early leaves none — the round-4 lesson). None when no
    * record qualifies; the caller surfaces that as `baseline_missing`. */
  private[graft] def latestBaseline(dir: String = repoDir): Option[String] =
    fullRecords(dir).map(_._2)
      .find(p => readRecordFile(p).exists(_.tier1.queries.nonEmpty))

  /** The number the next full record is named for: one past the newest
    * `BENCH_FULL_r<N>.json` in `dir`. */
  private[graft] def benchRound(dir: String): Int =
    fullRecords(dir).headOption.fold(0)(_._1) + 1

  /** Writes `json` as the next full record in `dir` and returns its
    * path. CREATE_NEW: an existing record is never clobbered (round-11
    * verdict item 2: a post-round run once overwrote a committed one). */
  private[graft] def writeFullRecord(dir: String, json: String): java.nio.file.Path =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, f"BENCH_FULL_r${benchRound(dir)}%02d.json"),
      json, java.nio.file.StandardOpenOption.CREATE_NEW)

  /** Host-drift scale for regression thresholds: expected
    * `now ≈ prev × prevMiters / nowMiters` (time ∝ 1/speed). Clamped to
    * [1/3, 3] so a corrupted calibration can never widen the gate past
    * the documented 2–3× drift band, and 1.0 when either side is
    * missing. */
  private[graft] def hostScale(prevMiters: Option[Long],
                               nowMiters: Long): Double =
    prevMiters match {
      case Some(p) if p > 0 && nowMiters > 0 =>
        math.min(3.0, math.max(1.0 / 3.0, p.toDouble / nowMiters))
      case _ => 1.0
    }

  /** Host drift vs the baseline host: the MAX of the single-thread and
    * 32-way calibration ratios over both sandwich samples of this run,
    * against the baseline's START sample. Single-thread captures
    * clock-speed drift but NOT core availability: these VMs run under
    * visible hypervisor steal (/proc/stat steal ≈ 68% of cumulative
    * user time on the round-8 host), and a steal episode collapses
    * 32-way throughput while the one-core score stays flat (r6→r8:
    * single 481→441, multi32 13000→9830 — every local[32] query
    * uniformly ~1.5-2× slower). Queries on local[32] are 32-thread
    * work, so the multi ratio is the binding constraint; the max over
    * both samples assumes the host at its measured slowest, and
    * `steal_suspect` already marks the record when the samples
    * disagree enough for that assumption to matter. 1.0 without a
    * baseline.
    *
    * The 32-way score also scales with the host's core count, so its
    * ratio is used only when both records carry the same `cores` (or,
    * as in every record before the field, neither does); across core
    * counts — a 4-core run against a 32-core baseline would clamp at
    * 3.0 and triple every threshold — the single-thread ratio alone
    * measures the drift. */
  private[graft] def drift(prev: Option[Host], now: Host): Double =
    prev.fold(1.0) { p =>
      val multi =
        if (p.cores != now.cores) Nil
        else (now.multi32_miters +: now.multi32_miters_end.toSeq)
          .map(hostScale(Some(p.multi32_miters), _))
      ((now.single_miters +: now.single_miters_end.toSeq)
        .map(hostScale(Some(p.single_miters), _)) ++ multi).max
    }

  /** Per-query slowdowns vs a previous map, with stderr callouts — the
    * bench polices its own regressions so a round-over-round diff never
    * depends on a human reading two files. A query is flagged when
    * `prev > 0.3 && now > prev × scale × threshold`: each prev is scaled
    * by the host drift, so a uniformly slower (or faster) host no longer
    * reads as a wall of regressions (or masks real ones), and the entry
    * carries the expected (scaled) value so a reader can audit the math.
    * An empty baseline yields `baseline_missing = true`, NOT a clean
    * `[]`: a clean empty list must always mean "compared and found
    * nothing", never "had nothing to compare against". */
  private[graft] def regressionJson(tag: String, prev: Map[String, Double],
                                    now: Seq[(String, Double, Boolean)],
                                    scale: Double = 1.0,
                                    threshold: Double = 1.25): Series = {
    if (prev.isEmpty) {
      System.err.println(s"[bench$tag] baseline missing/unparseable — " +
        "regression policing DID NOT RUN this round")
      return Series(Nil, scale, baseline_missing = true)
    }
    val items = now.collect {
      case (name, t, true)
        if prev.get(name).exists(p => p > 0.3 && t > p * scale * threshold) =>
          val p = prev(name)
          System.err.println(
            f"[bench$tag] REGRESSION $name: $p%.2fs (expected ${p * scale}%.2fs" +
              f" at this host) -> $t%.2fs (${t / (p * scale)}%.2fx)")
          Regression(name, p, Some(p * scale), t)
    }
    Series(items.toList, scale, baseline_missing = false)
  }

  /** `t` with its four regression series computed against `baseline`.
    * Plan queries and lifecycle gates are policed apart (round-8 verdict
    * item 2: the gates' IO-bound variance buried the plan queries'
    * trends two rounds running), each against the baseline's plan and
    * gate times together, so a query that moved between the sub-maps
    * still finds its previous time. */
  private[graft] def police(t: Tier, baseline: Option[Tier], drift: Double,
                            tag: String = ""): Tier =
    t.copy(policing = Thresholds.map { case (kind, threshold) =>
      val warm = kind.startsWith("warm")
      val now = kind match {
        case "" => t.queries
        case "warm_" => t.warm
        case "gate_" => t.gates
        case _ => t.warm_gates
      }
      val prev = baseline.fold(Map.empty[String, Double])(b =>
        if (warm) b.warm ++ b.warm_gates else b.queries ++ b.gates)
      val label = if (kind.isEmpty) "" else ":" + kind.stripSuffix("_")
      kind -> regressionJson(tag + label, prev,
        now.toSeq.sortBy(_._1).map { case (q, v) => (q, v, !t.failed.contains(q)) },
        drift, threshold)
    })

  /** One measured query: cold time, warm (min-of-3) time, and whether
    * every run of it succeeded (failed runs time −1). */
  private[graft] case class Row(name: String, cold: Double, warm: Double, ok: Boolean)

  /** The tier of `rows` (in execution order), policed against `baseline`.
    * The one assembly for sf0.1 and ×10. */
  private[graft] def buildTier(rows: Seq[Row], baseline: Option[Tier],
                               drift: Double, tag: String = "",
                               factor: Option[Int] = None): Tier = {
    val (gateRows, planRows) = rows.partition(r => GateQueries(r.name))
    def times(rs: Seq[Row], f: Row => Double): Map[String, Double] =
      ListMap(rs.map(r => r.name -> f(r)): _*)
    val failed = rows.filterNot(_.ok).map(_.name).toList
    // a tier with failures must not offer a comparable total: summing
    // only the survivors would make a regression-to-failure read as a
    // speedup against a clean run
    def total(f: Row => Double) = if (failed.nonEmpty) None else Some(rows.map(f).sum)
    police(Tier(factor, total(_.cold), times(planRows, _.cold),
      times(gateRows, _.cold), failed, total(_.warm), times(planRows, _.warm),
      times(gateRows, _.warm)), baseline, drift, tag)
  }

  /** The compact summary line: totals, counts and regression NAMES of
    * `r`, with at most 8 names per list (the rest counted in `_more`);
    * the per-query maps stay in the full record. */
  private[graft] def compactLine(r: Record, fullRecord: String): String = {
    def names(t: Option[Tier], kind: String): List[String] =
      t.flatMap(_.policing.get(kind)).toList.flatMap(_.regressions.map(_.q))
    def capped(key: String, ns: List[String]): List[JField] = List(
      key -> JArray(ns.take(8).map(JString(_))),
      s"${key}_more" -> JInt(math.max(0, ns.size - 8)))
    val counts = for {
      (prefix, t) <- List("" -> Some(r.tier1), "t2_" -> r.tier2)
      kind <- Thresholds.keys
    } yield {
      val key = (prefix + kind).stripSuffix("_")
      (if (key.isEmpty) "cold" else key) -> JInt(names(t, kind).size)
    }
    val t1 = r.tier1
    val drift = t1.policing.get("").fold(1.0)(_.host_scale)
    JsonMethods.compact(JObject(head(r) ++ List(
      "compact" -> JBool(true),
      "warm_estimator" -> Extraction.decompose(r.warm_estimator),
      "warm_total" -> orNull(t1.warm_total)) ++
      r.tier2.toList.flatMap(t => List(
        "t2_total" -> orNull(t.total),
        "t2_warm_total" -> orNull(t.warm_total))) ++
      List(
        "n_queries" -> JInt(t1.queries.size),
        "n_gates" -> JInt(t1.gates.size),
        "failed" -> Extraction.decompose(t1.failed),
        "host_scale" -> JDouble(math.round(drift * 1e4) / 1e4),
        "steal_suspect" -> JBool(r.host.steal_suspect.contains(true)),
        "baseline_missing" -> JBool(t1.policing.get("warm_").forall(_.baseline_missing)),
        "regr_counts" -> JObject(counts)) ++
      capped("warm_regr_names", names(Some(t1), "warm_")) ++
      capped("t2_warm_regr_names", names(r.tier2, "warm_")) ++
      List("full_record" -> JString(fullRecord), "sf" -> JString(r.sf))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"$repoDir/bench_out.json") // the driver contract's default location
    val spark = GraftSession.local(cpus)
    // optional comma-separated query filter (isolated timing runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    require(selected.nonEmpty, s"no queries match $only")
    // Warm the JVM/codegen once so per-query numbers measure the plan, not
    // first-call class loading.
    selected.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // Each query is timed COLD (first execution: plan + codegen + JIT —
    // the number every previous round recorded) and then WARM (immediate
    // second execution: steady-state plan cost). The warm number is the
    // scale-relevant one — at real data sizes one-time compilation
    // amortizes to zero — and it is far less sensitive to the host's
    // session-to-session cold-compile drift (measured this round: cold
    // 3–4× slower than round 3 on identical code, warm within ~1.3×,
    // i.e. the per-core-speed spread).
    def timed(run: () => Unit, tag: String, name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      try { run(); ((System.nanoTime() - t0) / 1e9, true) }
      catch { case e: Throwable =>
        System.err.println(s"[bench$tag] $name failed: ${e.getMessage}")
        (-1.0, false)
      }
    }
    def measure(qs: Seq[(String, (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame)], dir: String, tag: String,
        gcBetween: Boolean = false): Seq[Row] =
      qs.map { case (name, fn) =>
        // a failed query must be unmistakable in the recorded numbers: a
        // silent time-to-crash would read as a (fast) success and a round
        // where queries break would look like a speedup
        val (cold, ok) = timed(() => fn(spark, dir).count(), tag, name)
        // free the COLD run's localCheckpoint blocks before timing warm:
        // the warm run builds a fresh DataFrame and re-materializes its
        // own checkpoints (that cost is real and stays included), but
        // holding the cold run's dead blocks alongside doubles the
        // storage footprint and taxes the warm number with artificial
        // memory pressure (measured: q75 ×10 16.1 s in-suite warm vs
        // 2.8 s isolated steady state, warm>cold inversions on q114).
        // BLOCKING, plus a full GC: a non-blocking unpersist races the
        // warm run (blocks may still be draining while it times), and
        // the cold run's broadcast/shuffle refs are reclaimed only after
        // GC notices them — both paid INSIDE the warm timer otherwise.
        // The GC pause itself lands between the timers, outside both.
        // (r05 still recorded warm>cold inversions on q99/q75/q114 with
        // the non-blocking form; the warm series is the regression-
        // policing signal and must measure the plan, not memory luck.)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        // GC only when the cold run was heavy enough to leave real
        // garbage (broadcasts, shuffle buffers, checkpoint blocks):
        // sub-second floor queries gain nothing and the post-GC state
        // (cleared TLABs, cold allocation paths) taxes their warm
        // sample by tens of ms — exactly the band the warm series'
        // inversion check reads
        if (cold > 1.0) System.gc()
        // warm = min of THREE steady-state executions, unconditionally.
        // (Round 6 resampled up to 2 extra runs only WHILE warm > cold —
        // a stopping rule conditioned on the comparison outcome, which
        // one-sidedly biases the warm series downward near the cold time
        // and can mask real warm-path regressions. An outcome-
        // independent min-of-3 costs one extra warm pass per query and
        // makes the estimator identical for every query every round.
        // ESTIMATOR HISTORY, for anyone diffing warm series across
        // rounds: r1–r4 single-run, r5 single-run, r6 min-of-2-to-4
        // conditional, r7+ min-of-3 fixed.)
        def warmOnce(): (Double, Boolean) = {
          val r = timed(() => fn(spark, dir).count(), tag + ":warm", name)
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          r
        }
        val (warm, _) =
          if (!ok) (-1.0, false)
          else {
            val runs = Seq(warmOnce(), warmOnce(), warmOnce())
            (runs.map(_._1).min, runs.forall(_._2))
          }
        // localCheckpoint blocks outlive their query (the BlockManager
        // keeps them until JVM exit); 90+ queries of accumulation
        // squeezes execution memory and taxes the LATER queries'
        // numbers with the EARLIER queries' storage (measured: q34 ×10
        // 11.2 s in-suite vs 3.0 s isolated). Each query measures from
        // a clean slate — which is also how a real user runs one.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        // ContextCleaner reclaims broadcast/shuffle state only after the
        // JVM GC notices the references are dead; a long suite outruns
        // the collector and LATER queries pay the EARLIER queries'
        // memory pressure (measured: q106/q110 at 18-20 s in-suite vs
        // 3 s isolated, same plans; tier2 warm total 99.8 s → 68.1 s
        // with a per-query GC). Tier 2 ONLY: a forced full GC also
        // clears soft-referenced codegen caches, and the tier-1 set is
        // many small codegen-bound queries where the recompile tax
        // exceeds the pressure relief (measured: tier-1 warm total
        // 67 s → 89 s when GC'd). Compute-bound ×10 queries amortize
        // the recompile and keep the relief.
        if (gcBetween) System.gc()
        Row(name, cold, warm, ok)
      }
    // SANDWICH calibration (round-8 verdict item 1): one sample at run
    // START and one at END, plus the /proc/stat steal-jiffies delta
    // between them. A single mid-run sample cannot distinguish "this
    // host is uniformly slower" from "a steal episode hit some of the
    // queries" — the record itself now carries the evidence the
    // adjudication rule needs, instead of a human cross-referencing
    // three records after the round closes.
    val (hostSingle, hostMulti) = hostScore()
    val stealStart = cpuStealJiffies()
    // EXECUTION order (round-11, verdict item 3): tier-1 PLAN queries →
    // ×10 tier (its own plans before its own gates) → tier-1 GATE
    // queries last. The lifecycle gates write multi-GB corpora to /tmp;
    // run before the ×10 tier, their dirty-page flush + page-cache
    // eviction bled into the first minutes of ×10 and flagged
    // early-tier-2 queries ~3× two rounds running (adjudicated in-band
    // both times — suite state, not plans; PLANS.md:2725). Gates carry
    // a 2× threshold and physical-IO floors by design, so they tolerate
    // following the ×10 tier; the plan series must not pay their
    // writeback. REPORTING order is unchanged — every sub-map is built
    // from partitioned results, so baselines stay comparable.
    val (gateSel, plainSel) =
      selected.partition { case (n, _) => GateQueries.contains(n) }
    val resultsPlain = measure(plainSel, sfDir, "")
    // ---- tier 2: ×10 data, shuffle/AQE-visible (measurement only —
    // regression math waits for the END calibration sample). Runs
    // BEFORE the tier-1 gates (execution-order note above); `sync`
    // first so tier-1's own dirty pages (checkpoint blocks, shuffle
    // files) are flushed outside the ×10 cold timers.
    val tier2On = sys.env.getOrElse("SPARK_GRAFT_TIER2", "1") != "0"
    val tier2Data: Option[(Seq[Row], Int)] =
      if (!tier2On || only.isDefined) None
      else {
        val factor = 10
        val t2dir = sys.env.getOrElse("SPARK_GRAFT_TIER2_DIR",
          "/tmp/graft_tier2_x10")
        try {
          ensureTier2(spark, sfDir, t2dir, factor)
          try new ProcessBuilder("sync").start().waitFor()
          catch { case _: Exception => () }
          val t2sel = SparkEntry.queries.toSeq.sortBy(_._1)
            .filter { case (n, _) => Tier2Queries.contains(n) }
          val (t2gateSel, t2plainSel) =
            t2sel.partition { case (n, _) => GateQueries.contains(n) }
          Some((measure(t2plainSel ++ t2gateSel, t2dir,
            ":tier2", gcBetween = true), factor))
        } catch { case e: Exception =>
          System.err.println(s"[bench:tier2] skipped: ${e.getMessage}")
          None
        }
      }

    // tier-1 lifecycle gates LAST: their multi-GB /tmp corpora can no
    // longer tax the ×10 cold series, and their own 2× threshold
    // absorbs following it
    val resultsGates = measure(gateSel, sfDir, "")

    // END-of-run calibration sample + steal counter: the sandwich. The
    // committed adjudication rule ("multi32 swings >20% between samples
    // minutes apart ⇒ active steal, defer per-query adjudication") is
    // now applied BY THE RECORD — `steal_suspect:true` means nobody
    // should chase this run's per-query flags, and the steal-jiffies
    // delta says how much hypervisor theft the run actually absorbed.
    val (hostSingleEnd, hostMultiEnd) = hostScore()
    val stealEnd = cpuStealJiffies()
    val sandwichSwing = math.max(
      calibrationSwing(hostSingle, hostSingleEnd),
      calibrationSwing(hostMulti, hostMultiEnd))
    val stealSuspect = sandwichSwing > 0.20
    val steal = for (a <- stealStart; b <- stealEnd) yield (b._1 - a._1, b._2 - a._2)
    val host = Host(hostSingle, hostMulti, Some(hostSingleEnd), Some(hostMultiEnd),
      Some(math.round(sandwichSwing * 1e4) / 1e4), steal.map(_._1),
      steal.map(_._2), Some(stealSuspect),
      Some(Runtime.getRuntime.availableProcessors()))
    if (stealSuspect) System.err.println(
      f"[bench] STEAL SUSPECT: calibration sandwich swung ${sandwichSwing * 100}%.0f%%" +
        f" (single $hostSingle->$hostSingleEnd, multi32 $hostMulti->$hostMultiEnd)" +
        " — per-query flags in this record are not adjudicable")

    val baselinePath = sys.env.get("SPARK_GRAFT_BENCH_BASELINE").orElse(latestBaseline())
    System.err.println(s"[bench] baseline: ${baselinePath.getOrElse("none")}")
    val baseline = baselinePath.flatMap(readRecordFile)
    val drift = Bench.drift(baseline.map(_.host), host)
    val record = Record(host, sfDir,
      buildTier(resultsPlain ++ resultsGates, baseline.map(_.tier1), drift),
      tier2Data.map { case (rows, factor) =>
        buildTier(rows, baseline.flatMap(_.tier2), drift, ":tier2", Some(factor))
      },
      Some("min3"))
    val json = writeRecord(record)
    println(json)
    // sbt routes program stdout through its [info] logger — also land
    // the line in a file a reader can take whole.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    val fullRecordName =
      if (only.isEmpty && tier2On)
        writeFullRecord(repoDir, json).getFileName.toString
      else "bench_out.json"
    // COMPACT summary line, printed LAST: a reader that keeps only the
    // tail of stdout still gets the totals and regression names
    println(compactLine(record, fullRecordName))
    spark.stop()
  }
}
