package graft

/** Benchmark main: times every SparkEntry query cold + warm (min-of-3)
  * at sf0.1 and a ×10 replicated tier, polices regressions against the
  * previous round's committed record, and writes the full per-query
  * JSON to `bench_out.json` + `BENCH_FULL_r{N}.json`.
  *
  * == MEASUREMENT DISCIPLINE (repo law, not session lore) ==
  *
  *  - '''Never run anything CPU-heavy concurrently with a bench run'''
  *    (no verify jobs, no sbt test, no probes). Contention contaminates
  *    both the per-query timings and the hostScore calibration — the
  *    round-7 record carried a 42 s q134 cold sample for exactly this
  *    reason. One bench at a time, idle host.
  *  - '''Delete trial BENCH_FULL files before the round ends.''' Any
  *    manual `runMain graft.Bench` writes `BENCH_FULL_r{N}.json`
  *    (N = max existing BENCH_r* + 1). If trial copies linger, the
  *    driver's end-of-round bench baselines against the trial instead
  *    of the previous round's committed record, and cross-round
  *    policing degrades to same-day noise comparison.
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

  /** Queries whose per-execution cost is a full multi-batch streaming
    * run or store lifecycle (rerun-idempotent by design): reported
    * under `gates`/`warm_gates` instead of `queries`/`warm` so tier-1
    * totals of plan-shaped queries stay readable. Parsing is unaffected
    * — [[queryTimes]] is anchor-free, so cross-round policing still
    * sees them in the cold/warm sections. */
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

  /** Every `"qNN_name":<seconds>` pair in `text`. This is deliberately
    * anchor-free: the driver's BENCH_r*.json keeps only the LAST ~3 kB of
    * output in its `tail` field, so the head of the JSON line (and with it
    * any `{"metric":` or even `"queries":{` anchor) may be truncated away
    * mid-pair. Query names are the only keys shaped `q\d+_...` followed by
    * a number — regression entries use `"q"/"prev"/"now"` keys and failed
    * lists carry bare names with no colon, so neither can false-match. */
  private[graft] def queryTimes(text: String): Map[String, Double] = {
    val pair = """"(q\d+[A-Za-z0-9_]*)":(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)""".r
    pair.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Split a bench dump into (tier-1 text, tier-2 text). A fragment is
    * filed as tier 1 ONLY when it provably precedes the tier-2 section:
    *  - `"tier2":{` present → everything before it is tier 1;
    *  - else `"sf":` present → the record format is
    *    `...,"sf":"<dir>"[,"tier2":{...}]}`, so text before `"sf":` is
    *    tier 1 and text after is tier 2 (possibly empty);
    *  - else `"metric":` present → the record HEAD survived and the
    *    text ends before the tier-1 section does → all tier 1;
    *  - else → an anchor-free fragment. The driver's ~3 kB tail keeps
    *    the END of the output, and the record ends with the tier-2
    *    object, so an anchor-free tail is the tier-2 remnant — filing
    *    it as tier 1 is the round-6 bug (round 5's tail was exactly
    *    this shape: its ×10 warm map got compared against tier-1 sf0.1
    *    numbers). File it as tier 2, never tier 1. */
  private[graft] def splitTiers(full: String): (String, String) = {
    val i = full.indexOf("\"tier2\":{")
    val s = full.indexOf("\"sf\":")
    if (i >= 0) (full.substring(0, i), full.substring(i))
    else if (s >= 0) (full.substring(0, s), full.substring(s))
    else if (full.contains("\"metric\":")) (full, "")
    else ("", full)
  }

  /** Scope a tier's text to its cold (`"queries"`) or warm map. Each
    * tier's JSON is built cold-map-first, `"warm":{` after, so the
    * marker cleanly separates them; a file from before the warm
    * methodology has no marker and is all cold. A tail truncated to
    * inside a tier still splits correctly WITHIN that tier: the cold
    * remnant precedes `"warm":{` and the warm map follows it. (The
    * cross-TIER misfiling risk lives in [[splitTiers]], not here.) */
  private def warmSplit(tierText: String, warm: Boolean): String = {
    val w = tierText.indexOf("\"warm\":{")
    if (w < 0) { if (warm) "" else tierText }
    else if (warm) tierText.substring(w)
    else tierText.substring(0, w)
  }

  /** Previous round's per-query times, from a driver-written
    * BENCH_r*.json (the one JSON line is embedded in its `tail` field,
    * possibly truncated mid-JSON) or a plain bench_out.json.
    * `section`: "" = tier-1 cold, "warm" = tier-1 second-run,
    * "tier2" = ×10 cold, "tier2warm" = ×10 second-run. Empty map when
    * absent/unparseable — callers must surface that as
    * `baseline_missing`, never as a clean no-regressions result. */
  private[graft] def baselineQueries(path: String,
                                     section: String = ""): Map[String, Double] =
    try {
      val full = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8").replace("\\\"", "\"")
      val (t1, t2) = splitTiers(full)
      val tier = if (section.startsWith("tier2")) t2 else t1
      queryTimes(warmSplit(tier, section.endsWith("warm")))
    } catch { case _: Exception => Map.empty }

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

  /** Latest USABLE bench record beside the repo — the previous round's
    * numbers. `BENCH_FULL_r*.json` (the complete per-query record this
    * bench writes each run, committed to the repo) is ALWAYS preferred
    * over the driver's `BENCH_r*.json`, whose `tail` field keeps only
    * the last ~3 kB of output — round 6's policing compared against a
    * misfiled truncated tail and was noise. Within each family,
    * candidates are probed newest-first and the first that actually
    * parses to at least one per-query time wins (a compile-failure
    * round leaves an rc=1 stub with zero pairs — the round-4 lesson).
    * Falls back to the round-2 file so an env-less run still compares. */
  private[graft] def latestBaseline(dir: String = repoDir): String = {
    val d = new java.io.File(dir)
    def newestFirst(re: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten
        .filter(_.getName.matches(re)).map(_.getPath).sorted.reverse
    val full = newestFirst("BENCH_FULL_r\\d+\\.json")
    val tails = newestFirst("BENCH_r\\d+\\.json")
    (full ++ tails).find(p => baselineQueries(p).nonEmpty)
      .orElse(tails.headOption)
      .getOrElse(s"$dir/BENCH_r02.json")
  }

  /** The round number a full record is named for: the
    * `SPARK_GRAFT_BENCH_ROUND` override when it holds an integer,
    * otherwise one past the newest `BENCH_r*.json` in `dir`. A blank or
    * garbage override falls back to that scan instead of crashing the
    * bench after its whole run. */
  private[graft] def benchRound(env: Option[String], dir: String): Int =
    env.flatMap { e =>
      val n = e.trim.toIntOption
      if (n.isEmpty) System.err.println(s"SPARK_GRAFT_BENCH_ROUND='$e' is " +
        "not an integer; naming the record from the BENCH_r*.json scan")
      n
    }.getOrElse(
      1 + Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
        .collect { case n if n.matches("BENCH_r\\d+\\.json") =>
          n.stripPrefix("BENCH_r").stripSuffix(".json").toInt }
        .foldLeft(0)(math.max))

  /** Query names inside one `"key":[{"q":...},...]` regression section
    * of a record fragment. Used by the compact summary line (names
    * only, no numbers) — the full entries stay in the full record. */
  private[graft] def regrSection(fragment: String, key: String): Seq[String] = {
    val arr = (s""""$key":\\[(.*?)\\]""").r
      .findFirstMatchIn(fragment).map(_.group(1)).getOrElse("")
    """"q":"([^"]+)"""".r.findAllMatchIn(arr).map(_.group(1)).toSeq
  }

  /** A capped JSON name array + overflow count for the compact line:
    * `"k":["a","b"],"k_more":3`. Caps keep the whole compact line under
    * the driver's ~2 kB stdout tail window. */
  private[graft] def cappedNames(key: String, names: Seq[String],
                                 cap: Int = 8): String = {
    val shown = names.take(cap).map("\"" + _ + "\"").mkString("[", ",", "]")
    s""""$key":$shown,"${key}_more":${math.max(0, names.size - cap)}"""
  }

  /** Host calibration recorded in a baseline file (`"single_miters":N`
    * / `"multi32_miters":N`), for host-drift normalization in the
    * regression math. None for records from before the host section. */
  private[graft] def baselineHostMiters(path: String, key: String)
      : Option[Long] =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      (s""""$key":(\\d+)""").r.findFirstMatchIn(text)
        .map(_.group(1).toLong)
    } catch { case _: Exception => None }

  private[graft] def baselineHostSingle(path: String): Option[Long] =
    baselineHostMiters(path, "single_miters")

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

  /** >25% per-query slowdowns vs a previous map, as a JSON fragment (and
    * stderr callouts) — the bench polices its own regressions so a
    * round-over-round diff never depends on a human reading two files.
    * An empty baseline yields `"baseline_missing":true`, NOT a clean
    * `[]`: a clean empty list must always mean "compared and found
    * nothing", never "had nothing to compare against". */
  /** `threshold`: the cold series is a SINGLE sample per round (one
    * measured execution + GC timing luck), and round-7 A/B runs showed
    * ±30-50% swings on sub-second queries with zero code change and
    * non-repeating flag sets — so cold callers pass 1.5. The warm
    * series is min-of-3 and stays at the tighter 1.25. */
  private[graft] def regressionJson(tag: String, prev: Map[String, Double],
                                    now: Seq[(String, Double, Boolean)],
                                    keyPrefix: String = "",
                                    scale: Double = 1.0,
                                    threshold: Double = 1.25): String = {
    if (prev.isEmpty) {
      System.err.println(s"[bench$tag] baseline missing/unparseable — " +
        "regression policing DID NOT RUN this round")
      return s""""${keyPrefix}regressions":[],"${keyPrefix}baseline_missing":true"""
    }
    // host-drift normalization: each prev is scaled by the recorded
    // single-thread calibration ratio before the 1.25× threshold, so a
    // uniformly slower (or faster) host no longer reads as a wall of
    // regressions (or masks real ones). The emitted entry carries the
    // expected (scaled) value so a reader can audit the math.
    val items = now.collect {
      case (name, t, true)
        if prev.get(name).exists(p => p > 0.3 && t > p * scale * threshold) =>
          val p = prev(name)
          System.err.println(
            f"[bench$tag] REGRESSION $name: $p%.2fs (expected ${p * scale}%.2fs" +
              f" at this host) -> $t%.2fs (${t / (p * scale)}%.2fx)")
          s"""{"q":"$name","prev":$p,"expected":${p * scale},"now":$t}"""
    }.mkString("[", ",", "]")
    s""""${keyPrefix}regressions":$items,""" +
      s""""${keyPrefix}host_scale":$scale,""" +
      s""""${keyPrefix}baseline_missing":false"""
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
        gcBetween: Boolean = false)
        : Seq[(String, Double, Double, Boolean)] =
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
        (name, cold, warm, ok)
      }
    def mapJson(rs: Seq[(String, Double, Double, Boolean)], warm: Boolean) =
      rs.map { case (k, c, w, _) => "\"" + k + "\":" + (if (warm) w else c) }
        .mkString("{", ",", "}")
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
    val tier2Data: Option[(Seq[(String, Double, Double, Boolean)], Int)] =
      if (sys.env.getOrElse("SPARK_GRAFT_TIER2", "1") == "0" || only.isDefined) None
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
    val results0 = resultsPlain ++ resultsGates
    val results = results0.map { case (k, c, _, ok) => (k, c, ok) }
    // lifecycle gate queries report in their own sub-maps (object
    // scaladoc): cold emission order is queries-then-gates, both before
    // the "warm":{ marker, so the anchor-free baseline parser files
    // every pair into the right cold/warm section regardless of sub-map
    val (gates0, plain0) = results0.partition(r => GateQueries.contains(r._1))
    val qs = mapJson(plain0, warm = false)
    val gateQs = mapJson(gates0, warm = false)
    val warmQs = mapJson(plain0, warm = true)
    val warmGateQs = mapJson(gates0, warm = true)
    val failedSeq = results.collect { case (k, _, false) => k }
    val failed = failedSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    // a round with failures must not offer a comparable total: summing
    // only the survivors would make a regression-to-failure read as a
    // speedup against a clean round
    val total =
      if (failedSeq.nonEmpty) "null"
      else results.collect { case (_, v, true) => v }.sum.toString
    val warmTotal =
      if (failedSeq.nonEmpty) "null"
      else results0.collect { case (_, _, w, true) => w }.sum.toString

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
    val stealJson = (for (a <- stealStart; b <- stealEnd) yield
      s""""steal_jiffies":${b._1 - a._1},"cpu_jiffies":${b._2 - a._2},""")
      .getOrElse("")
    val hostJson = s""""host":{"single_miters":$hostSingle,""" +
      s""""multi32_miters":$hostMulti,""" +
      s""""single_miters_end":$hostSingleEnd,""" +
      s""""multi32_miters_end":$hostMultiEnd,""" +
      // Locale.ROOT: under a comma-decimal default locale an f"%.4f"
      // would emit "0,2500" — an invalid JSON bench record
      s""""sandwich_swing":${String.format(java.util.Locale.ROOT,
        "%.4f", Double.box(sandwichSwing))},$stealJson""" +
      s""""steal_suspect":$stealSuspect}"""
    if (stealSuspect) System.err.println(
      f"[bench] STEAL SUSPECT: calibration sandwich swung ${sandwichSwing * 100}%.0f%%" +
        f" (single $hostSingle->$hostSingleEnd, multi32 $hostMulti->$hostMultiEnd)" +
        " — per-query flags in this record are not adjudicable")

    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      latestBaseline())
    // Host drift is the MAX of the single-thread and 32-way calibration
    // ratios, over BOTH sandwich samples. Single-thread captures
    // clock-speed drift but NOT core availability: these VMs run under
    // visible hypervisor steal (/proc/stat steal ≈ 68% of cumulative
    // user time on the round-8 host), and a steal episode collapses
    // 32-way throughput while the one-core score stays flat (r6→r8:
    // single 481→441, multi32 13000→9830 — every local[32] query
    // uniformly ~1.5-2× slower). Queries on local[32] are 32-thread
    // work, so the multi ratio is the binding constraint; the max over
    // both samples assumes the host at its measured slowest, and
    // `steal_suspect` already marks the record when the samples
    // disagree enough for that assumption to matter.
    val drift = Seq(
      hostScale(baselineHostSingle(baselinePath), hostSingle),
      hostScale(baselineHostSingle(baselinePath), hostSingleEnd),
      hostScale(baselineHostMiters(baselinePath, "multi32_miters"), hostMulti),
      hostScale(baselineHostMiters(baselinePath, "multi32_miters"), hostMultiEnd))
      .max

    // ---- regression callouts vs the previous round -----------------------
    // Lifecycle gate queries are EXCLUDED from the plan-query regression
    // series (round-8 verdict item 2: their cost is physical IO and
    // state-store floor by design, and their variance buried the plan
    // queries' trends two rounds running); they get their own series at
    // a 2× threshold so a genuine blowup still surfaces.
    def planOnly[T](rs: Seq[(String, T, Boolean)]) =
      rs.filterNot(r => GateQueries.contains(r._1))
    def gateOnly[T](rs: Seq[(String, T, Boolean)]) =
      rs.filter(r => GateQueries.contains(r._1))
    val warmNow = results0.map { case (k, _, w, ok) => (k, w, ok) }
    val t1prev = baselineQueries(baselinePath)
    val t1prevWarm = baselineQueries(baselinePath, "warm")
    val regressions = regressionJson("", t1prev, planOnly(results),
      scale = drift, threshold = 1.5)
    val warmRegr = regressionJson(":warm", t1prevWarm, planOnly(warmNow),
      "warm_", scale = drift)
    val gateRegr = regressionJson(":gates", t1prev, gateOnly(results),
      "gate_", scale = drift, threshold = 2.0)
    val gateWarmRegr = regressionJson(":gates:warm", t1prevWarm,
      gateOnly(warmNow), "warm_gate_", scale = drift, threshold = 2.0)

    val tier2Json = tier2Data.map { case (t20, factor) =>
      val t2 = t20.map { case (k, c, _, ok) => (k, c, ok) }
      val (t2gates, t2plain) = t20.partition(r => GateQueries.contains(r._1))
      val t2qs = mapJson(t2plain, warm = false)
      val t2gateQs = mapJson(t2gates, warm = false)
      val t2warm = mapJson(t2plain, warm = true)
      val t2warmGateQs = mapJson(t2gates, warm = true)
      val t2failed = t20.collect { case (k, _, _, false) => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val t2total =
        if (t20.exists(!_._4)) "null"
        else t20.collect { case (_, v, _, true) => v }.sum.toString
      val t2warmTotal =
        if (t20.exists(!_._4)) "null"
        else t20.collect { case (_, _, w, true) => w }.sum.toString
      val t2prev = baselineQueries(baselinePath, "tier2")
      val t2prevWarm = baselineQueries(baselinePath, "tier2warm")
      val t2warmNow = t20.map { case (k, _, w, ok) => (k, w, ok) }
      val t2regr = regressionJson(":tier2", t2prev, planOnly(t2),
        scale = drift, threshold = 1.5)
      // warm-vs-warm policing, once a warm baseline exists (files
      // from before the warm methodology simply lack the section —
      // that is a missing baseline and says so)
      val t2warmRegr = regressionJson(":tier2:warm", t2prevWarm,
        planOnly(t2warmNow), "warm_", scale = drift)
      val t2gateRegr = regressionJson(":tier2:gates", t2prev, gateOnly(t2),
        "gate_", scale = drift, threshold = 2.0)
      val t2gateWarmRegr = regressionJson(":tier2:gates:warm", t2prevWarm,
        gateOnly(t2warmNow), "warm_gate_", scale = drift, threshold = 2.0)
      s""","tier2":{"factor":$factor,"total":$t2total,""" +
        s""""queries":$t2qs,"gates":$t2gateQs,"failed":$t2failed,""" +
        s""""warm_total":$t2warmTotal,"warm":$t2warm,""" +
        s""""warm_gates":$t2warmGateQs,""" +
        s"""$t2regr,$t2warmRegr,$t2gateRegr,$t2gateWarmRegr}"""
    }.getOrElse("")

    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""ok":${failedSeq.isEmpty},"warm_estimator":"min3",""" +
      s"""$hostJson,""" +
      s""""queries":$qs,"gates":$gateQs,"failed":$failed,""" +
      s""""warm_total":$warmTotal,"warm":$warmQs,"warm_gates":$warmGateQs,""" +
      s"""$regressions,$warmRegr,$gateRegr,$gateWarmRegr,""" +
      s""""sf":"$sfDir"$tier2Json}"""
    println(json)
    // sbt routes program stdout through its [info] logger, which the
    // driver's JSON extraction has failed to strip (BENCH_r01 recorded
    // "parsed": null) — also land the line in a file it can read directly.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    // The driver's BENCH_r*.json keeps only the last ~3 kB of output, so
    // per-query history dies with each round (round 6's policing
    // compared against a misfiled truncated tail). Persist the COMPLETE
    // record as a committed repo file, named for the round the driver is
    // about to stamp (max existing BENCH_r* + 1, overridable via
    // SPARK_GRAFT_BENCH_ROUND); latestBaseline prefers these, making
    // next round's comparison full-fidelity at both tiers.
    var fullRecordName = "bench_out.json"
    if (only.isEmpty && sys.env.getOrElse("SPARK_GRAFT_TIER2", "1") != "0") {
      val roundNo = benchRound(sys.env.get("SPARK_GRAFT_BENCH_ROUND"), repoDir)
      // NEVER clobber an existing record (round-11 verdict item 2: the
      // driver's post-round run silently overwrote the builder's
      // committed end-of-round record). Suffixed names don't match
      // latestBaseline's regex, so extra runs can't hijack next round's
      // baseline either.
      val path = Iterator.from(0)
        .map(k => if (k == 0) f"$repoDir/BENCH_FULL_r$roundNo%02d.json"
                  else f"$repoDir/BENCH_FULL_r$roundNo%02d_$k.json")
        .find(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        .get
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
      fullRecordName = new java.io.File(path).getName
    }
    // COMPACT summary line, printed LAST (round-11 verdict item 2): the
    // driver keeps only the final ~2 kB of stdout, so the full record
    // line above has had its head truncated away in EVERY round's
    // BENCH_r*.json ("parsed": null since r01). This line carries the
    // totals, counts and regression NAMES in well under 2 kB; the
    // per-query maps stay in the (unchanged) full line, bench_out.json
    // and BENCH_FULL_r{N}.json. Measurement methodology is untouched.
    {
      def names(frag: String, key: String) = regrSection(frag, key)
      val t2frag = tier2Json
      val regrCounts = Seq(
        "cold" -> names(regressions, "regressions").size,
        "warm" -> names(warmRegr, "warm_regressions").size,
        "gate" -> names(gateRegr, "gate_regressions").size,
        "warm_gate" -> names(gateWarmRegr, "warm_gate_regressions").size,
        "t2" -> names(t2frag, "regressions").size,
        "t2_warm" -> names(t2frag, "warm_regressions").size,
        "t2_gate" -> names(t2frag, "gate_regressions").size,
        "t2_warm_gate" -> names(t2frag, "warm_gate_regressions").size)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val t2totals = tier2Data.map { case (t20, _) =>
        val t2t = if (t20.exists(!_._4)) "null"
          else t20.collect { case (_, v, _, true) => v }.sum.toString
        val t2w = if (t20.exists(!_._4)) "null"
          else t20.collect { case (_, _, w, true) => w }.sum.toString
        s""""t2_total":$t2t,"t2_warm_total":$t2w,"""
      }.getOrElse("")
      val baselineMissing = t1prevWarm.isEmpty
      val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""ok":${failedSeq.isEmpty},"compact":true,""" +
        s""""warm_estimator":"min3","warm_total":$warmTotal,""" +
        s"""$t2totals"n_queries":${plain0.size},"n_gates":${gates0.size},""" +
        s""""failed":$failed,""" +
        s""""host_scale":${String.format(java.util.Locale.ROOT,
          "%.4f", Double.box(drift))},""" +
        s""""steal_suspect":$stealSuspect,""" +
        s""""baseline_missing":$baselineMissing,""" +
        s""""regr_counts":$regrCounts,""" +
        cappedNames("warm_regr_names",
          names(warmRegr, "warm_regressions")) + "," +
        cappedNames("t2_warm_regr_names",
          names(t2frag, "warm_regressions")) + "," +
        s""""full_record":"$fullRecordName","sf":"$sfDir"}"""
      println(compact)
    }
    spark.stop()
  }
}
