package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's round-over-round regression policing is only as good as
  * its ability to read the PREVIOUS round's record — and the driver's
  * BENCH_r*.json keeps just the last ~3 kB of output, truncating the
  * JSON line's head mid-pair. These tests feed exactly that shape and
  * assert the baseline still parses, and that an unparseable baseline
  * is surfaced as `baseline_missing`, never as a clean `[]`. */
class BenchParseSpec extends AnyFunSuite {

  private def write(content: String): String = {
    val f = java.nio.file.Files.createTempFile("bench_tail", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("queryTimes recovers pairs with no JSON anchors, skipping torn heads") {
    val torn = """n_join":0.52,"q39_ann_lsh":0.67,"q52_dedup_components":4.88"""
    val m = Bench.queryTimes(torn)
    assert(m == Map("q39_ann_lsh" -> 0.67, "q52_dedup_components" -> 4.88))
  }

  test("queryTimes ignores regression entries and failed lists") {
    val text = """"queries":{"q25_qc":1.41},"failed":["q12_gaps"],""" +
      """"regressions":[{"q":"q25_qc","prev":1.03,"now":1.41}]"""
    assert(Bench.queryTimes(text) == Map("q25_qc" -> 1.41))
  }

  test("splitTiers files pairs to the right tier, with and without marker") {
    val full = """"q01_a":1.0,"tier2":{"factor":10,"queries":{"q01_a":9.0}"""
    val (t1, t2) = Bench.splitTiers(full)
    assert(Bench.queryTimes(t1) == Map("q01_a" -> 1.0))
    assert(Bench.queryTimes(t2) == Map("q01_a" -> 9.0))
    // marker itself truncated away but factor survives -> all tier 2
    val t2only = """2":{"factor":10,"total":37.6,"queries":{"q52_d":11.9}"""
    val (a, b) = Bench.splitTiers(t2only)
    assert(Bench.queryTimes(a).isEmpty && Bench.queryTimes(b) == Map("q52_d" -> 11.9))
    // anchor-free fragment: could be the tier-2 remnant of a truncated
    // tail (round 5's shape) — must NEVER be filed as tier 1
    val anchorless = """"q07_x":0.3}"""
    assert(Bench.splitTiers(anchorless) == ("", anchorless))
    // the record head survived and neither "sf" nor the tier2 marker is
    // present -> truncated mid-tier-1 -> provably all tier 1
    val headOnly = """{"metric":"total","value":1.0,"queries":{"q07_x":0.3"""
    assert(Bench.splitTiers(headOnly) == (headOnly, ""))
    // "sf" separator present but no tier2 section (tier2 skipped):
    // before-sf is tier 1, after-sf holds no query pairs
    val sfOnly = """ess":{"q07_x":0.3},"sf":"/root/testdata/sf0.1"}"""
    val (c, d) = Bench.splitTiers(sfOnly)
    assert(Bench.queryTimes(c) == Map("q07_x" -> 0.3) && Bench.queryTimes(d).isEmpty)
  }

  test("round 5's actual truncated tail is never filed as tier 1") {
    val r05 = "/root/repo/BENCH_r05.json"
    assume(new java.io.File(r05).exists())
    // the real r5 tail is an anchor-free tier-2 remnant (cold tail +
    // full ×10 warm map). Round 6 filed it as tier 1 and compared sf0.1
    // numbers against ×10 warm values; the fix refuses tier-1 filing
    // without a provable anchor.
    assert(Bench.baselineQueries(r05).isEmpty,
      "tier-1 filing of an anchor-free fragment")
    assert(Bench.baselineQueries(r05, "warm").isEmpty)
    val t2w = Bench.baselineQueries(r05, "tier2warm")
    assert(math.abs(t2w("q01_pricing_summary") - 0.229366762) < 1e-9)
    assert(t2w.size >= 40, s"expected the full x10 warm map, got ${t2w.size}")
    val t2c = Bench.baselineQueries(r05, "tier2")
    assert(math.abs(t2c("q98_cdc_dedup") - 0.796208791) < 1e-9)
  }

  test("the committed BENCH_FULL_r06 record parses all four sections") {
    val p = "/root/repo/BENCH_FULL_r06.json"
    assume(new java.io.File(p).exists())
    assert(Bench.baselineQueries(p).size == 143)
    assert(Bench.baselineQueries(p, "warm").size == 143)
    assert(Bench.baselineQueries(p, "tier2").size == 57)
    assert(Bench.baselineQueries(p, "tier2warm").size == 57)
    assert(math.abs(Bench.baselineQueries(p)("q100_ivf_pq") - 10.769776185) < 1e-9)
    assert(Bench.baselineHostSingle(p).contains(481L))
    // the 32-way calibration (drift on stolen hosts collapses multi
    // throughput while single stays flat — the ratio the gate now uses)
    assert(Bench.baselineHostMiters(p, "multi32_miters").contains(13000L))
  }

  test("hostScale normalizes drift, clamps corruption, defaults to 1") {
    assert(Bench.hostScale(Some(500L), 500L) == 1.0)
    // prev host 2x faster (1000 vs now 500): expect times 2x slower now
    assert(math.abs(Bench.hostScale(Some(1000L), 500L) - 2.0) < 1e-12)
    assert(math.abs(Bench.hostScale(Some(250L), 500L) - 0.5) < 1e-12)
    assert(Bench.hostScale(Some(100000L), 500L) == 3.0) // clamped
    assert(Bench.hostScale(Some(1L), 500L) == 1.0 / 3.0) // clamped
    assert(Bench.hostScale(None, 500L) == 1.0)
    assert(Bench.hostScale(Some(0L), 500L) == 1.0)
  }

  test("regressionJson applies the host scale to the threshold") {
    val prev = Map("q01_a" -> 1.0)
    // 1.4s now vs 1.0s prev is a regression on an equal host...
    val flat = Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)))
    assert(flat.contains("\"q\":\"q01_a\""))
    // ...but NOT when the baseline host was 1.5x faster (expected 1.5s)
    val scaled = Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)),
      scale = 1.5)
    assert(!scaled.contains("\"q\":\"q01_a\""))
    assert(scaled.contains("\"host_scale\":1.5"))
    // and a fast host SHRINKS the allowance: 1.0 now vs 1.0 prev at
    // scale 0.5 (host is 2x faster) IS a regression
    val fast = Bench.regressionJson("", prev, Seq(("q01_a", 1.0, true)),
      scale = 0.5)
    assert(fast.contains("\"q\":\"q01_a\"") && fast.contains("\"expected\":0.5"))
  }

  test("cold callers widen the threshold; the warm default stays tight") {
    val prev = Map("q01_a" -> 1.0)
    // 1.4x: flagged at the default (warm) 1.25 threshold...
    assert(Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)))
      .contains("\"q\":\"q01_a\""))
    // ...but below the single-sample cold gate of 1.5
    assert(!Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)),
      threshold = 1.5).contains("\"q\":\"q01_a\""))
    assert(Bench.regressionJson("", prev, Seq(("q01_a", 1.6, true)),
      threshold = 1.5).contains("\"q\":\"q01_a\""))
  }

  test("a driver-shaped truncated tail parses for both tiers") {
    // the driver wraps the bench line in a JSON file whose `tail` field
    // holds the escaped, head-truncated output
    val tail = """ms\":0.34,\"q52_dedup_components\":4.88,\"q53_bm25\":0.78},""" +
      """\"failed\":[],\"regressions\":[],\"baseline_missing\":false,""" +
      """\"sf\":\"/root/testdata/sf0.1\",\"tier2\":{\"factor\":10,""" +
      """\"total\":37.65,\"queries\":{\"q52_dedup_components\":11.98,""" +
      """\"q80_shared_spans\":2.98},\"failed\":[],\"regressions\":[]}}"""
    val path = write(s"""{"n": 3, "rc": 0, "tail": "$tail", "parsed": null}""")
    assert(Bench.baselineQueries(path) ==
      Map("q52_dedup_components" -> 4.88, "q53_bm25" -> 0.78))
    assert(Bench.baselineQueries(path, "tier2") ==
      Map("q52_dedup_components" -> 11.98, "q80_shared_spans" -> 2.98))
  }

  test("the actual BENCH_r03.json recovers q52 in both tiers") {
    val r03 = "/root/repo/BENCH_r03.json"
    assume(new java.io.File(r03).exists())
    val t1 = Bench.baselineQueries(r03)
    val t2 = Bench.baselineQueries(r03, "tier2")
    // r03's tail is truncated mid-q38; everything after must survive
    assert(math.abs(t1("q52_dedup_components") - 4.887165696) < 1e-9)
    assert(t1.size >= 40, s"expected q38..q80 tier-1 entries, got ${t1.size}")
    assert(math.abs(t2("q52_dedup_components") - 11.986504775) < 1e-9)
    assert(t2.size == 15)
  }

  test("warm sections parse separately per tier; pre-warm files are all cold") {
    val full = """{"metric":"total","value":1.0,"queries":{"q01_a":1.5},""" +
      """"failed":[],"warm_total":0.4,"warm":{"q01_a":0.4},"regressions":[],""" +
      """"tier2":{"factor":10,"queries":{"q01_a":9.0},"failed":[],""" +
      """"warm_total":3.0,"warm":{"q01_a":3.0},"regressions":[]}}"""
    val p = write(full)
    assert(Bench.baselineQueries(p) == Map("q01_a" -> 1.5))
    assert(Bench.baselineQueries(p, "warm") == Map("q01_a" -> 0.4))
    assert(Bench.baselineQueries(p, "tier2") == Map("q01_a" -> 9.0))
    assert(Bench.baselineQueries(p, "tier2warm") == Map("q01_a" -> 3.0))
    // a file from before the warm methodology: cold parses, warm is
    // MISSING (so the caller flags warm_baseline_missing, not clean []).
    // The head anchor must survive for tier-1 filing — an anchor-free
    // fragment is refused (see the round-5-tail test).
    val old = write("""{"metric":"total","queries":{"q01_a":1.5},"failed":[]""")
    assert(Bench.baselineQueries(old) == Map("q01_a" -> 1.5))
    assert(Bench.baselineQueries(old, "warm").isEmpty)
  }

  test("regressionJson keyPrefix names warm keys so tiers can coexist") {
    val out = Bench.regressionJson(":warm", Map.empty,
      Seq(("q01_a", 1.0, true)), "warm_")
    assert(out.contains("\"warm_baseline_missing\":true"))
    assert(out.contains("\"warm_regressions\":[]"))
  }

  test("empty baseline emits baseline_missing:true, never a clean []") {
    val out = Bench.regressionJson("", Map.empty, Seq(("q01_a", 1.0, true)))
    assert(out.contains("\"baseline_missing\":true"))
    val ok = Bench.regressionJson("",
      Map("q01_a" -> 0.5), Seq(("q01_a", 1.0, true)))
    assert(ok.contains("\"baseline_missing\":false"))
    assert(ok.contains(
      "{\"q\":\"q01_a\",\"prev\":0.5,\"expected\":0.5,\"now\":1.0}"))
  }

  test("the round-9 sandwich record format parses; host miters = START sample") {
    val full = """{"metric":"total","value":1.0,"unit":"sec","ok":true,""" +
      """"warm_estimator":"min3","host":{"single_miters":480,""" +
      """"multi32_miters":12000,"single_miters_end":475,""" +
      """"multi32_miters_end":9000,"sandwich_swing":0.2500,""" +
      """"steal_jiffies":123456,"cpu_jiffies":999999,"steal_suspect":true},""" +
      """"queries":{"q01_a":1.5},"gates":{"q137_store_roundtrip":10.0},""" +
      """"failed":[],"warm_total":0.4,"warm":{"q01_a":0.4},""" +
      """"warm_gates":{"q137_store_roundtrip":9.0},"regressions":[],""" +
      """"sf":"/root/testdata/sf0.1","tier2":{"factor":10,"total":9.0,""" +
      """"queries":{"q01_a":9.0},"gates":{"q137_store_roundtrip":19.0},""" +
      """"failed":[],"warm_total":3.0,"warm":{"q01_a":3.0},""" +
      """"warm_gates":{"q137_store_roundtrip":18.0},"regressions":[]}}"""
    val p = write(full)
    // gate queries file into the same cold/warm sections as plan queries
    // (the anchor-free parser is sub-map-blind — by design)
    assert(Bench.baselineQueries(p) ==
      Map("q01_a" -> 1.5, "q137_store_roundtrip" -> 10.0))
    assert(Bench.baselineQueries(p, "warm") ==
      Map("q01_a" -> 0.4, "q137_store_roundtrip" -> 9.0))
    assert(Bench.baselineQueries(p, "tier2") ==
      Map("q01_a" -> 9.0, "q137_store_roundtrip" -> 19.0))
    assert(Bench.baselineQueries(p, "tier2warm") ==
      Map("q01_a" -> 3.0, "q137_store_roundtrip" -> 18.0))
    // drift normalization must read the START calibration (first match),
    // never the _end sample — the regex anchors on the exact key
    assert(Bench.baselineHostSingle(p).contains(480L))
    assert(Bench.baselineHostMiters(p, "multi32_miters").contains(12000L))
  }

  test("steal sandwich: jiffy counters read and swing math classifies") {
    // /proc/stat assertions only where the file exists (the production
    // code treats a missing one as a graceful None — a non-Linux dev
    // host must not fail the unit suite); the swing math below is
    // host-independent and always asserted
    if (new java.io.File("/proc/stat").exists()) {
      val j = Bench.cpuStealJiffies()
      assert(j.nonEmpty, "/proc/stat should parse on this host")
      assert(j.get._1 >= 0 && j.get._2 > 0 && j.get._1 <= j.get._2)
    }
    // the committed adjudication rule: >20% swing between the sandwich
    // samples marks the record steal_suspect
    assert(Bench.calibrationSwing(10000L, 10000L) == 0.0)
    assert(Bench.calibrationSwing(10000L, 7900L) > 0.20)
    assert(Bench.calibrationSwing(7900L, 10000L) > 0.20) // symmetric
    assert(Bench.calibrationSwing(10000L, 8500L) < 0.20)
    assert(Bench.calibrationSwing(0L, 0L) == 0.0) // degenerate: no flag
  }

  test("compact-line helpers: section names extract per key, caps hold") {
    val frag = """"warm_regressions":[{"q":"q01_a","prev":1.0,"now":2.0},""" +
      """{"q":"q02_b","prev":0.5,"now":0.9}],"warm_host_scale":1.0"""
    assert(Bench.regrSection(frag, "warm_regressions") == Seq("q01_a", "q02_b"))
    // the un-prefixed key must not match inside a prefixed one
    val both = """"regressions":[{"q":"qc_cold","prev":1,"now":2}],""" +
      """"warm_regressions":[{"q":"qw_warm","prev":1,"now":2}]"""
    assert(Bench.regrSection(both, "regressions") == Seq("qc_cold"))
    assert(Bench.regrSection(both, "warm_regressions") == Seq("qw_warm"))
    assert(Bench.regrSection("", "regressions").isEmpty)
    // caps: 8 shown, the rest counted — the compact line must stay well
    // under the driver's ~2 kB stdout tail window
    val many = (1 to 30).map(i => f"q$i%02d_name")
    val capped = Bench.cappedNames("warm_regr_names", many)
    assert(capped.contains("\"warm_regr_names_more\":22"))
    assert(capped.length < 300)
  }

  test("latestBaseline picks the newest USABLE round file") {
    val dir = java.nio.file.Files.createTempDirectory("benchbase").toString
    def put(n: String, body: String) =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, n), body)
    val withTimes = """{"tail":"{\"metric\":\"total\",\"queries\":{\"q01_a\":1.5}"}"""
    put("BENCH_r02.json", withTimes)
    put("BENCH_r03.json", withTimes)
    put("BENCH_r10.json", withTimes)
    assert(Bench.latestBaseline(dir).endsWith("BENCH_r10.json"))
    // an rc=1 compile-failure stub (tail is a compile log, no query
    // pairs) must be skipped, not chosen — the round-4 lesson
    put("BENCH_r11.json", """{"n":11,"rc":1,"tail":"[error] does not compile"}""")
    assert(Bench.latestBaseline(dir).endsWith("BENCH_r10.json"))
    // a committed FULL record beats every truncated driver tail, even
    // an older-round one (it carries the complete per-query history)
    put("BENCH_FULL_r09.json",
      """{"metric":"total","queries":{"q01_a":1.4},"failed":[]""")
    assert(Bench.latestBaseline(dir).endsWith("BENCH_FULL_r09.json"))
    // ...but an unusable FULL record (no pairs) falls back to the tails
    put("BENCH_FULL_r09.json", "{}")
    assert(Bench.latestBaseline(dir).endsWith("BENCH_r10.json"))
    // if EVERY candidate is unusable, still return the newest tail
    // (caller surfaces baseline_missing)
    for (n <- Seq("BENCH_r02.json", "BENCH_r03.json", "BENCH_r10.json"))
      put(n, "{}")
    assert(Bench.latestBaseline(dir).endsWith("BENCH_r11.json"))
  }

  test("benchRound: a blank or garbage round override falls back to the record scan") {
    val dir = java.nio.file.Files.createTempDirectory("benchround").toString
    for (n <- Seq("BENCH_r03.json", "BENCH_r07.json", "BENCH_FULL_r09.json"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, n), "{}")
    // one past the newest driver record; FULL records are not counted
    assert(Bench.benchRound(None, dir) == 8)
    for (bad <- Seq("", "   ", "abc", "7x", "1.5"))
      assert(Bench.benchRound(Some(bad), dir) == 8, s"override '$bad'")
    assert(Bench.benchRound(Some(" 12 "), dir) == 12)
    val empty = java.nio.file.Files.createTempDirectory("benchround0").toString
    assert(Bench.benchRound(Some("garbage"), empty) == 1)
  }
}
