package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench's round-over-round regression policing is only as good as
  * its ability to read the baseline record. These tests read every
  * committed `BENCH_FULL_r*.json` through the typed reader, replay the
  * regression calls and host drift they recorded, and assert that an
  * unreadable baseline is surfaced as `baseline_missing`, never as a
  * clean `[]`. */
class BenchParseSpec extends AnyFunSuite {
  import Bench.{Host, Record, Regression, Row, Tier}

  private def write(content: String): String = {
    val f = java.nio.file.Files.createTempFile("bench_record", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  private def committed(n: String): Record = {
    val p = java.nio.file.Paths.get(Bench.repoDir, s"BENCH_FULL_r$n.json").toString
    Bench.readRecordFile(p).getOrElse(fail(s"$p does not read as a bench record"))
  }

  /** A clean record of `cold` times (warm = half), policed against nothing. */
  private def record(cold: (String, Double)*): Record = Record(Host(500L, 12000L),
    "/root/testdata/sf0.1", Bench.buildTier(cold.map { case (q, t) =>
      Row(q, t, t / 2, ok = true) }, None, 1.0))

  private def json(text: String): JValue = JsonMethods.parse(text)

  test("the committed BENCH_FULL_r06 record parses all four sections") {
    val r = committed("06")
    assert(r.tier1.queries.size == 143 && r.tier1.warm.size == 143)
    assert(r.tier1.gates.isEmpty)
    assert(r.tier2.get.queries.size == 57 && r.tier2.get.warm.size == 57)
    assert(math.abs(r.tier1.queries("q100_ivf_pq") - 10.769776185) < 1e-9)
    assert(r.host.single_miters == 481L)
    // the 32-way calibration (drift on stolen hosts collapses multi
    // throughput while single stays flat — the ratio the gate now uses)
    assert(r.host.multi32_miters == 13000L)
  }

  test("every committed BENCH_FULL record reads, with the recorded section sizes") {
    val names = Option(new java.io.File(Bench.repoDir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("""BENCH_FULL_r.*\.json""")).sorted
    assert(names.contains("BENCH_FULL_r06.json") && names.contains("BENCH_FULL_r13.json"),
      names)
    for (n <- names) committed(n.stripPrefix("BENCH_FULL_r").stripSuffix(".json"))
    def sizes(n: String) = {
      val r = committed(n)
      val t2 = r.tier2.get
      (r.tier1.queries.size, r.tier1.warm.size, r.tier1.gates.size,
        t2.queries.size, t2.warm.size, t2.gates.size)
    }
    assert(sizes("08") == ((149, 149, 12, 60, 60, 0)))
    assert(sizes("13") == ((145, 145, 21, 58, 58, 2)))
  }

  test("replayed policing reproduces every recorded regression series") {
    // each later record was policed against the earlier one; other
    // committed pairs were policed against files no longer kept
    var replayed = 0
    for ((a, b) <- Seq("06" -> "07", "09" -> "10", "11" -> "12",
                       "12" -> "12_1", "12" -> "13")) {
      val (prev, next) = (committed(a), committed(b))
      for {
        (tier, base) <- Seq(Some(next.tier1) -> Some(prev.tier1), next.tier2 -> prev.tier2)
        t <- tier.toSeq
        (kind, recorded) <- t.policing
      } {
        val again = Bench.police(t, base, recorded.host_scale).policing(kind)
        assert(again.baseline_missing == recorded.baseline_missing, s"r$a->r$b '$kind'")
        assert(again.regressions == recorded.regressions, s"r$a->r$b '$kind'")
        replayed += recorded.regressions.size
      }
    }
    assert(replayed > 20, s"only $replayed recorded regressions replayed")
  }

  test("replayed drift equals the recorded host_scale bit for bit") {
    for ((a, b) <- Seq("06" -> "07", "11" -> "12", "12" -> "12_1", "12" -> "13")) {
      val next = committed(b)
      val d = Bench.drift(Some(committed(a).host), next.host)
      val recorded = (next.tier1.policing.values ++
        next.tier2.toSeq.flatMap(_.policing.values)).map(_.host_scale)
      assert(recorded.nonEmpty && recorded.forall(_ == d), s"r$a->r$b: $d vs $recorded")
    }
  }

  test("a host with another core count drifts by the single-thread ratio alone") {
    val r13 = committed("13").host
    assert(r13.cores.isEmpty)
    // a 4-core VM: single-thread speed equal to r13's, a 32-way score
    // about a seventh of it — that ratio is the core count, not drift
    val vm = Host(r13.single_miters, 1469L, Some(r13.single_miters), Some(1469L),
      cores = Some(4))
    assert(Bench.drift(Some(r13), vm) == 1.0)
    assert(Bench.drift(Some(r13), vm.copy(cores = None)) == 3.0)
    // the same core count on both sides compares the 32-way scores
    val base = vm.copy(multi32_miters = 2938L, multi32_miters_end = None)
    assert(Bench.drift(Some(base), vm) == 2.0)
    assert(Bench.drift(Some(base), vm.copy(cores = Some(8))) == 1.0)
    assert(Bench.readRecord(Bench.writeRecord(record().copy(host = vm))).map(_.host)
      .contains(vm))
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
    assert(flat.regressions.map(_.q) == List("q01_a"))
    // ...but NOT when the baseline host was 1.5x faster (expected 1.5s)
    val scaled = Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)),
      scale = 1.5)
    assert(scaled.regressions.isEmpty && scaled.host_scale == 1.5)
    // and a fast host SHRINKS the allowance: 1.0 now vs 1.0 prev at
    // scale 0.5 (host is 2x faster) IS a regression
    val fast = Bench.regressionJson("", prev, Seq(("q01_a", 1.0, true)),
      scale = 0.5)
    assert(fast.regressions == List(Regression("q01_a", 1.0, Some(0.5), 1.0)))
  }

  test("cold callers widen the threshold; the warm default stays tight") {
    val prev = Map("q01_a" -> 1.0)
    // 1.4x: flagged at the default (warm) 1.25 threshold...
    assert(Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)))
      .regressions.nonEmpty)
    // ...but below the single-sample cold gate of 1.5
    assert(Bench.regressionJson("", prev, Seq(("q01_a", 1.4, true)),
      threshold = 1.5).regressions.isEmpty)
    assert(Bench.regressionJson("", prev, Seq(("q01_a", 1.6, true)),
      threshold = 1.5).regressions.nonEmpty)
    assert(Bench.Thresholds ==
      Map("" -> 1.5, "warm_" -> 1.25, "gate_" -> 2.0, "warm_gate_" -> 2.0))
  }

  test("warm sections parse separately per tier; pre-warm files are all cold") {
    val full = """{"metric":"total","value":1.0,"host":{"single_miters":500,""" +
      """"multi32_miters":12000},"queries":{"q01_a":1.5},"failed":[],""" +
      """"warm_total":0.4,"warm":{"q01_a":0.4},"regressions":[],"sf":"d",""" +
      """"tier2":{"factor":10,"queries":{"q01_a":9.0},"failed":[],""" +
      """"warm_total":3.0,"warm":{"q01_a":3.0},"regressions":[]}}"""
    val r = Bench.readRecord(full).get
    assert(r.tier1.queries == Map("q01_a" -> 1.5) && r.tier1.warm == Map("q01_a" -> 0.4))
    assert(r.tier2.get.queries == Map("q01_a" -> 9.0))
    assert(r.tier2.get.warm == Map("q01_a" -> 3.0) && r.tier2.get.factor.contains(10))
    // a record from before the warm methodology: cold parses, warm is
    // MISSING (so policing flags warm_baseline_missing, not clean [])
    val old = Bench.readRecord("""{"metric":"total","host":{"single_miters":500,""" +
      """"multi32_miters":12000},"queries":{"q01_a":1.5},"failed":[],"sf":"d"}""").get
    assert(old.tier1.queries == Map("q01_a" -> 1.5) && old.tier1.warm.isEmpty)
    val p = Bench.police(record("q01_a" -> 1.0).tier1, Some(old.tier1), 1.0).policing
    assert(!p("").baseline_missing && p("warm_").baseline_missing)
  }

  test("regressionJson keyPrefix names warm keys so tiers can coexist") {
    // a baseline with cold times only: the warm series has nothing to
    // compare, in both tiers, and its keys must not collide with cold's
    val coldOnly = Tier(total = None, queries = Map("q01_a" -> 1.0),
      failed = Nil, warm_total = None)
    val rows = Seq(Row("q01_a", 1.0, 0.5, ok = true))
    val r = Record(Host(500L, 12000L), "d", Bench.buildTier(rows, Some(coldOnly), 1.0),
      Some(Bench.buildTier(rows, Some(coldOnly), 1.0, ":tier2", Some(10))))
    val j = json(Bench.writeRecord(r))
    for (t <- Seq(j, j \ "tier2")) {
      assert((t \ "warm_baseline_missing") == JBool(true))
      assert((t \ "warm_regressions") == JArray(Nil))
      assert((t \ "baseline_missing") == JBool(false))
      assert((t \ "gate_baseline_missing") == JBool(false))
    }
  }

  test("empty baseline emits baseline_missing:true, never a clean []") {
    val out = Bench.regressionJson("", Map.empty, Seq(("q01_a", 1.0, true)))
    assert(out.baseline_missing && out.regressions.isEmpty)
    val ok = Bench.regressionJson("",
      Map("q01_a" -> 0.5), Seq(("q01_a", 1.0, true)))
    assert(!ok.baseline_missing)
    assert(ok.regressions == List(Regression("q01_a", 0.5, Some(0.5), 1.0)))
    // a baseline file that does not read as a record polices nothing
    val garbage = Bench.readRecordFile(write("""{"metric":"total","queries":{"q01_a":1.5}"""))
    assert(garbage.isEmpty)
    val t = Bench.buildTier(Seq(Row("q01_a", 1.0, 1.0, ok = true)),
      garbage.map(_.tier1), 1.0)
    assert(t.policing.size == 4 &&
      t.policing.values.forall(s => s.baseline_missing && s.regressions.isEmpty))
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
    val r = Bench.readRecord(full).get
    assert(r.tier1.total.contains(1.0) && r.warm_estimator.contains("min3"))
    assert(r.tier1.gates == Map("q137_store_roundtrip" -> 10.0))
    assert(r.tier1.warm_gates == Map("q137_store_roundtrip" -> 9.0))
    assert(r.tier2.get.gates == Map("q137_store_roundtrip" -> 19.0))
    assert(r.tier2.get.warm_gates == Map("q137_store_roundtrip" -> 18.0))
    // gate times stay a baseline for the gate series
    val now = record("q137_store_roundtrip" -> 25.0)
    assert(Bench.police(now.tier1, Some(r.tier1), 1.0).policing("gate_")
      .regressions.map(_.q) == List("q137_store_roundtrip"))
    assert(r.host == Host(480L, 12000L, Some(475L), Some(9000L), Some(0.25),
      Some(123456L), Some(999999L), Some(true)))
    // drift normalization reads the baseline's START calibration, never
    // the _end sample: a host equal to the START sample has no drift
    assert(Bench.drift(Some(r.host), Host(480L, 12000L)) == 1.0)
  }

  test("a record with an escaped sf, a failed query and null totals survives write and read") {
    val base = record("q01_a" -> 1.0, "q137_store_roundtrip" -> 1.0)
    val rows = Seq(Row("q01_a", 2.0, 1.5, ok = true), Row("q02_b", -1.0, -1.0, ok = false),
      Row("q137_store_roundtrip", 3.0, 2.5, ok = true))
    val r = Record(Host(480L, 12000L, Some(470L), Some(11000L), Some(0.0833), None, None,
      Some(false)), "/tmp/a\"b\\c", Bench.buildTier(rows, Some(base.tier1), 1.25),
      Some(Bench.buildTier(rows, None, 1.25, ":tier2", Some(10))), Some("min3"))
    assert(r.tier1.total.isEmpty && r.tier1.failed == List("q02_b"))
    assert(r.tier1.policing("").regressions.map(_.q) == List("q01_a"))
    val text = Bench.writeRecord(r)
    assert((json(text) \ "value") == JNull && (json(text) \ "ok") == JBool(false))
    assert((json(Bench.compactLine(r, "x")) \ "t2_total") == JNull)
    assert(Bench.readRecord(text).contains(r))
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
    val many = (1 to 30).map(i => f"q$i%02d_name")
    val base = record(("qc_cold" -> 1.0) +: many.map(_ -> 1.0): _*)
    // qc_cold regresses cold only; the 30 others warm only
    val rows = Row("qc_cold", 5.0, 0.5, ok = true) +: many.map(Row(_, 1.0, 5.0, ok = true))
    val r = Record(Host(500L, 12000L), "d", Bench.buildTier(rows, Some(base.tier1), 1.0),
      Some(Bench.buildTier(rows.take(2), Some(base.tier1), 1.0, ":tier2", Some(10))),
      Some("min3"))
    val line = Bench.compactLine(r, "BENCH_FULL_r14.json")
    val c = json(line)
    assert((c \ "regr_counts") == json(
      """{"cold":1,"warm":30,"gate":0,"warm_gate":0,""" +
        """"t2":1,"t2_warm":1,"t2_gate":0,"t2_warm_gate":0}"""))
    assert((c \ "warm_regr_names") == JArray(many.take(8).map(JString(_)).toList))
    assert((c \ "warm_regr_names_more") == JInt(22))
    assert((c \ "t2_warm_regr_names") == JArray(List(JString("q01_name"))))
    assert((c \ "t2_warm_regr_names_more") == JInt(0))
    assert((c \ "n_queries") == JInt(31) && (c \ "baseline_missing") == JBool(false))
    assert((c \ "t2_total") == JDouble(6.0) && (c \ "full_record") == JString("BENCH_FULL_r14.json"))
    // the compact line stays small however many queries regress
    assert(line.length < 1000, line)
  }

  test("latestBaseline picks the newest USABLE round file") {
    val dir = java.nio.file.Files.createTempDirectory("benchbase").toString
    def put(n: String, body: String) =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, n), body)
    val usable = Bench.writeRecord(record("q01_a" -> 1.5))
    // a driver tail file is never a baseline
    put("BENCH_r20.json", usable)
    assert(Bench.latestBaseline(dir).isEmpty)
    put("BENCH_FULL_r09.json", usable)
    put("BENCH_FULL_r99.json", usable)
    assert(Bench.latestBaseline(dir).exists(_.endsWith("BENCH_FULL_r99.json")))
    // newest by number, not by name
    put("BENCH_FULL_r100.json", usable)
    assert(Bench.latestBaseline(dir).exists(_.endsWith("BENCH_FULL_r100.json")))
    // a newer record that does not read, or reads with no query (a
    // run that failed to compile), is skipped — the round-4 lesson
    put("BENCH_FULL_r101.json", "[error] does not compile")
    put("BENCH_FULL_r102.json", Bench.writeRecord(record()))
    // an extra run's suffixed record never becomes the baseline
    put("BENCH_FULL_r100_1.json", usable)
    assert(Bench.latestBaseline(dir).exists(_.endsWith("BENCH_FULL_r100.json")))
  }

  test("benchRound numbers one past the newest BENCH_FULL record, which is the next baseline") {
    val dir = java.nio.file.Files.createTempDirectory("benchround").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "BENCH_r12.json"), "{}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "BENCH_FULL_r13.json"),
      Bench.writeRecord(record("q01_a" -> 1.0)))
    assert(Bench.benchRound(dir) == 14)
    val p = Bench.writeFullRecord(dir, Bench.writeRecord(record("q01_a" -> 2.0)))
    assert(p.getFileName.toString == "BENCH_FULL_r14.json")
    assert(Bench.latestBaseline(dir).contains(p.toString))
    assert(Bench.benchRound(dir) == 15)
  }
}
