package graft

import org.scalatest.funsuite.AnyFunSuite

/** The PlanAudit interp-gauge fence, proven by deliberate regressions
  * (round-11, verdict item 6): the committed `PLAN_GAUGE.json` snapshot
  * must FAIL the audit when a query's interpreted-span count grows or a
  * new query ships unrecorded — and stay quiet on shrinkage, absence of
  * a snapshot, and exact matches. Pure snapshot-diff logic; the live
  * counts come from the real PlanAudit main, which executes every
  * query (its codegenGauge has its own non-blind asserts). */
class PlanGaugeFenceSpec extends AnyFunSuite {

  private def rows(entries: (String, Int, Int)*) =
    entries.toList.map { case (n, cg, ip) =>
      (n, Map("codegen" -> cg, "interp" -> ip)) }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("gauge")
      .resolve("PLAN_GAUGE.json").toString

  test("write mode records the snapshot; identical rerun is clean") {
    val p = tmp()
    PlanAudit.gaugeFence(rows(("q1", 5, 2), ("q2", 3, 0)), p, write = true)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(txt.contains(""""q1":{"codegen":5,"interp":2}"""), txt)
    PlanAudit.gaugeFence(rows(("q1", 5, 2), ("q2", 3, 0)), p, write = false)
  }

  test("interp growth fails loudly, naming the query and both counts") {
    val p = tmp()
    PlanAudit.gaugeFence(rows(("q1", 5, 2)), p, write = true)
    val e = intercept[AssertionError] {
      PlanAudit.gaugeFence(rows(("q1", 4, 3)), p, write = false)
    }
    assert(e.getMessage.contains("q1 interp 2->3"), e.getMessage)
    assert(e.getMessage.contains("SPARK_GRAFT_GAUGE_WRITE"), e.getMessage)
  }

  test("an unrecorded new query fails; shrinkage and codegen growth do not") {
    val p = tmp()
    PlanAudit.gaugeFence(rows(("q1", 5, 2)), p, write = true)
    // fewer interpreted spans / more codegen stages: an improvement
    PlanAudit.gaugeFence(rows(("q1", 9, 1)), p, write = false)
    // a query the snapshot has never seen must be recorded deliberately
    val e = intercept[AssertionError] {
      PlanAudit.gaugeFence(rows(("q1", 5, 2), ("q_new", 1, 0)), p,
        write = false)
    }
    assert(e.getMessage.contains("unrecorded=[q_new]"), e.getMessage)
  }

  test("no snapshot on disk: the fence reports, never blocks") {
    PlanAudit.gaugeFence(rows(("q1", 5, 2)), tmp(), write = false)
  }

  test("the committed PLAN_GAUGE.json reads entry for entry and rewrites byte for byte") {
    val committed = java.nio.file.Paths.get(Bench.repoDir, "PLAN_GAUGE.json")
    val gauge = PlanAudit.readGauge(committed.toString)
    assert(gauge.size > 100, s"${gauge.size} entries")
    val again = rows(gauge.toSeq.map { case (n, g) => (n, g.codegen, g.interp) }: _*)
    PlanAudit.gaugeFence(again, committed.toString, write = false)
    val p = tmp()
    PlanAudit.gaugeFence(again, p, write = true)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p)) ==
      java.nio.file.Files.readString(committed))
  }

  test("a reformatted snapshot still fences: pretty-printed interp growth fails") {
    val p = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "{\n  \"q1\": {\"codegen\": 5, \"interp\": 2},\n  \"q2\": {\"codegen\": 3, \"interp\": 0}\n}\n")
    PlanAudit.gaugeFence(rows(("q1", 5, 2), ("q2", 3, 0)), p, write = false)
    val e = intercept[AssertionError] {
      PlanAudit.gaugeFence(rows(("q1", 5, 3), ("q2", 3, 0)), p, write = false)
    }
    assert(e.getMessage.contains("q1 interp 2->3"), e.getMessage)
  }

  test("a snapshot that does not read as any entry fails, never passes") {
    for (body <- Seq("not json", "{}", """{"q1":{"codegen":"five"}}""")) {
      val p = tmp()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), body)
      val e = intercept[AssertionError] {
        PlanAudit.gaugeFence(rows(("q1", 5, 2)), p, write = false)
      }
      assert(e.getMessage.contains("does not read"), s"$body: ${e.getMessage}")
    }
  }
}
