package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

/** The `graft.Probe` subcommands on sf0.001, its argument checks, and
  * the job log behind `Probe query`. */
class ProbeSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val env = Map("SPARK_GRAFT_SF_DIR" -> Sf)
  private val Q = "q01_pricing_summary"

  // expression ids (`#123`) and exchange `plan_id`s count up per planned
  // query, so two builds of one query differ only there
  private def normalized(plan: String) =
    plan.replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")

  test("plan writes <dir>/<q>_<suffix>.txt holding the formatted plan") {
    val dir = tmpDir("plans")
    Probe.parse(Seq("plan", Q, dir, "before"), env).run(spark)
    val written = Files.readString(Paths.get(dir, s"${Q}_before.txt"))
    val expected = SparkEntry.queries(Q)(spark, Sf).queryExecution
      .explainString(FormattedMode)
    assert(written.contains("== Physical Plan =="))
    assert(normalized(written) == normalized(expected))
  }

  test("query reports at least one job for each run") {
    val cmd = Probe.parse(Seq("query", Q), env)
    assert(cmd == Probe.Query(Seq(Q), 2, Sf, 32))
    val runs = Probe.query(spark, Sf, Seq(Q), reps = 2)
    assert(runs.map(_.rep) == Seq(1, 2))
    runs.foreach(r => assert(r.jobs.nonEmpty, s"run ${r.rep} saw no jobs"))
  }

  test("scale gridded 5 passes its planted checks") {
    Probe.parse(Seq("scale", "gridded", "5"), env).run(spark)
  }

  test("bad arguments fail in parse, before a session; unknown names list the valid ones") {
    val q = intercept[IllegalArgumentException](
      Probe.parse(Seq("query", s"$Q,q_nope"), env))
    assert(q.getMessage.contains("unknown query q_nope"), q.getMessage)
    assert(q.getMessage.contains(Q), q.getMessage)
    val s = intercept[IllegalArgumentException](
      Probe.parse(Seq("scale", "nope"), env))
    assert(s.getMessage.contains("unknown scenario nope"), s.getMessage)
    ScaleScenarios.all.foreach(sc => assert(s.getMessage.contains(sc.name)))
    val m = intercept[IllegalArgumentException](
      Probe.parse(Seq("scale", "media", "100", "3"), env))
    assert(m.getMessage.contains("media takes mode 1|2"), m.getMessage)
    val n = intercept[IllegalArgumentException](
      Probe.parse(Seq("scale", "gridded", "0"), env))
    assert(n.getMessage.contains("n must be a positive integer"), n.getMessage)
    val dir = intercept[IllegalArgumentException](
      Probe.parse(Seq("plan", Q), Map.empty))
    assert(dir.getMessage.contains("SPARK_GRAFT_SF_DIR"), dir.getMessage)
  }

  test("job log: reset forgets a leaked start, so drain returns at once") {
    val log = new JobLog
    log.onJobStart(SparkListenerJobStart(7, 0L, Seq.empty))
    assert(!log.drain(100L), "an open job must hold the drain")
    log.reset()
    assert(log.snapshot.isEmpty)
    val t0 = System.nanoTime()
    assert(log.drain(5000L))
    assert(System.nanoTime() - t0 < 1000000000L, "drain waited on a forgotten job")
    // the leaked job's late end lands in no run
    log.onJobEnd(SparkListenerJobEnd(7, 0L, JobSucceeded))
    assert(log.snapshot.isEmpty)
    log.onJobStart(SparkListenerJobStart(8, 0L, Seq.empty))
    log.onJobEnd(SparkListenerJobEnd(8, 0L, JobSucceeded))
    assert(log.snapshot.map(_.id) == List(8))
    assert(log.drain(0L))
  }
}
