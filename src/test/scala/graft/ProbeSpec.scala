package graft

import java.nio.file.{Files, Paths}

import graft.obs.JobLog
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.Trigger

/** The `graft.Probe` subcommands on sf0.001, its argument checks, and
  * the job recorder behind `Probe query` and the cost fences. */
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

  test("a query's second run compiles no generated class") {
    // q160's run needs more generated classes than Spark's default
    // codegen cache (100) holds
    val runs = Probe.query(spark, Sf, Seq("q160_corpus_lifecycle"), reps = 2)
    assert(runs(1).compiles.classes == 0, s"rep2 compiled ${runs(1).compiles}")
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

  /** The task count of each recorded job's stages. */
  private def tasks(jobs: Seq[JobLog.Job]): Seq[Seq[Int]] = jobs.map(_.stages.map(_._2))

  test("recorder: a job started on another thread outside the scope is not counted") {
    val sc = spark.sparkContext
    val go = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => { go.await(); sc.parallelize(1 to 6, 3).count() })
    other.start()
    val (_, jobs) = JobLog.measure(spark) {
      go.countDown()
      other.join()
      sc.parallelize(1 to 4, 2).count()
    }
    assert(tasks(jobs) == Seq(Seq(2)), jobs)
    assert(jobs.head.site.startsWith("count at ProbeSpec.scala"), jobs.head.site)
    assert(jobs.head.endMs.exists(_ >= jobs.head.startMs))
  }

  test("recorder: a nested measure counts for the enclosing one, its marker job does not") {
    val sc = spark.sparkContext
    val ((_, inner), outer) = JobLog.measure(spark) {
      sc.parallelize(1 to 4, 1).count()
      JobLog.measure(spark)(sc.parallelize(1 to 4, 2).count())
    }
    assert(tasks(inner) == Seq(Seq(2)))
    assert(tasks(outer) == Seq(Seq(1), Seq(2)))
  }

  test("recorder: a streaming query started in the scope has its jobs counted") {
    val s = spark
    import s.implicits._
    val (in, out, ckpt) = (tmpDir("rec-in"), tmpDir("rec-out"), tmpDir("rec-ckpt"))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$in/p=1")
    val schema = Seq((0L, "")).toDF("id", "v").schema
    // the stream thread runs its batches under a job group of its own
    val (_, jobs) = JobLog.measure(spark) {
      spark.readStream.schema(schema).parquet(s"$in/*").writeStream
        .format("parquet").option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(jobs.nonEmpty, "the streaming query's jobs were not counted")
    assert(spark.read.parquet(out).count() == 2)
  }

  test("recorder: measure restores the caller's scope after body throws") {
    val sc = spark.sparkContext
    val (_, jobs) = JobLog.measure(spark) {
      val scope = sc.getLocalProperty(JobLog.ScopeProp)
      intercept[IllegalStateException](JobLog.measure(spark) {
        sc.parallelize(1 to 4, 2).count()
        throw new IllegalStateException("body failed")
      })
      assert(sc.getLocalProperty(JobLog.ScopeProp) == scope)
      sc.parallelize(1 to 6, 3).count()
    }
    assert(sc.getLocalProperty(JobLog.ScopeProp) == null)
    assert(tasks(jobs) == Seq(Seq(2), Seq(3)))
  }
}
