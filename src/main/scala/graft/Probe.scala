package graft

import java.nio.file.{Files, Paths}

import java.lang.management.ManagementFactory

import graft.obs.{Compiles, JobLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The one diagnostic main, three subcommands:
  *
  *   runMain graft.Probe query <q>[,<q>…] [reps]     (reps default 2)
  *   runMain graft.Probe plan <q>[,<q>…] [dir suffix]
  *   runMain graft.Probe scale <scenario> [n] [mode]
  *
  *  - `query` runs `SparkEntry` queries over `SPARK_GRAFT_SF_DIR` in one
  *    session and prints, per run, the wall time and the Spark job
  *    breakdown: job count, summed job time, the call sites that took
  *    it and the longest jobs, plus the generated classes it compiled
  *    and the time that took ([[Compiles]]) and the JVM's non-heap use
  *    after it. The first run is the cold one; the bench's decision
  *    series is warm, and a warm run of a query compiles nothing.
  *  - `plan` writes each query's formatted physical plan to
  *    `<dir>/<q>_<suffix>.txt` (the `plans/rNN/<q>_before.txt` /
  *    `_after.txt` evidence files), or prints it with no `dir`. Plans,
  *    not data, are the subject: point `SPARK_GRAFT_SF_DIR` at sf0.001.
  *    Query construction side effects (artifact writes in the
  *    pipeline/store queries) run at that scale, same as PlanAudit.
  *  - `scale` runs one of the [[ScaleScenarios]] rehearsals, which
  *    check a planted answer at a chosen size.
  *
  * Names are checked before any session is built. `SPARK_GRAFT_CPUS`
  * sizes the session (default 32; `plan` always uses 8, so plan files
  * stay comparable with the committed ones).
  */
object Probe {

  sealed trait Command {
    def cores: Int
    def run(spark: SparkSession): Unit
  }

  final case class Query(names: Seq[String], reps: Int, sfDir: String,
                         cores: Int) extends Command {
    def run(spark: SparkSession): Unit = query(spark, sfDir, names, reps)
  }

  final case class Plan(names: Seq[String], out: Option[(String, String)],
                        sfDir: String) extends Command {
    val cores = 8
    def run(spark: SparkSession): Unit = plan(spark, sfDir, names, out)
  }

  final case class Scale(scenario: ScaleScenarios.Scenario, n: Int,
                         mode: String, cores: Int) extends Command {
    def run(spark: SparkSession): Unit = scenario.run(spark, n, mode)
  }

  private val Usage: String =
    """usage: Probe query <q>[,<q>...] [reps]
      |       Probe plan <q>[,<q>...] [dir suffix]
      |       Probe scale <scenario> [n] [mode]""".stripMargin

  /** The command `args` name, or an IllegalArgumentException naming what
    * is wrong (and listing the valid names for an unknown one). Builds
    * no session. */
  def parse(args: Seq[String], env: Map[String, String] = sys.env): Command = {
    val cores = env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)
    def sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", throw
      new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a test-data dir"))
    def queries(list: String): Seq[String] = {
      val qs = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val known = SparkEntry.queries.keySet
      val unknown = qs.filterNot(known)
      require(qs.nonEmpty && unknown.isEmpty,
        s"unknown query ${unknown.mkString(",")}; valid: " +
          known.toSeq.sorted.mkString(", "))
      qs
    }
    def int(what: String, s: String): Int = s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$what must be a positive integer, got $s"))
    args match {
      case Seq("query", qs, rest @ _*) if rest.size <= 1 =>
        Query(queries(qs), rest.headOption.map(int("reps", _)).getOrElse(2),
          sfDir, cores)
      case Seq("plan", qs) => Plan(queries(qs), None, sfDir)
      case Seq("plan", qs, dir, suffix) => Plan(queries(qs), Some((dir, suffix)), sfDir)
      case Seq("scale", name, rest @ _*) if rest.size <= 2 =>
        val sc = ScaleScenarios.all.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"unknown scenario $name; valid: " +
            ScaleScenarios.all.map(_.name).mkString(", ")))
        val mode = rest.lift(1)
        require(mode.forall(sc.modes.contains),
          if (sc.modes.isEmpty) s"scenario $name takes no mode"
          else s"scenario $name takes mode ${sc.modes.mkString("|")}, got ${mode.get}")
        Scale(sc, rest.headOption.map(int("n", _)).getOrElse(sc.defaultN),
          mode.getOrElse(sc.modes.headOption.getOrElse("")), cores)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = GraftSession.local(cmd.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try cmd.run(spark) finally spark.stop()
  }

  /** One timed run of one query, the jobs it started and the classes
    * compiled meanwhile. */
  final case class Run(query: String, rep: Int, seconds: Double,
                       jobs: Seq[JobLog.Job], compiles: Compiles)

  def query(spark: SparkSession, sfDir: String, names: Seq[String],
            reps: Int): Seq[Run] =
    for (q <- names; rep <- 1 to reps) yield {
      val ((seconds, jobs), compiles) = Compiles.measure(JobLog.measure(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      })
      val run = Run(q, rep, seconds, jobs, compiles)
      report(run)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      run
    }

  private def report(r: Run): Unit = {
    val tag = s"rep${r.rep}"
    println(f"PROFILE $tag ${r.query} total ${r.seconds}%.2fs, " +
      f"${r.jobs.size} jobs, job-sum ${r.jobs.map(_.ms).sum / 1e3}%.2fs, " +
      f"${r.compiles.classes} classes compiled, ${r.compiles.seconds}%.2f s compiling, " +
      f"non-heap ${ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1e6}%.1f MB")
    val bySite = r.jobs.groupBy(_.site).map { case (s, js) =>
      (s, js.map(_.ms).sum, js.size) }.toSeq.sortBy(-_._2)
    bySite.take(25).foreach { case (s, ms, n) =>
      println(f"PROFILE $tag   ${ms / 1e3}%7.2fs  n=$n%-4d $s") }
    r.jobs.sortBy(-_.ms).take(12).foreach { j =>
      println(f"PROFILE $tag  job#${j.id}%-4d ${j.ms / 1e3}%6.2fs  " +
        j.stages.map { case (s, n) => s"$s[$n]" }.mkString(" <- ")) }
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String],
           out: Option[(String, String)]): Unit = names.foreach { q =>
    val txt = SparkEntry.queries(q)(spark, sfDir).queryExecution
      .explainString(FormattedMode)
    out match {
      case Some((dir, suffix)) =>
        val path = Paths.get(dir, s"${q}_$suffix.txt")
        Files.createDirectories(path.getParent)
        Files.writeString(path, txt)
        println(s"wrote $path (${txt.length} chars)")
      case None => println(s"== $q ==\n$txt")
    }
  }
}
