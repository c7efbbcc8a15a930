package gridbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** A check of an operation's result against the seeded generator. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Run context shared by the workloads: the session, the recorder and
  * the operation ledger. Every operation is timed in its own span and
  * then verified outside it; a throw from either counts the operation
  * as failed and ends the run. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val work: String) {
  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Whether the next operations may trace their layers. */
  var traceOps = true

  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Runs `work` as an operation of `kind`, then `verify` on its result.
    * `layers` asks for layer spans inside it (honoured in traced runs). */
  def op[T](kind: String, layers: Boolean = true)(work: => T)(
      verify: (T, Span) => Unit): T = {
    attempted += 1
    try {
      var span: Span = null
      val r = rec.op(kind, layers && traceOps) { s => span = s; work }
      verify(r, span)
      r
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$kind #$attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }
}

/** A workload: independent set-ups (the last one is kept), one untimed
  * warm-up operation, then a fixed number of timed steps, then a final
  * whole-state check. */
trait Workload {
  def setup(k: Int): Unit
  def warmup(): Unit
  def step(i: Int): Unit
  def finish(): Unit
  def facts: Map[String, Double]
}

/** Host noise, stored beside the run and never used to rescale it:
  * hypervisor steal from `/proc/stat`, and a fixed single-thread loop. */
object Noise {
  def stealJiffies(): Long = scala.util.Try {
    val cpu = scala.io.Source.fromFile("/proc/stat")
    try cpu.getLines().next().trim.split("\\s+")(8).toLong finally cpu.close()
  }.getOrElse(-1L)

  /** Milliseconds for 30 M steps of a linear congruential generator,
    * after one untimed pass that lets the JIT compile the loop. */
  def calibrationMs(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 30000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) println("") // keeps the loop live
      (System.nanoTime() - t0) / 1e6
    }
    pass()
    pass()
  }
}

object Main {
  /** Set-ups per run; `setup_s` is their median, so the cold first one
    * does not set it. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val out = a("out")

    val stealStart = Noise.stealJiffies()
    val calibStart = Noise.calibrationMs()
    val spark = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.registerFunctions(spark)
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, rec, seed, work)

    val w: Workload = workload match {
      case "daily_append" =>
        new DailyAppend(ctx, work, Grid(seed, 90, 180, missingPerDay = 810), initialDays = 20)
      case "corpus_ingest" => new CorpusIngest(ctx, work, initialDocs = 600, shardDocs = 100)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = rec.nowUs()
    var steps = 0
    var error: Option[String] = None
    var measureUs = 0L
    var facts = Map.empty[String, Double]
    try {
      (1 to Setups).foreach(w.setup)
      // the untimed warm-up operation is the first one on the kept state:
      // the first operation after a set-up varies most from run to run
      ctx.traceOps = false
      w.warmup()
      ctx.traceOps = true
      val start = rec.nowUs()
      // one step per nominal 5 s, at least 3: the count depends on
      // --seconds only, never on how fast the steps run, so every run
      // times the same sequence of positions
      val n = math.max(3, math.round(seconds / 5).toInt)
      // a traced run traces steps in the pattern T U U T T U U T ..., so
      // that a drift along the sequence does not bias the untraced steps
      // that measure the tracing overhead
      while (steps < n) {
        ctx.traceOps = steps % 4 == 0 || steps % 4 == 3
        w.step(steps)
        steps += 1
      }
      measureUs = rec.nowUs() - start
      w.finish()
      facts = w.facts
    } catch {
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        if (ctx.failed == 0) { ctx.attempted += 1; ctx.failed += 1 }
    }
    val calibEnd = Noise.calibrationMs()
    val stealEnd = Noise.stealJiffies()
    val wallUs = rec.nowUs() - t0
    spark.stop() // drains the listener bus before the job records are read

    val json = JObject(List(
      "workload" -> JString(workload), "seed" -> JLong(seed),
      "traced" -> JBool(traced), "seconds" -> JDouble(seconds),
      "steps" -> JInt(steps), "measure_us" -> JLong(measureUs),
      "wall_us" -> JLong(wallUs),
      "attempted" -> JInt(ctx.attempted), "failed" -> JInt(ctx.failed),
      "failures" -> JArray(ctx.failures.toList.map(JString(_))),
      "error" -> error.fold[JValue](JNull)(JString(_)),
      "facts" -> JObject(facts.toList.map { case (k, v) => k -> JDouble(v) }),
      "noise" -> JObject(List(
        "steal_jiffies" -> JLong(if (stealStart < 0 || stealEnd < 0) -1 else stealEnd - stealStart),
        "calibration_ms_start" -> JDouble(calibStart),
        "calibration_ms_end" -> JDouble(calibEnd))),
      "spans" -> rec.toJson,
      "jobs" -> listener.toJson,
      "pinned_peak" -> JObject(listener.pinnedPeak.toList.sortBy(_._1).map {
        case (s, b) => s.toString -> JLong(b) })))
    Files.write(Paths.get(out),
      JsonMethods.compact(JsonMethods.render(json)).getBytes(StandardCharsets.UTF_8))
    System.exit(if (error.isEmpty) 0 else 1)
  }
}
