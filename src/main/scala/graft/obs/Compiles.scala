package graft.obs

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Generated classes compiled by Janino and the time spent compiling
  * them: every miss of Spark's codegen cache (the hits are free). Both
  * totals are JVM-wide, so a measured call also counts what other
  * threads compile meanwhile, the task threads of its own jobs
  * included. Read by `Probe query` and the cost fences, which run one
  * call at a time. */
final case class Compiles(classes: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
  def -(o: Compiles): Compiles = Compiles(classes - o.classes, nanos - o.nanos)
}

object Compiles {

  /** The JVM's totals so far: the compilation-time histogram's sample
    * count (one sample per compile) and the compile-time accumulator. */
  def now: Compiles =
    Compiles(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Runs `body` and returns its result and what was compiled meanwhile. */
  def measure[T](body: => T): (T, Compiles) = {
    val before = now
    val out = body
    (out, now - before)
  }
}
