package graft.functions

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicInteger

/** `Signatures.spread` decides whether to repartition a signature
  * pass's input without running it: over a plan with an exchange, the
  * old partition count query executed every shuffle stage once just to
  * read a number, and the signature pass then ran them again. */
class SignatureSpreadSpec extends SparkSpec {

  /** Spark jobs started while `body` runs on this thread; a marker job
    * submitted after it bounds the listener's delivery. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spread-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => markerSeen = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spread")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (1L to 300L).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13} w$i w${i % 5}"))
      .toDF("doc_id", "text")
  }

  private def sigs(df: DataFrame): Map[Long, Seq[Long]] =
    Signatures.minhash(df, "doc_id", "text", 3, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("spread over a frame with an exchange runs no job; minhash output is unchanged") {
    // an aggregate puts a shuffle (and an adaptive plan) under the input
    val shuffled = docs.groupBy("doc_id").agg(first("text").as("text"))
    assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"))
    val (spreadOut, jobs) = jobsOf(Signatures.spread(shuffled))
    assert(jobs == 0, s"spread ran $jobs Spark jobs over an exchange")
    assert(spreadOut.count() == 300)
    // a pinned single-partition input is spread, also without a job
    val pinned = docs.coalesce(1).localCheckpoint()
    val (spreadPinned, pinnedJobs) = jobsOf(Signatures.spread(pinned))
    assert(pinnedJobs == 0)
    assert(spreadPinned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val want = sigs(pinned)
    assert(want.size == 300)
    assert(sigs(shuffled) == want && sigs(docs) == want)
  }
}
