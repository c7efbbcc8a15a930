package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared session + synthetic cube fixtures (the analog of the
  * reference's `tests/unit/conftest.py` fake datasets). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(8)

  val DAY_US: Long = 86400000000L

  /** fake_original_dataset analog (`tests/unit/conftest.py:22-35`):
    * nDays daily steps × nLat × nLon cells, deterministic values. */
  def cube(nDays: Int, nLat: Int, nLon: Int, startDay: Long = 0L,
           valueOffset: Double = 0.0): DataFrame = {
    val s = spark
    import s.implicits._
    val rows = for {
      d <- 0 until nDays; la <- 0 until nLat; lo <- 0 until nLon
    } yield ((startDay + d) * DAY_US, -1.0 + la * 0.25, 10.0 + lo * 0.25,
      valueOffset + d * 100.0 + la * 10.0 + lo)
    rows.toDF("time", "latitude", "longitude", "precip")
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs launched by `body` on this thread. Listener events are
    * delivered in order, so once a marker job submitted after `body` has
    * been seen, every job `body` launched has been seen too. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-end"), "marker job never reached the listener")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
