package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
}
