package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.qc.QualityChecks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The post-parse read-back end to end (`publish.py:698-743`): an
  * update spanning two time buckets is written through `parse`, then
  * the gate reads it back against frames that differ from what was
  * written. `checks` exceeds every frame's row count, so every cell is
  * sampled and the gate's count must equal the full-store
  * `valueCompare` of the whole frame. */
class PostParseQcSpec extends SparkSpec {

  private val d = DatasetDescriptor("postqc", "precip", Category.Observation,
    None, DAY_US, ChunkGrid(10 * DAY_US, 500))

  /** Days 8–11: rewrites days 8–9 of bucket 0 and appends days 10–11 in
    * bucket 1; the cell (-1.0, 10.0) stores NaN on every day. */
  private lazy val update: DataFrame = cube(4, 4, 4, startDay = 8, valueOffset = 0.5)
    .withColumn("precip", when(col("latitude") === -1.0 && col("longitude") === 10.0,
      lit(Double.NaN)).otherwise(col("precip")))

  private lazy val mgr = {
    val m = new DatasetManager(d, tmpDir("postqc-store"), tmpDir("postqc-cat"), spark)
    m.parse(cube(10, 4, 4))
    m.parse(update)
    m
  }

  /** Runs the gate over `frame` with every cell sampled; returns the
    * mismatch count it reported, which must equal the full-store join. */
  private def gate(frame: DataFrame): Long = {
    val expected = QualityChecks.valueCompare(frame, mgr.store.read(), d.dims,
      d.dataVar, 1e-4).count()
    val checks = frame.count().toInt + 10
    if (expected == 0) mgr.postParseQualityCheck(frame, checks)
    else {
      val e = intercept[IllegalArgumentException](mgr.postParseQualityCheck(frame, checks))
      assert(e.getMessage.contains(s": $expected written cells differ from source"),
        e.getMessage)
    }
    expected
  }

  private def bucketsOf(frame: DataFrame): Set[Long] =
    frame.select((col("time") / (10 * DAY_US)).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet

  test("a clean read-back of an update spanning two buckets passes") {
    assert(bucketsOf(update) == Set(0L, 1L))
    assert(gate(update) == 0L)
  }

  test("altered values fail with the full-store count") {
    val altered = update.withColumn("precip",
      when(col("longitude") === 10.25, col("precip") + 1.0).otherwise(col("precip")))
    assert(gate(altered) == 16L) // 4 days x 4 latitudes, both buckets
  }

  test("null-vs-value cells fail with the full-store count") {
    val nulled = update.withColumn("precip",
      when(col("latitude") === -0.75, lit(null).cast("double")).otherwise(col("precip")))
    assert(gate(nulled) == 16L)
  }

  test("cells that were never written fail with the full-store count") {
    // day 12 was never written; neither was longitude 99 on day 9
    val unwritten = update
      .unionByName(cube(1, 4, 4, startDay = 12))
      .unionByName(cube(1, 4, 1, startDay = 9).withColumn("longitude", lit(99.0)))
    assert(gate(unwritten) == 16L + 4L)
  }

  test("both-NaN cells pass") {
    val nan = update.filter(isnan(col("precip")))
    assert(nan.count() == 4L)
    assert(gate(nan) == 0L)
  }
}
