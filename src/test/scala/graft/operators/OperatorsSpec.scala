package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Update planning, selections and normalization — the unit layer of
  * `utils/publish.py` / `utils/convenience.py`. */
class OperatorsSpec extends SparkSpec {

  test("contiguousRegions groups gapped times (publish.py:432-495)") {
    val s = spark; import s.implicits._
    // the fake_complex_update shape: islands with gaps
    val times = Seq(1L, 2L, 3L, 7L, 8L, 20L).toDF("t")
    val regions = UpdatePlanner.contiguousRegions(times, "t", 1L)
      .orderBy("start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(regions.sameElements(Array((1L, 3L, 3L), (7L, 8L, 2L), (20L, 20L, 1L))))
  }

  test("axes-sized contract is enforced: cell-scale input throws, not crawls") {
    val s = spark
    // 5k distinct values against a maxAxis of 1k → loud failure from the
    // guard that protects the un-partitioned window (VERDICT r4 #6)
    val big = s.range(5000).select(col("id").as("t"))
    val e = intercept[IllegalArgumentException](
      UpdatePlanner.contiguousRegions(big, "t", 1L, maxAxis = 1000L).collect())
    assert(e.getMessage.contains("axis"))
    // same data under the default bound still works (it IS axis-sized)
    assert(UpdatePlanner.contiguousRegions(big, "t", 1L).count() == 1L)
  }

  test("pointSelect and timeSlice prune to exact rows") {
    val df = cube(10, 4, 4)
    assert(Selections.pointSelect(df,
      Map("time" -> 3 * DAY_US, "latitude" -> -1.0, "longitude" -> 10.0)).count() == 1)
    assert(Selections.timeSlice(df, "time", 2 * DAY_US, 4 * DAY_US).count() == 3 * 16)
  }

  test("nearest with tolerance picks the closest row, or none") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 100L, 0L), (1L, 205L, 1L), (2L, 900L, 2L))
      .toDF("g", "t", "id")
    val near = Selections.nearest(df, "g", "t", "id", target = 200L, tolerance = 50L)
      .select("g", "id").orderBy("g").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.sameElements(Array((1L, 1L)))) // g=2 outside tolerance
  }

  test("gridCell snaps regular coordinates exactly") {
    val s = spark; import s.implicits._
    val df = Seq(-0.876, -0.75, 0.0, 0.124).toDF("lat")
      .select(Selections.gridCell(col("lat"), -1.0, 0.25).as("c"))
    assert(df.as[Long].collect().sameElements(Array(0L, 1L, 4L, 4L)))
  }

  test("wrapLongitude lands in [-180, 180) for any input") {
    val s = spark; import s.implicits._
    val lons = Seq(-750.0, -360.0, -180.0, -0.5, 0.0, 179.9, 180.0, 360.0, 725.0)
    val out = lons.toDF("lon")
      .select(Normalize.wrapLongitude(col("lon")).as("w")).as[Double].collect()
    out.foreach(w => assert(w >= -180.0 && w < 180.0))
    assert(out(2) == -180.0 && out(6) == -180.0 && out(7) == 0.0)
  }

  test("nearestCell: multi-dim nearest on an irregular axis, tolerance-guarded") {
    val s = spark; import s.implicits._
    // irregular (lat, lon) axis points — NOT a regular grid
    val df = Seq(
      (1L, 10.13, -47.2), (2L, 10.02, -46.7), (3L, 9.4, -47.05),
      (4L, 10.05, -52.0), (5L, 30.0, 80.0))
      .toDF("id", "lat", "lon")
    // nearest to (10.0, -47.0), tol (0.5, 1.0) — scaled Chebyshev:
    // id=1 max(0.13/0.5, 0.2/1.0)=0.26; id=2 max(0.04, 0.3)=0.3;
    // id=3 lat alone is 1.2 -> id=1 wins
    val hit = Selections.nearestCell(df,
      Map("lat" -> (10.0, 0.5), "lon" -> (-47.0, 1.0)), "id")
      .select("id").as[Long].collect()
    assert(hit.sameElements(Array(1L)))
    // winner must satisfy EVERY tolerance: nearest to (10.0, -52.0) on lat
    // is id=4 (lat dist 0.05) and its lon matches, but with a tight lat
    // tolerance the scaled distance exceeds 1 -> empty
    val miss = Selections.nearestCell(df,
      Map("lat" -> (10.0, 0.01), "lon" -> (-52.0, 1.0)), "id")
      .count()
    assert(miss == 0L)
  }

  test("sentinelToNull rewrites the fill value (transform.py:341-369)") {
    val s = spark; import s.implicits._
    val df = Seq(1.0, -9999.0, 2.0).toDF("v")
    val n = Normalize.sentinelToNull(df, "v", lit(-9999.0))
    assert(n.filter(col("v").isNull).count() == 1)
    assert(n.agg(sum("v")).collect()(0).getDouble(0) == 3.0)
  }

  test("range join == naive theta join, but plans an equi-join (no BNLJ)") {
    val s = spark; import s.implicits._
    // irregular intervals incl. bucket-straddling, empty (end==start),
    // inverted, and adjacent ones; points on every boundary
    val iv = Seq(
      (1L, 100L, 250L), (2L, 250L, 260L), (3L, 300L, 300L),
      (4L, 400L, 350L), (5L, 90L, 310L)).toDF("k", "lo", "hi")
    val pts = (80L to 420L by 10).toDF("t")
    val got = RangeJoin.pointInInterval(pts, "t", iv, "lo", "hi", bucketUs = 100L)
    val naive = pts.join(iv, col("lo") <= col("t") && col("t") < col("hi"))
    val (g, n) = (got.select("k", "t"), naive.select("k", "t"))
    assert(g.exceptAll(n).isEmpty && n.exceptAll(g).isEmpty)
    // one row per (point, containing interval): no dup from the explode
    assert(got.count() == got.distinct().count())
    // the whole point of the bucketized form: an equi-join, never the
    // all-pairs BroadcastNestedLoopJoin the theta-join plans
    val plan = got.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(pts.withColumn("_rj_bucket", lit(1)),
        "t", iv, "lo", "hi", 100L)
    }
  }

  test("hierarchical packing offsets match the flat window under a dominant source") {
    val s = spark; import s.implicits._
    // one source owns 90% of the rows — the exact skew that serializes
    // a flat per-source window through a single task at scale
    val rows = (1L to 9000L).map(i => (i, "big", (i % 7 + 1).toInt)) ++
      (9001L to 10000L).map(i => (i, s"s${i % 5}", (i % 3 + 1).toInt))
    val df = rows.toDF("id", "src", "w").repartition(8)
    val got = Packing.runningOffsets(df, "src", "id", "w", span = 512L)
    // equivalence against the flat form, row by row
    val wFlat = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val flat = df.withColumn("cum", sum("w").over(wFlat))
    assert(got.select("id", "cum").exceptAll(flat.select("id", "cum")).isEmpty &&
      flat.select("id", "cum").exceptAll(got.select("id", "cum")).isEmpty)
    // the row-level window is keyed below source granularity: the
    // dominant source's 9000 rows split across ~18 span-512 sub-shards
    val plan = got.queryExecution.executedPlan.toString()
    assert("windowspecdefinition\\([^)]*_sub".r.findFirstIn(plan).isDefined,
      s"expected a (src, _sub)-keyed window:\n$plan")
    assert(!plan.contains("SinglePartition"), plan)
    intercept[IllegalArgumentException] {
      Packing.runningOffsets(df, "src", "id", "w", span = 0L)
    }
  }

  test("packing reuses a pinned input under a column projection, pins a computing one") {
    val s = spark; import s.implicits._
    val base = (1L to 200L).map(i => (i, s"s${i % 3}", s"t$i")).toDF("id", "src", "t")
      .localCheckpoint()
    def rdds(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
    val baseRdd = rdds(base)
    // renaming and reordering columns costs nothing to re-read: no new pin
    val cheap = base.select(col("src").as("source"), col("id"), col("id").as("w"))
    assert(rdds(Packing.runningOffsets(cheap, "source", "id", "w")) == baseRdd)
    // a projection that computes is pinned once instead of re-running
    // on each of the two reads
    val computed = base.select(col("src"), col("id"), length(col("t")).as("w"))
    val got = Packing.runningOffsets(computed, "src", "id", "w")
    assert(!rdds(got).exists(baseRdd.contains), "a computing projection was not pinned")
    val want = computed.withColumn("cum", sum("w").over(
      org.apache.spark.sql.expressions.Window.partitionBy("src").orderBy("id")))
    assert(got.select("id", "cum").exceptAll(want.select("id", "cum")).isEmpty)
  }
}
