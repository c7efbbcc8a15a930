package graft.sources

import graft.model.{Bbox, DatasetDescriptor}
import graft.operators.UpdatePlanner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One time step of an [[UpdateProfile]]: its rows, how many of their
  * values are out of bounds and how many are null, and their spatial
  * bbox. `time` is None for the rows whose time is null. */
final case class TimeProfile(time: Option[Long], rows: Long, outOfBounds: Long,
                             nulls: Long, bbox: Option[Bbox])

/** An update as one aggregate grouped by time, folded on the driver
  * into everything that gates, plans and commits it: the pre-parse
  * checks (row, out-of-bounds and null counts), the time axis and bbox
  * an update plans and commits with, and the date range, emptiness and
  * bbox of an initial write. The reference holds the same facts in
  * memory as the loaded dataset's time coordinate (`prepare_update_times`,
  * `publish.py:303-330`). */
final case class UpdateProfile(steps: Seq[TimeProfile]) {
  def rows: Long = steps.map(_.rows).sum
  def outOfBounds: Long = steps.map(_.outOfBounds).sum
  def nulls: Long = steps.map(_.nulls).sum

  /** The distinct non-null times. */
  def times: Seq[Long] = steps.flatMap(_.time)

  def dateRange: Option[(Long, Long)] =
    if (times.isEmpty) None else Some((times.min, times.max))

  /** The bbox of the rows with a time: the cells an update writes. */
  def bbox: Option[Bbox] = union(steps.filter(_.time.isDefined))

  /** The bbox of every row: the cells an initial write writes (a null
    * time lands in the null bucket). */
  def bboxAll: Option[Bbox] = union(steps)

  private def union(ss: Seq[TimeProfile]): Option[Bbox] =
    ss.flatMap(_.bbox).reduceOption(_ union _)
}

object UpdateProfile {

  /** The profile of `df`, whose columns are named by `d`; values outside
    * `bounds` are counted out of bounds. An axis of more than `maxAxis`
    * distinct times is cell data, not a time axis, and is refused
    * instead of being pulled onto the driver. */
  def of(df: DataFrame, d: DatasetDescriptor, bounds: Option[(Double, Double)] = None,
         maxAxis: Long = UpdatePlanner.DefaultMaxAxis): UpdateProfile = {
    val v = col(d.dataVar)
    val rows = df.groupBy(col(d.timeDim).cast("long")).agg(
      count(lit(1)),
      (bounds.fold(lit(0L)) { case (lo, hi) => count(when(v < lo || v > hi, lit(1))) } +:
        count(when(v.isNull, lit(1))) +: GriddedStore.bboxAggs): _*)
      // the null-time group rides along: one row past the bound refuses
      .limit(math.min(maxAxis + 2, Int.MaxValue.toLong).toInt).collect()
    val steps = rows.toSeq.map(r => TimeProfile(
      if (r.isNullAt(0)) None else Some(r.getLong(0)),
      r.getLong(1), r.getLong(2), r.getLong(3), GriddedStore.bboxAt(r, 4)))
    GriddedStore.requireAxis(steps.count(_.time.isDefined), d.timeDim, maxAxis)
    UpdateProfile(steps)
  }
}
