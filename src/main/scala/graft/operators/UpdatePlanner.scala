package graft.operators

import graft.operators.Materialize.Pinning

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-axis planning operators.
  *
  * Re-expresses the reference's contiguous-region detection
  * (`utils/publish.py:432-495`) and cadence reports as Spark
  * gaps-and-islands window queries. The store's own update planner
  * (`prepare_update_times`, `utils/publish.py:303-330`) works on the
  * driver-side time axis instead: see `GriddedStore.planUpdate`.
  *
  * Scale note: `contiguousRegions` operates on the *distinct time axis*,
  * which is small by construction (the reference holds it in driver
  * memory as a coordinate array — ~10^4..10^6 values even for 100 TB of
  * cell data). The un-partitioned `Window.orderBy` there is therefore
  * deliberate and safe; cell-level data never flows through it. That
  * contract is ENFORCED, not trusted: the distinct axis is materialized
  * and counted first, and anything above `maxAxis`
  * (default [[UpdatePlanner.DefaultMaxAxis]]) throws instead of silently
  * single-tasking (see `axis`).
  */
object UpdatePlanner {

  /** Ceiling on the distinct-axis size the single-task windows below,
    * and the store's driver-side update planner, will accept. The axes-sized contract (class note) is real but was
    * previously only documented: called on CELL-level data these windows
    * silently serialize the whole input onto one task and crawl. Now the
    * axis is materialized (axis-sized, one localCheckpoint), counted, and
    * misuse FAILS loudly instead. 32M ≈ 256 MB of longs — far above any
    * real time axis (~10^4..10^6), far below cell scale. Callers with a
    * genuinely larger axis pass their own `maxAxis`. */
  val DefaultMaxAxis: Long = 32L * 1000 * 1000

  /** Distinct time axis, materialized and bounds-checked. */
  private def axis(times: DataFrame, key: String, maxAxis: Long): DataFrame = {
    val ax = times.select(col(key)).distinct().materialize()
    val n = ax.count()
    require(n <= maxAxis,
      s"UpdatePlanner: distinct axis for '$key' has $n values, above the " +
        s"$maxAxis bound — this operator single-tasks the axis and is for " +
        "time axes, not cell data; raise maxAxis only if the axis really " +
        "is this large")
    ax
  }

  /** Group a set of (integral) time keys into contiguous runs: any gap
    * larger than `step` starts a new region. Returns one row per region
    * with `start`, `end`, `n` — the analog of the reference's
    * shift/diff-based insert-slice planner (`publish.py:432-495`), done as
    * classic gaps-and-islands.
    */
  def contiguousRegions(times: DataFrame, key: String, step: Long,
                        maxAxis: Long = DefaultMaxAxis): DataFrame = {
    val w = Window.orderBy(key)
    axis(times, key, maxAxis)
      .withColumn("delta", col(key) - lag(col(key), 1).over(w))
      .withColumn("newgrp",
        when(col("delta").isNull || col("delta") > step, lit(1)).otherwise(lit(0)))
      .withColumn("grp",
        sum("newgrp").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("grp")
      .agg(min(key).as("start"), max(key).as("end"), count(lit(1)).as("n"))
      .select("start", "end", "n")
  }

  /** Per-key cadence/contiguity summary: number of gaps above `maxStep`
    * and the largest observed delta (`publish.py:654-696` analog,
    * vectorized per series instead of a driver-side loop).
    */
  def contiguityReport(df: DataFrame, seriesKey: String, timeKey: String,
                       tieBreak: String, maxStep: Long): DataFrame =
    contiguityReport(df, seriesKey, timeKey, tieBreak, Long.MinValue, maxStep)

  /** Bounds form for IRREGULAR cadences (`update_cadence_bounds`,
    * `utils/publish.py:677-685`): a delta is a violation when outside
    * [minStep, maxStep], not merely when above a single expected step.
    */
  def contiguityReport(df: DataFrame, seriesKey: String, timeKey: String,
                       tieBreak: String, minStep: Long, maxStep: Long): DataFrame = {
    val w = Window.partitionBy(seriesKey).orderBy(col(timeKey), col(tieBreak))
    df.withColumn("delta", col(timeKey) - lag(col(timeKey), 1).over(w))
      .filter(col("delta").isNotNull)
      .groupBy(seriesKey)
      .agg(
        count(when(col("delta") > maxStep || col("delta") < minStep, lit(1)))
          .as("n_gaps"),
        max("delta").as("max_delta"))
  }
}
