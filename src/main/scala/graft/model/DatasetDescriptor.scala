package graft.model

/** Dataset category → fixed standard dimension order, mirroring the
  * reference's `set_key_dims` (`utils/transform.py:707-744`; category enum
  * `utils/attributes.py:223-233`). In the tall layout each dim is a key
  * column; the time dim is the incremental-update axis.
  */
sealed abstract class Category(val name: String, val dims: Seq[String], val timeDim: String)
object Category {
  case object Observation extends Category("observation",
    Seq("time", "latitude", "longitude"), "time")
  case object Forecast extends Category("forecast",
    Seq("forecast_reference_time", "step", "latitude", "longitude"),
    "forecast_reference_time")
  case object Ensemble extends Category("ensemble",
    Seq("forecast_reference_time", "step", "ensemble", "latitude", "longitude"),
    "forecast_reference_time")
  case object Hindcast extends Category("hindcast",
    Seq("hindcast_reference_time", "forecast_reference_offset", "step", "ensemble",
      "latitude", "longitude"),
    "hindcast_reference_time")

  val all: Seq[Category] = Seq(Observation, Forecast, Ensemble, Hindcast)

  /** Misdeclared category ⇒ error, like `transform.py:739-744`. */
  def fromName(n: String): Category =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown dataset category: $n"))
}

/** Output chunking (the Zarr-chunk/Dask-chunk split, SURVEY §1.3):
  * `timeBucketUs` sizes the directory partitions (region-overwrite
  * granularity = the Dask-chunk analog), `maxRecordsPerFile` sizes the
  * stored files (the Zarr-chunk analog). Two independent knobs, like the
  * reference's dask vs zarr chunks (`dataset_manager.py:53-55`).
  */
case class ChunkGrid(timeBucketUs: Long, maxRecordsPerFile: Long)

object ChunkGrid {
  /** floorDiv bucket of a time column (negative-safe) — THE bucket
    * assignment of the store layout. Single definition: the store's
    * directory partitioning and chunk-granular encryption must agree
    * bit-for-bit on chunk boundaries, so neither keeps a private copy. */
  def bucketExpr(t: String, bucketUs: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"(($t div $bucketUs) - (CASE WHEN $t % $bucketUs < 0 THEN 1 ELSE 0 END))")

  /** [[bucketExpr]] for one time value on the driver (the update
    * planner's bucket arithmetic); the same floor division. */
  def bucketOf(t: Long, bucketUs: Long): Long = Math.floorDiv(t, bucketUs)
}

/** A spatial extent in STAC order (west, south, east, north) — what a
  * store manifest records per commit, so publishing an extent reads no
  * data (`update_stac_collection`'s stored extent, `metadata.py:527-551`). */
final case class Bbox(west: Double, south: Double, east: Double, north: Double) {

  /** Element-wise widening under Spark's `min`/`max` order (NaN above
    * every number), so the union of two parts' aggregates equals the
    * aggregate of the whole bit for bit. */
  def union(o: Bbox): Bbox = Bbox(Bbox.lo(west, o.west), Bbox.lo(south, o.south),
    Bbox.hi(east, o.east), Bbox.hi(north, o.north))

  def toArray: Array[Double] = Array(west, south, east, north)
}

object Bbox {
  private def lo(a: Double, b: Double): Double = if (java.lang.Double.compare(a, b) <= 0) a else b
  private def hi(a: Double, b: Double): Double = if (java.lang.Double.compare(a, b) >= 0) a else b
}

/** The `.zmetadata`/attrs analog: everything the reference keeps in Zarr
  * attributes + encoding (`utils/metadata.py`). A store keeps it in its
  * manifest, [[graft.sources.GridManifest]], which owns the JSON form.
  *
  * Times are epoch microseconds. `dateRange` is the committed watermark
  * pair (`date range` attr, `metadata.py:749-777`); `updateInProgress` is
  * the two-phase-commit flag (`publish.py:152-180`). `cadenceBoundsUs`
  * declares an IRREGULAR cadence (`update_cadence_bounds`,
  * `utils/attributes.py:250-257`): consecutive time deltas may be
  * anything in [lo, hi] instead of exactly `cadenceUs` — update appends
  * are validated against the bounds (`utils/publish.py:677-685`).
  */
case class DatasetDescriptor(
    name: String,
    dataVar: String,
    category: Category,
    missingValue: Option[Double],
    cadenceUs: Long,
    chunk: ChunkGrid,
    attrs: Map[String, String] = Map.empty,
    dateRange: Option[(Long, Long)] = None,
    updateInProgress: Boolean = false,
    updatePreviousEndUs: Option[Long] = None,
    updateIsAppendOnly: Option[Boolean] = None,
    cadenceBoundsUs: Option[(Long, Long)] = None) {

  def dims: Seq[String] = category.dims
  def timeDim: String = category.timeDim
}
