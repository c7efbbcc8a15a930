package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

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
  * attributes + encoding, as one JSON sidecar (`utils/metadata.py`).
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

  def toJson: String = {
    val fields: List[(String, JValue)] = List(
      "name" -> JString(name),
      "data_var" -> JString(dataVar),
      "category" -> JString(category.name),
      "missing_value" -> missingValue.map(JDouble(_)).getOrElse(JNull),
      "cadence_us" -> JLong(cadenceUs),
      "time_bucket_us" -> JLong(chunk.timeBucketUs),
      "max_records_per_file" -> JLong(chunk.maxRecordsPerFile),
      "attrs" -> JObject(attrs.toList.map { case (k, v) => k -> (JString(v): JValue) }),
      "date_range" -> dateRange.map { case (a, b) =>
        JArray(List(JLong(a), JLong(b))) }.getOrElse(JNull),
      "update_in_progress" -> JBool(updateInProgress),
      "update_previous_end_us" -> updatePreviousEndUs.map(JLong(_)).getOrElse(JNull),
      "update_is_append_only" -> updateIsAppendOnly.map(JBool(_)).getOrElse(JNull),
      "cadence_bounds_us" -> cadenceBoundsUs.map { case (a, b) =>
        JArray(List(JLong(a), JLong(b))) }.getOrElse(JNull))
    JsonMethods.pretty(JsonMethods.render(JObject(fields)))
  }
}

object DatasetDescriptor {

  /** Attribute sanitization, per `utils/metadata.py:820-833`: nested
    * structures are JSON-stringified, null becomes "". */
  def sanitizeAttr(v: Any): String = v match {
    case null => ""
    case m: Map[_, _] =>
      JsonMethods.compact(JsonMethods.render(
        JObject(m.toList.map { case (k, x) => k.toString -> (JString(String.valueOf(x)): JValue) })))
    case s: Seq[_] => JsonMethods.compact(JsonMethods.render(
      JArray(s.toList.map(x => JString(String.valueOf(x)): JValue))))
    case other => String.valueOf(other)
  }

  def fromJson(json: String): DatasetDescriptor = {
    val j = JsonMethods.parse(json)
    def str(k: String) = (j \ k) match { case JString(s) => s; case x => x.values.toString }
    def lng(k: String) = (j \ k) match {
      case JInt(i) => i.toLong; case JLong(l) => l
      case x => x.values.toString.toLong
    }
    def optD(k: String) = (j \ k) match {
      case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble)
      case JDecimal(d) => Some(d.toDouble); case _ => None
    }
    DatasetDescriptor(
      name = str("name"),
      dataVar = str("data_var"),
      category = Category.fromName(str("category")),
      missingValue = optD("missing_value"),
      cadenceUs = lng("cadence_us"),
      chunk = ChunkGrid(lng("time_bucket_us"), lng("max_records_per_file")),
      attrs = (j \ "attrs") match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.values.toString }.toMap
        case _ => Map.empty
      },
      dateRange = (j \ "date_range") match {
        case JArray(List(a, b)) =>
          Some((a.values.toString.toLong, b.values.toString.toLong))
        case _ => None
      },
      updateInProgress = (j \ "update_in_progress") match {
        case JBool(b) => b; case _ => false
      },
      updatePreviousEndUs = (j \ "update_previous_end_us") match {
        case JInt(i) => Some(i.toLong); case JLong(l) => Some(l); case _ => None
      },
      updateIsAppendOnly = (j \ "update_is_append_only") match {
        case JBool(b) => Some(b); case _ => None
      },
      cadenceBoundsUs = (j \ "cadence_bounds_us") match {
        case JArray(List(a, b)) =>
          Some((a.values.toString.toLong, b.values.toString.toLong))
        case _ => None
      })
  }
}
