package graft.sources

import graft.model.{Bbox, Category, ChunkGrid, DatasetDescriptor}
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods

/** One gridded-store manifest — the claim `_versions/vNNNNNN.json` and
  * the pointer `_descriptor.json` of a [[GriddedStore]] hold exactly
  * this, sealed by [[ManifestIO]]. The one place that knows the format:
  * parsed once by [[GridManifest.parse]], written by [[json]].
  *
  * On disk, one pretty-printed JSON object with these keys, in order:
  *  - the [[DatasetDescriptor]] (the `.zmetadata`/attrs analog):
  *    `name`, `data_var`, `category` (its name), `missing_value`,
  *    `cadence_us`, `time_bucket_us` and `max_records_per_file` (the
  *    [[ChunkGrid]]), `attrs` (string map), `date_range` (`[start, end]`
  *    epoch µs), `update_in_progress`, `update_previous_end_us`,
  *    `update_is_append_only`, `cadence_bounds_us` (`[lo, hi]`);
  *  - `files`: the root-relative data files the version pins, sorted.
  *    None: a manifest written before file pinning, which reads as a
  *    scan of `data/`;
  *  - `data_schema`: the pinned files' schema (Spark DataType JSON),
  *    which every pinned scan reads with instead of inferring it from
  *    the footers, and which gives a committed-empty pin its zero-row
  *    frame once vacuum has reclaimed every file under `data/`. None
  *    for manifests older than the field;
  *  - `bbox`: the spatial extent of the pinned data, `[west, south,
  *    east, north]`, so the STAC extent reads no data. None for
  *    manifests older than the field, explicit file-list commits and a
  *    non-finite extent (JSON has no literal for NaN or ±Infinity).
  *
  * An absent or `null` optional key reads as None (older writers wrote
  * `null`; this one omits the key), and unknown keys are ignored. */
final case class GridManifest(
    descriptor: DatasetDescriptor,
    files: Option[Seq[String]] = None,
    dataSchema: Option[StructType] = None,
    bbox: Option[Bbox] = None) {

  /** This manifest as a mutation's first-phase claim: the same pin under
    * the in-progress flag. */
  def inProgress: GridManifest = copy(descriptor = descriptor.copy(updateInProgress = true))

  def json: String = {
    val d = descriptor
    def pair(p: (Long, Long)) = Seq(p._1, p._2)
    JsonMethods.pretty(JsonMethods.render(Extraction.decompose(GridManifest.Wire(
      d.name, d.dataVar, d.category.name, d.missingValue, d.cadenceUs,
      d.chunk.timeBucketUs, d.chunk.maxRecordsPerFile, d.attrs,
      d.dateRange.map(pair), d.updateInProgress, d.updatePreviousEndUs,
      d.updateIsAppendOnly, d.cadenceBoundsUs.map(pair),
      files, dataSchema.map(_.json), bbox.map(_.toArray.toSeq)))(DefaultFormats)))
  }
}

object GridManifest {

  /** The on-disk shape: field names are the keys, field order the key
    * order. */
  private final case class Wire(
      name: String,
      data_var: String,
      category: String,
      missing_value: Option[Double],
      cadence_us: Long,
      time_bucket_us: Long,
      max_records_per_file: Long,
      attrs: Map[String, String] = Map.empty,
      date_range: Option[Seq[Long]],
      update_in_progress: Boolean = false,
      update_previous_end_us: Option[Long],
      update_is_append_only: Option[Boolean],
      cadence_bounds_us: Option[Seq[Long]],
      files: Option[Seq[String]],
      data_schema: Option[String],
      bbox: Option[Seq[Double]])

  /** Throws on text that is not a manifest (a crashed commit's zero-byte
    * or partial claim). A `data_schema` that does not read as a struct
    * reads as None, so the pin's footers are inferred instead. */
  def parse(json: String): GridManifest = {
    implicit val fmt: Formats = DefaultFormats
    val w = JsonMethods.parse(json).extract[Wire]
    def pair(s: Seq[Long]) = s match { case Seq(a, b) => Some((a, b)); case _ => None }
    GridManifest(
      DatasetDescriptor(w.name, w.data_var, Category.fromName(w.category), w.missing_value,
        w.cadence_us, ChunkGrid(w.time_bucket_us, w.max_records_per_file), w.attrs,
        w.date_range.flatMap(pair), w.update_in_progress, w.update_previous_end_us,
        w.update_is_append_only, w.cadence_bounds_us.flatMap(pair)),
      w.files,
      w.data_schema.flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption.collect {
        case st: StructType => st
      }),
      w.bbox.collect { case Seq(west, south, east, north) => Bbox(west, south, east, north) })
  }
}
