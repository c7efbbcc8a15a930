package graft.sources

import graft.SparkSpec
import graft.model.{Bbox, Category, ChunkGrid, DatasetDescriptor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets

/** Manifests as earlier writers left them on disk — pretty-printed, with
  * every unset field written as `null` — read into the expected
  * [[GridManifest]], and a store whose pointer is the one that predates
  * the `files`, `data_schema` and `bbox` fields opens, appends and
  * records all three. */
class GridManifestSpec extends SparkSpec {

  /** A descriptor-only manifest, from before file pinning. */
  private val Bare =
    """{
      |  "name" : "fx",
      |  "data_var" : "precip",
      |  "category" : "observation",
      |  "missing_value" : -9999.0,
      |  "cadence_us" : 86400000000,
      |  "time_bucket_us" : 864000000000,
      |  "max_records_per_file" : 200,
      |  "attrs" : {
      |    "units" : "mm"
      |  },
      |  "date_range" : [ 0, 777600000000 ],
      |  "update_in_progress" : false,
      |  "update_previous_end_us" : null,
      |  "update_is_append_only" : null,
      |  "cadence_bounds_us" : null
      |}""".stripMargin

  /** Every field set. */
  private val Full =
    """{
      |  "name" : "fx-all",
      |  "data_var" : "precip",
      |  "category" : "forecast",
      |  "missing_value" : -1.5,
      |  "cadence_us" : 21600000000,
      |  "time_bucket_us" : 2592000000000,
      |  "max_records_per_file" : 5000,
      |  "attrs" : {
      |    "units" : "mm",
      |    "source" : "{\"a\":\"b\"}"
      |  },
      |  "date_range" : [ -3600000000, 3456000000000 ],
      |  "update_in_progress" : true,
      |  "update_previous_end_us" : 3369600000000,
      |  "update_is_append_only" : false,
      |  "cadence_bounds_us" : [ 3600000000, 172800000000 ],
      |  "files" : [ "data/time_bucket=0/a.parquet", "data/time_bucket=1/b.parquet" ],
      |  "data_schema" : "{\"type\":\"struct\",\"fields\":[{\"name\":\"time\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"latitude\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}},{\"name\":\"longitude\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}},{\"name\":\"precip\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}},{\"name\":\"time_bucket\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}",
      |  "bbox" : [ 17.3, -35.05, 17.6, -34.85 ]
      |}""".stripMargin

  private val bareDescriptor = DatasetDescriptor("fx", "precip", Category.Observation,
    Some(-9999.0), DAY_US, ChunkGrid(10 * DAY_US, 200), attrs = Map("units" -> "mm"),
    dateRange = Some((0L, 9 * DAY_US)))

  test("manifests in the earlier writer's format parse to the expected value") {
    assert(GridManifest.parse(Bare) == GridManifest(bareDescriptor))
    val hour = 3600000000L
    assert(GridManifest.parse(Full) == GridManifest(
      DatasetDescriptor("fx-all", "precip", Category.Forecast, Some(-1.5), 6 * hour,
        ChunkGrid(30 * DAY_US, 5000),
        attrs = Map("units" -> "mm", "source" -> """{"a":"b"}"""),
        dateRange = Some((-hour, 40 * DAY_US)), updateInProgress = true,
        updatePreviousEndUs = Some(39 * DAY_US), updateIsAppendOnly = Some(false),
        cadenceBoundsUs = Some((hour, 2 * DAY_US))),
      Some(Seq("data/time_bucket=0/a.parquet", "data/time_bucket=1/b.parquet")),
      Some(StructType.fromDDL(
        "time BIGINT, latitude DOUBLE, longitude DOUBLE, precip DOUBLE, time_bucket INT")),
      Some(Bbox(17.3, -35.05, 17.6, -34.85))))
    // the writer keeps the key order and the values; unset keys are omitted
    val keys = "\"([a-z_]+)\" :".r
    assert(keys.findAllMatchIn(GridManifest.parse(Full).json).map(_.group(1)).toSeq ==
      keys.findAllMatchIn(Full).map(_.group(1)).toSeq)
    assert(GridManifest.parse(GridManifest.parse(Full).json) == GridManifest.parse(Full))
  }

  test("a store whose pointer predates files, schema and bbox opens, appends and records them") {
    val root = tmpDir("fx-store")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), bareDescriptor)
    // the committed claim and the pointer, as the earlier writer left them
    val v = store.latestVersionNumber()
    val bytes = ManifestIO.seal(Bare.getBytes(StandardCharsets.UTF_8))
    store.commits.swapPointer(new Path(store.versionsDir, f"v$v%06d.json"), bytes)
    store.commits.swapPointer(store.descriptorPath, bytes)
    assert(store.manifest().contains(GridManifest(bareDescriptor)))
    assert(store.read().count() == 10 * 4)

    val d = store.update(cube(1, 2, 2, startDay = 10))
    assert(d.dateRange.contains((0L, 10 * DAY_US)))
    val m = store.manifest().get
    assert(m.descriptor == d)
    assert(m.files.exists(_.size == store.listDataFiles().size))
    assert(m.dataSchema.contains(spark.read.option("basePath", store.dataPath)
      .parquet(m.files.get.map(f => s"$root/$f"): _*).schema))
    assert(m.bbox.contains(Bbox(10.0, -1.0, 10.25, -0.75)))
    assert(store.read().count() == 11 * 4)
  }
}
