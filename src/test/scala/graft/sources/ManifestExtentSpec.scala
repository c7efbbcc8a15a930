package graft.sources

import graft.SparkSpec
import graft.catalog.StacCatalog
import graft.etl.DatasetManager
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets

/** The STAC extent a commit records — manifest bbox plus committed date
  * range — equals `StacCatalog.extent` of the committed data, bit for
  * bit, after every kind of commit. */
class ManifestExtentSpec extends SparkSpec {

  private val d = DatasetDescriptor("ext", "precip", Category.Observation,
    None, DAY_US, ChunkGrid(10 * DAY_US, 500))

  private lazy val cat = new StacCatalog(tmpDir("ext-cat"), spark)

  /** Cells on a 0.1-degree grid, whose coordinates are not binary
    * fractions, so a lossy JSON round trip of the bbox would show. */
  private def grid(nDays: Int, startDay: Long, lat0: Double, lon0: Double,
                   nLat: Int = 3, nLon: Int = 4): DataFrame = {
    val s = spark; import s.implicits._
    (for (dd <- 0 until nDays; i <- 0 until nLat; j <- 0 until nLon)
      yield ((startDay + dd) * DAY_US, lat0 + i * 0.1, lon0 + j * 0.1, dd + i * 0.5 + j))
      .toDF("time", "latitude", "longitude", "precip")
  }

  private def bits(b: Array[Double]) = b.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertParity(store: GriddedStore, step: String): Unit = {
    val (b, iv) = store.committedExtent().getOrElse(fail(s"$step: no bbox recorded"))
    val (eb, eiv) = cat.extent(store.read(), "time")
    assert(bits(b.toArray) == bits(eb) && iv == eiv,
      s"$step: manifest (${b.toArray.toSeq}, $iv) != data (${eb.toSeq}, $eiv)")
  }

  test("the recorded extent equals the data's after every kind of commit") {
    val store = new GriddedStore(tmpDir("ext-store"), spark)
    store.writeInitial(grid(5, 0, -35.05, 17.3), d)
    assertParity(store, "writeInitial")
    store.update(grid(2, 5, -35.05, 17.3))
    assertParity(store, "pure append")
    // a spatial subset of existing days, reaching west and north of the
    // extent: the inserted cells widen it
    store.update(grid(2, 3, -34.85, 16.9, nLat = 2, nLon = 2))
    assertParity(store, "partial-spatial insert")
    // an overwrite of cells inside the extent
    store.update(grid(1, 6, -34.95, 17.4, nLat = 1, nLon = 2))
    assertParity(store, "partial-spatial overwrite")
    store.compact()
    assertParity(store, "compact")
    store.writeDescriptor(store.readDescriptor().get.copy(attrs = Map("k" -> "v")))
    assertParity(store, "metadata-only commit")
    EncodingSurgery.rewriteCoordinate(store, "latitude", c => c * 1.1)
    assertParity(store, "latitude surgery")
  }

  test("a manifest without the bbox falls back to a scan; the next commit records it") {
    val root = tmpDir("ext-legacy")
    val store = new GriddedStore(root, spark)
    store.writeInitial(grid(5, 0, -12.35, 40.15), d)
    // strip the field from the committed version and the pointer, as a
    // manifest written before it
    val v = store.latestVersionNumber()
    val vPath = new Path(store.versionsDir, f"v$v%06d.json")
    val legacy = JsonMethods.compact(JsonMethods.parse(ManifestIO.readVerified(store.fs, vPath))
      .removeField(_._1 == "bbox"))
    assert(!legacy.contains("bbox"))
    val bytes = ManifestIO.seal(legacy.getBytes(StandardCharsets.UTF_8))
    store.commits.swapPointer(vPath, bytes)
    store.commits.swapPointer(store.descriptorPath, bytes)
    assert(store.committedExtent().isEmpty)
    // publishing still works, through one aggregate over the store
    val mgr = new DatasetManager(d, root, cat.root, spark)
    mgr.publishMetadata(store.readDescriptor().get)
    val coll = cat.readCollection("ext").get
    val published = (coll \ "extent" \ "spatial" \ "bbox").values
      .asInstanceOf[List[List[Double]]].head.toArray
    assert(bits(published) == bits(cat.extent(store.read(), "time")._1))
    // the next commit computes the anchor's bbox once and records it
    store.update(grid(1, 5, -12.45, 40.15))
    assertParity(store, "append onto a legacy manifest")
  }
}
