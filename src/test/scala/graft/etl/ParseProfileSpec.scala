package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** `parse` gates, plans and samples its update from one pinned pass. It
  * must end exactly where the public steps, called one by one, end:
  * `preParseQualityCheck`, `writeInitial` or `update`,
  * `postParseQualityCheck` and `publishMetadata` — the same outcome or
  * exception, store contents, manifest (descriptor, date range, schema,
  * bbox), version and STAC catalog. Every call, returning or throwing,
  * must leave no pin behind. */
class ParseProfileSpec extends SparkSpec {

  private val d = DatasetDescriptor("parity", "precip", Category.Observation,
    None, DAY_US, ChunkGrid(10 * DAY_US, 500))

  private def manager(tag: String, expectedMissing: Option[Double] = None,
                      dryRun: Boolean = false, axisBound: Option[Long] = None,
                      storeRoot: Option[String] = None) =
    new DatasetManager(d, storeRoot.getOrElse(tmpDir(s"$tag-store")), tmpDir(s"$tag-cat"),
      spark, dryRun = dryRun, extremeBounds = Some((0.0, 5000.0)),
      expectedMissingFrequency = expectedMissing) {
      override private[etl] def maxAxis: Long = axisBound.getOrElse(super.maxAxis)
    }

  /** The public steps one by one, in parse's order (the traced bench path). */
  private def stepwise(m: DatasetManager, update: DataFrame,
                       dryRun: Boolean): Option[DatasetDescriptor] = {
    m.preParseQualityCheck(update)
    if (dryRun) None
    else {
      val committed =
        if (!m.store.hasExisting) m.store.writeInitial(update, d)
        else m.store.update(update)
      m.postParseQualityCheck(update)
      m.publishMetadata(committed)
      Some(committed)
    }
  }

  /** Runs `body`; it must leave no cached relation and no persisted RDD
    * behind, whether it returns or throws. */
  private def unpinned[T](body: => T): Try[T] = {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = Try(body)
    assert(cache.isEmpty, s"a cached relation outlived the call ($r)")
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before),
      s"an RDD stayed persisted after the call ($r)")
    r
  }

  /** The outcome of a call and the state it left: the exception's class
    * and message, or the committed descriptor; then the store's rows,
    * its manifest without the file names (the range partitioner's
    * sample may split files differently), its version, and the STAC
    * collection and items with the catalog root cut out. */
  private def observe(m: DatasetManager, r: Try[Option[DatasetDescriptor]],
                      catalogRoot: String): Seq[Any] = {
    val outcome = r match {
      case Success(c) => c
      case Failure(e) => (e.getClass.getName, e.getMessage)
    }
    val store =
      if (!m.store.hasExisting) None
      else Some((
        m.store.read().orderBy(d.dims.map(col): _*).collect().toSeq,
        m.store.manifest().map(_.copy(files = None)),
        m.store.latestVersionNumber()))
    def json(j: Option[org.json4s.JValue]) =
      j.map(v => org.json4s.jackson.JsonMethods.compact(v).replace(catalogRoot, "<root>"))
    val cat = m.catalog
    val items = Iterator.iterate(cat.latestVersion(d.name))(_.flatMap(v =>
      cat.readItem(d.name, v).flatMap(cat.links(_).collectFirst {
        case ("prev", href) => href.split("/").last.stripSuffix(".json") })))
      .takeWhile(_.isDefined).map(v => json(cat.readItem(d.name, v.get))).toSeq
    Seq(outcome, store, json(cat.readCollection(d.name)), items)
  }

  /** Applies `updates` in order through `parse` on one fresh store and
    * through the public steps on another; after each, both must have
    * thrown or returned the same and left the same state. Returns the
    * outcomes of the parse side. */
  private def parity(tag: String, updates: Seq[DataFrame], expectedMissing: Option[Double] = None,
                     dryRun: Boolean = false): Seq[Try[Option[DatasetDescriptor]]] = {
    val fused = manager(s"$tag-parse", expectedMissing, dryRun)
    val steps = manager(s"$tag-steps", expectedMissing, dryRun)
    def root(m: DatasetManager) = m.catalog.rootPath.getParent.toString
    updates.zipWithIndex.map { case (u, i) =>
      val a = unpinned(fused.parse(u))
      val b = unpinned(stepwise(steps, u, dryRun))
      assert(observe(fused, a, root(fused)) == observe(steps, b, root(steps)),
        s"$tag: update $i diverged: parse $a, steps $b")
      a
    }
  }

  private def nullTime(lat: Double, lon: Double): DataFrame =
    cube(1, 1, 1).select(lit(null).cast("long").as("time"), lit(lat).as("latitude"),
      lit(lon).as("longitude"), lit(1.0).as("precip"))

  private def failure(r: Try[_]): String = r match {
    case Failure(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}"
    case Success(v) => s"success $v"
  }

  test("a clean append and an insert match the public steps") {
    val rs = parity("clean", Seq(cube(5, 4, 4), cube(1, 4, 4, startDay = 5),
      cube(3, 4, 4, startDay = 4, valueOffset = 0.5)))
    assert(rs.forall(_.isSuccess), rs.map(failure))
    assert(rs.last.get.get.dateRange.contains((0L, 6 * DAY_US)))
    assert(rs.last.get.get.updateIsAppendOnly.contains(false))
  }

  test("an out-of-bounds value and an empty update fail as the public steps do") {
    val oob = cube(1, 4, 4, startDay = 5).withColumn("precip",
      when(col("latitude") === -1.0 && col("longitude") === 10.0, lit(9999.0))
        .otherwise(col("precip")))
    val rs = parity("reject", Seq(cube(5, 4, 4), oob, cube(0, 4, 4, startDay = 5)))
    assert(failure(rs(1)).contains("outside [0.0, 5000.0]"), failure(rs(1)))
    assert(failure(rs(2)).contains("update has no times"), failure(rs(2)))
  }

  test("a missing-frequency mismatch fails as the public steps do") {
    val rs = parity("nan", Seq(cube(5, 4, 4)), expectedMissing = Some(0.9))
    assert(rs.head.failed.get.isInstanceOf[graft.qc.NanFrequencyMismatchException])
  }

  test("null-time rows count, stay out of an update's axis and bbox, inside an initial bbox") {
    val rs = parity("nulltime", Seq(
      cube(5, 4, 4).unionByName(nullTime(-1.0, 50.0)),
      cube(5, 4, 4, startDay = 5).unionByName(nullTime(-1.0, 60.0))))
    // every row is sampled, so the unwritable null-time row fails the
    // read-back after each commit, on both sides
    assert(rs.forall(r => failure(r).contains("1 written cells differ")), rs.map(failure))
    val m = manager("nulltime-look")
    m.store.writeInitial(cube(5, 4, 4).unionByName(nullTime(-1.0, 50.0)), d)
    assert(m.store.committedExtent().get._1.east == 50.0)
    m.store.update(cube(5, 4, 4, startDay = 5).unionByName(nullTime(-1.0, 60.0)))
    assert(m.store.committedExtent().get._1.east == 50.0)
    assert(m.store.readDescriptor().get.dateRange.contains((0L, 9 * DAY_US)))
  }

  test("a dry run checks and writes nothing, as the public steps do") {
    val rs = parity("dry", Seq(cube(5, 4, 4)), dryRun = true)
    assert(rs == Seq(Success(None)))
  }

  test("an axis above an injected bound is refused on the initial and the update path") {
    val small = manager("axis-initial", axisBound = Some(3L))
    val e1 = unpinned(small.parse(cube(5, 4, 4))).failed.get
    assert(e1.getMessage.contains("has more than 3 values"), e1.getMessage)
    assert(!small.store.hasExisting)
    // four times fit under a bound of four: the bound is exact
    val root = tmpDir("axis-update-store")
    assert(unpinned(manager("axis-base", axisBound = Some(4L), storeRoot = Some(root))
      .parse(cube(4, 4, 4))).isSuccess)
    val bounded = manager("axis-update", axisBound = Some(3L), storeRoot = Some(root))
    val e2 = unpinned(bounded.parse(cube(5, 4, 4, startDay = 4))).failed.get
    assert(e2.getMessage.contains("has more than 3 values"), e2.getMessage)
    assert(bounded.store.latestVersionNumber() == 2L)
    assert(bounded.store.read().count() == 4L * 16)
    // the default bound takes the same update
    assert(unpinned(manager("axis-default", storeRoot = Some(root))
      .parse(cube(5, 4, 4, startDay = 4))).isSuccess)
    assert(bounded.store.read().count() == 9L * 16)
  }
}
