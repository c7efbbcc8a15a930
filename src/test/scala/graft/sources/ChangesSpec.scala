package graft.sources

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.obs.JobLog
import org.apache.spark.sql.functions._

/** The commit-diff change feed: appends diff to exactly their new rows,
  * corrections to the rewritten bucket's delete+insert pair, and the
  * algebra `readAt(to) == readAt(from) − deletes + inserts` holds as
  * multisets. Legacy (no-file-list) manifests refuse loudly. */
class ChangesSpec extends SparkSpec {

  private def desc(name: String) = DatasetDescriptor(
    name = name, dataVar = "precip", category = Category.Observation,
    missingValue = Some(-9999.0), cadenceUs = DAY_US,
    chunk = ChunkGrid(timeBucketUs = 5 * DAY_US, maxRecordsPerFile = 500))

  test("append commit diffs to only the appended rows; correction to " +
      "the rewritten bucket; multiset algebra holds") {
    val root = tmpDir("changes")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("c"))
    val vInit = store.latestVersionNumber()
    store.update(cube(3, 2, 2, startDay = 10)) // pure append, bucket 2
    val vApp = store.latestVersionNumber()

    val appDiff = store.changes(vInit, vApp).cache()
    // inserts: exactly the 12 appended rows, no deletes (append adds files)
    assert(appDiff.filter(col("_change_type") === "delete").count() == 0)
    val ins = appDiff.filter(col("_change_type") === "insert")
    assert(ins.count() == 12)
    assert(ins.agg(min("time")).collect()(0).getLong(0) == 10 * DAY_US)

    // correction: day 7 (bucket 1, days 5-9) rewritten
    store.update(cube(1, 2, 2, startDay = 7, valueOffset = 5000.0))
    val vCorr = store.latestVersionNumber()
    // each side reads with its version's recorded schema: no inference job
    assert(JobLog.measure(spark)(store.changes(vApp, vCorr))._2.size == 0)
    val corrDiff = store.changes(vApp, vCorr).cache()
    // deletes = the whole old bucket-1 generation (file granularity);
    // inserts = the merged rewrite of that bucket; both bucket-bounded
    assert(corrDiff.select("time").distinct().collect()
      .map(_.getLong(0)).forall(t => t >= 5 * DAY_US && t < 10 * DAY_US))
    assert(corrDiff.filter(col("_change_type") === "delete").count() == 20)
    assert(corrDiff.filter(col("_change_type") === "insert").count() == 20)

    // algebra: readAt(from) minus deletes plus inserts == readAt(to)
    val cols = Seq("time", "latitude", "longitude", "precip").map(col)
    val from = store.readAt(vApp).select(cols: _*)
    val dels = corrDiff.filter(col("_change_type") === "delete").select(cols: _*)
    val insr = corrDiff.filter(col("_change_type") === "insert").select(cols: _*)
    val reconstructed = from.exceptAll(dels).unionAll(insr)
    val to = store.readAt(vCorr).select(cols: _*)
    assert(reconstructed.exceptAll(to).isEmpty && to.exceptAll(reconstructed).isEmpty)

    // identical pins diff to an empty frame with the change column
    val same = store.changes(vCorr, vCorr)
    assert(same.count() == 0 && same.columns.contains("_change_type"))

    // net view: the bucket rewrite's 16 unchanged survivors annihilate,
    // leaving the 4 genuinely changed cells as 4 deletes + 4 inserts
    val net = store.changesNet(vApp, vCorr)
    assert(net.filter(col("_change_type") === "insert").count() == 4)
    assert(net.filter(col("_change_type") === "delete").count() == 4)
    assert(net.filter(col("_change_type") === "insert")
      .agg(min("precip")).collect()(0).getDouble(0) >= 5000.0)

    // the diff READS only the delta files, not the table: every file the
    // scan touches lives in the changed buckets
    corrDiff.unpersist(true) // cached blocks carry no file names
    val scanned = store.changes(vApp, vCorr)
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("time_bucket=1")), scanned.mkString("\n"))
  }

  test("vacuum dry run reports the doomed list without deleting") {
    val root = tmpDir("vac-dry")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(4, 2, 2), desc("v"))
    store.update(cube(1, 2, 2, startDay = 1, valueOffset = 100.0)) // retire gen 1
    val dry = store.vacuum(retainLast = 1, dryRun = true)
    assert(dry.nonEmpty)
    dry.foreach(f => assert(store.fs.exists(
      new org.apache.hadoop.fs.Path(root, f)), f)) // nothing deleted
    val real = store.vacuum(retainLast = 1)
    assert(real == dry) // the dry run predicted the real run exactly
    real.foreach(f => assert(!store.fs.exists(
      new org.apache.hadoop.fs.Path(root, f)), f))
  }

  test("version bounds and legacy manifests refuse loudly") {
    val root = tmpDir("changes-guard")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(2, 2, 2), desc("g"))
    val v = store.latestVersionNumber()
    intercept[IllegalArgumentException] { store.changes(v, v - 1) }
    intercept[IllegalArgumentException] { store.changes(999, 1000) }
  }
}
