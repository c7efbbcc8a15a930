package graft.catalog

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.obs.JobLog
import graft.sources.GriddedStore
import org.apache.spark.sql.functions._

/** The SQL face of the MVCC store: plain SELECT parity with
  * `store.read()`, `VERSION AS OF` parity with `readAt`, `TIMESTAMP AS
  * OF` resolution over manifest commit times, pushdown reaching the
  * parquet scan, and loud refusal of DML. */
class GridCatalogSpec extends SparkSpec {

  private def desc(name: String) = DatasetDescriptor(
    name = name, dataVar = "precip", category = Category.Observation,
    missingValue = Some(-9999.0), cadenceUs = DAY_US,
    chunk = ChunkGrid(timeBucketUs = 10 * DAY_US, maxRecordsPerFile = 500))

  private def installCatalog(wh: String, cat: String = "grid"): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GridCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  test("SELECT parity with store.read(), pushdown reaches the scan") {
    val wh = tmpDir("cat-wh")
    val store = new GriddedStore(s"$wh/chirps", spark)
    store.writeInitial(cube(20, 4, 4), desc("chirps"))
    installCatalog(wh, "grid1")
    val viaSql = spark.sql(
      "SELECT * FROM grid1.chirps WHERE time = 432000000000 " +
        "AND latitude = -0.5")
    assert(viaSql.count() ==
      store.read().where(col("time") === 5 * DAY_US &&
        col("latitude") === -0.5).count())
    assert(spark.sql("SELECT sum(precip) FROM grid1.chirps").collect()(0)
      .getDouble(0) ==
      store.read().agg(sum("precip")).collect()(0).getDouble(0))
    // data-filter pushdown + partition pruning in the DSv2 scan
    val plan = viaSql.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(latitude,-0.5)"), plan)
  }

  test("VERSION AS OF pins the pre-update snapshot; TIMESTAMP AS OF " +
      "resolves by commit time") {
    val wh = tmpDir("cat-wh-tt")
    val store = new GriddedStore(s"$wh/ds", spark)
    store.writeInitial(cube(10, 2, 2), desc("ds"))
    val v1 = store.latestVersionNumber() // the committed initial manifest
    Thread.sleep(1100) // mtime resolution guard for the timestamp test
    val t1 = System.currentTimeMillis() * 1000L
    // a correction that rewrites day 3's cells to +1000
    store.update(cube(1, 2, 2, startDay = 3, valueOffset = 1000.0))
    installCatalog(wh, "grid2")
    val now = spark.sql("SELECT sum(precip) FROM grid2.ds").collect()(0).getDouble(0)
    val old = spark.sql(s"SELECT sum(precip) FROM grid2.ds VERSION AS OF $v1")
      .collect()(0).getDouble(0)
    assert(now == store.read().agg(sum("precip")).collect()(0).getDouble(0))
    assert(old == store.readAt(v1).agg(sum("precip")).collect()(0).getDouble(0))
    // day-3 cells were 300+la*10+lo, replaced by 1000+la*10+lo: +700 each
    assert(now == old + 4 * 700.0)
    // timestamp between the two commits resolves to the initial manifest
    val ts = java.time.Instant.ofEpochMilli(t1 / 1000L).toString
      .replace("T", " ").replace("Z", "")
    val byTime = spark.sql(
      s"SELECT sum(precip) FROM grid2.ds TIMESTAMP AS OF '$ts'")
      .collect()(0).getDouble(0)
    assert(byTime == old)
    // resolving an old version takes its recorded schema: no job
    var resolved: org.apache.spark.sql.types.StructType = null
    assert(JobLog.measure(spark) {
      resolved = spark.sql(s"SELECT * FROM grid2.ds VERSION AS OF $v1").schema
    }._2.size == 0)
    assert(resolved == store.readAt(v1).schema)
  }

  test("DML refuses loudly; missing tables and versions error") {
    val wh = tmpDir("cat-wh-ro")
    val store = new GriddedStore(s"$wh/t", spark)
    store.writeInitial(cube(2, 2, 2), desc("t"))
    installCatalog(wh, "grid3")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO grid3.t VALUES (0, 0.0, 0.0, 1.0, 0)")
    }
    assert(e.getMessage.contains("does not support") ||
      e.getMessage.toLowerCase.contains("read-only"), e.getMessage)
    intercept[Exception] { spark.sql("SELECT * FROM grid3.nope").collect() }
    intercept[Exception] {
      spark.sql("SELECT * FROM grid3.t VERSION AS OF 999").collect()
    }
    // SHOW TABLES sees the store directory
    val tables = spark.sql("SHOW TABLES IN grid3").collect().map(_.getString(1))
    assert(tables.contains("t"))
  }

  test("$files metadata table lists exactly the pinned snapshot") {
    val wh = tmpDir("cat-wh-files")
    val store = new GriddedStore(s"$wh/f", spark)
    store.writeInitial(cube(12, 2, 2), desc("f")) // buckets 0 and 1
    store.update(cube(1, 2, 2, startDay = 3, valueOffset = 1.0)) // rewrite b0
    installCatalog(wh, "grid5")
    val rows = spark.sql(
      "SELECT path, time_bucket, size_bytes FROM grid5.`f$files` ORDER BY path")
      .collect()
    val pinned = store.snapshotFiles().get.sorted
    assert(rows.map(_.getString(0)).toSeq == pinned)
    assert(rows.forall(_.getLong(2) > 0))
    assert(rows.map(_.getLong(1)).toSet.subsetOf(Set(0L, 1L)))
    // retired pre-correction bucket-0 files are on disk but NOT listed
    val b0 = new org.apache.hadoop.fs.Path(s"$wh/f/data/time_bucket=0")
    val onDisk = b0
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(b0).count(_.getPath.getName.endsWith(".parquet"))
    assert(onDisk > rows.count(_.getLong(1) == 0L))
  }

  test("$history metadata table lists every manifest commit") {
    val wh = tmpDir("cat-wh-hist")
    val store = new GriddedStore(s"$wh/h", spark)
    store.writeInitial(cube(4, 2, 2), desc("h"))
    store.update(cube(1, 2, 2, startDay = 4))
    installCatalog(wh, "grid4")
    val rows = spark.sql(
      "SELECT version, update_in_progress, n_files, date_end_us " +
        "FROM grid4.`h$history` ORDER BY version").collect()
    // init: claim v1 (in-progress) + commit v2; update: claim v3 + commit v4
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.map(_.getBoolean(1)).toSeq ==
      Seq(true, false, true, false))
    assert(rows.last.getInt(2) == store.snapshotFiles().get.size)
    assert(rows.last.getLong(3) == 4 * DAY_US)
    // every row is its version's manifest: descriptor and pin (the
    // initial claim of a fresh store pins nothing and has no range yet)
    assert(rows.toSeq.map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))) ==
      store.descriptorHistory().map { case (v, d) =>
        (v, d.updateInProgress, store.snapshotFilesAt(v).fold(-1)(_.size),
          d.dateRange.map(_._2)) })
    // commit times are the manifest mtimes: non-decreasing, non-zero
    val ts = spark.sql(
      "SELECT unix_micros(committed_at) FROM grid4.`h$history` ORDER BY version")
      .collect().map(_.getLong(0))
    assert(ts.forall(_ > 0L) && ts.sameElements(ts.sorted))
  }
}
