package graft.sources

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.obs.JobLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType}

/** Initial/append/insert protocol — the system-test storyline of the
  * reference (`tests/system/test_chirps.py`): golden-value point equality
  * after initial parse, contiguous appends, hole-append failure,
  * region-overwrite inserts, and the two-phase descriptor flags. */
class GriddedStoreSpec extends SparkSpec {

  private def desc(name: String) = DatasetDescriptor(
    name = name, dataVar = "precip", category = Category.Observation,
    missingValue = Some(-9999.0), cadenceUs = DAY_US,
    chunk = ChunkGrid(timeBucketUs = 10 * DAY_US, maxRecordsPerFile = 200))

  test("initial write: golden point value + committed descriptor") {
    val root = tmpDir("store-init")
    val store = new GriddedStore(root, spark)
    val d = store.writeInitial(cube(20, 4, 4), desc("init"))
    // point equality with the source, like test_chirps.py:217-235
    val got = store.read()
      .where(col("time") === 5 * DAY_US &&
        col("latitude") === -0.5 && col("longitude") === 10.25)
      .select("precip").collect()
    assert(got.length == 1 && got(0).getDouble(0) == 5 * 100.0 + 2 * 10.0 + 1)
    assert(d.dateRange.contains((0L, 19 * DAY_US)))
    assert(!d.updateInProgress)
    // bucketed layout exists
    assert(store.read().select("time_bucket").distinct().count() == 2)
  }

  test("contiguous append extends the dataset; updateIsAppendOnly=true") {
    val root = tmpDir("store-append")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(20, 4, 4), desc("app"))
    val d2 = store.update(cube(5, 4, 4, startDay = 20, valueOffset = 9000.0))
    assert(d2.dateRange.contains((0L, 24 * DAY_US)))
    assert(d2.updateIsAppendOnly.contains(true))
    assert(d2.updatePreviousEndUs.contains(19 * DAY_US))
    assert(store.read().count() == 25 * 16)
    val v = store.read().where(col("time") === 22 * DAY_US &&
      col("latitude") === -1.0 && col("longitude") === 10.0)
      .select("precip").collect()(0).getDouble(0)
    assert(v == 9000.0 + 2 * 100.0)
  }

  test("append with a hole fails (test_chirps.py:293-313)") {
    val root = tmpDir("store-hole")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("hole"))
    val ex = intercept[IllegalArgumentException] {
      store.update(cube(3, 2, 2, startDay = 12)) // skips day 10, 11
    }
    assert(ex.getMessage.contains("not contiguous"))
  }

  test("insert overwrites only the targeted region (publish.py:332-371)") {
    val root = tmpDir("store-insert")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(20, 4, 4), desc("ins"))
    // overwrite days 5..7 with new values
    val d2 = store.update(cube(3, 4, 4, startDay = 5, valueOffset = 5555.0))
    assert(d2.updateIsAppendOnly.contains(false))
    assert(store.read().count() == 20 * 16) // no row-count change
    val changed = store.read().where(col("time") === 6 * DAY_US &&
      col("latitude") === -1.0 && col("longitude") === 10.0)
      .select("precip").collect()(0).getDouble(0)
    assert(changed == 5555.0 + 1 * 100.0)
    val untouched = store.read().where(col("time") === 9 * DAY_US &&
      col("latitude") === -1.0 && col("longitude") === 10.0)
      .select("precip").collect()(0).getDouble(0)
    assert(untouched == 9 * 100.0)
  }

  test("partial-slice insert keeps the slice's other cells (cell-keyed survivors)") {
    val root = tmpDir("store-cellins")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 4, 4), desc("cellins"))
    // correct ONE cell of day 3: the other 15 cells of that day and every
    // other day must survive — a time-keyed survivor rule would silently
    // drop the 15 (the reference's zarr region write is hyperslab-scoped)
    val corr = cube(1, 1, 1, startDay = 3, valueOffset = 7777.0)
    store.update(corr)
    assert(store.read().count() == 10 * 16)
    val day3 = store.read().where(col("time") === 3 * DAY_US)
    assert(day3.count() == 16)
    val corrected = day3.where(col("latitude") === -1.0 &&
      col("longitude") === 10.0).select("precip").collect()(0).getDouble(0)
    assert(corrected == 7777.0) // cube's local day index is 0
    val neighbor = day3.where(col("latitude") === -0.75 &&
      col("longitude") === 10.25).select("precip").collect()(0).getDouble(0)
    assert(neighbor == 3 * 100.0 + 11.0) // la=1,lo=1: untouched original
  }

  test("update before dataset start fails; empty update fails") {
    val root = tmpDir("store-guards")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2, startDay = 100), desc("g"))
    assert(intercept[IllegalArgumentException] {
      store.update(cube(2, 2, 2, startDay = 50))
    }.getMessage.contains("before dataset start"))
    assert(intercept[IllegalArgumentException] {
      store.update(cube(0, 2, 2))
    }.getMessage.contains("empty update"))
  }

  test("inserts refused when overwrite not allowed (publish.py:287-294)") {
    val root = tmpDir("store-noow")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("now"))
    intercept[IllegalStateException] {
      store.update(cube(2, 2, 2, startDay = 3), allowOverwrite = false)
    }
  }

  test("descriptor json round-trips") {
    val d = desc("rt").copy(attrs = Map("units" -> "mm", "source" -> "x"),
      dateRange = Some((1L, 2L)), updateIsAppendOnly = Some(true),
      updatePreviousEndUs = Some(7L), cadenceBoundsUs = Some((3L, 9L)))
    assert(GridManifest.parse(GridManifest(d).json).descriptor == d)
    // every optional field unset, then every one set
    val bare = desc("rt-bare").copy(missingValue = None)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "time BIGINT, latitude DOUBLE, longitude DOUBLE, precip DOUBLE, time_bucket INT")
    val full = GridManifest(d.copy(updateInProgress = true),
      Some(Seq("data/time_bucket=0/a.parquet", "data/time_bucket=1/b.parquet")),
      Some(schema), Some(graft.model.Bbox(17.3, -35.05, 17.6, -34.85)))
    for (m <- Seq(GridManifest(bare), GridManifest(bare, files = Some(Nil)), full))
      assert(GridManifest.parse(m.json) == m)
    // an unset field is omitted, not written as null
    assert(!GridManifest(bare).json.contains("null"))
  }

  test("versioned manifest: history, time travel, concurrent-writer guard") {
    val root = tmpDir("store-manifest")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("mf"))          // v1 in-progress, v2 committed
    store.update(cube(2, 2, 2, startDay = 10))              // v3 in-progress, v4 committed
    val hist = store.descriptorHistory()
    assert(hist.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // flag transitions recorded: odd versions in-progress, even committed
    assert(hist.map(_._2.updateInProgress) == Seq(true, false, true, false))
    // metadata time travel: version 2 predates the append
    assert(store.readDescriptorAt(2).get.dateRange.contains((0L, 9 * DAY_US)))
    assert(store.readDescriptorAt(4).get.dateRange.contains((0L, 11 * DAY_US)))
    // the committed pointer equals the latest version
    assert(store.readDescriptor().get == hist.last._2)
    // concurrent writers: both read latest=4, both try to commit v5 —
    // the second claim must lose with ConcurrentModificationException
    val next = store.latestVersionNumber() + 1
    store.commitAt(next, GridManifest(store.readDescriptor().get))
    intercept[java.util.ConcurrentModificationException] {
      store.commitAt(next, GridManifest(store.readDescriptor().get))
    }
  }

  test("snapshot manifest: pinned reads, data time travel, vacuum") {
    val root = tmpDir("store-snap")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("snap")) // v2 committed
    val v2 = store.latestVersionNumber()
    // insert rewrites day 3's bucket; append adds day 10
    store.update(cube(1, 2, 2, startDay = 3, valueOffset = 7777.0)
      .unionByName(cube(1, 2, 2, startDay = 10, valueOffset = 8888.0)))
    val v4 = store.latestVersionNumber()
    assert(v4 == v2 + 2)
    def pointAt(df: org.apache.spark.sql.DataFrame, day: Long): Double =
      df.where(col("time") === day * DAY_US &&
        col("latitude") === -1.0 && col("longitude") === 10.0)
        .select("precip").collect()(0).getDouble(0)
    // latest sees the insert and the append
    assert(pointAt(store.read(), 3) == 7777.0)
    assert(pointAt(store.read(), 10) == 8888.0)
    assert(store.read().count() == 11 * 4)
    // time travel: v2 still reads the PRE-insert data, even though its
    // bucket was rewritten — old files are retired, not deleted
    assert(pointAt(store.readAt(v2), 3) == 300.0)
    assert(store.readAt(v2).count() == 10 * 4)
    // vacuum retaining only the latest version drops v2's replaced
    // files; the latest read is untouched, the old version is forfeit
    val deleted = store.vacuum(retainLast = 1)
    assert(deleted.nonEmpty)
    assert(store.read().count() == 11 * 4)
    assert(pointAt(store.read(), 3) == 7777.0)
    intercept[Exception] { store.readAt(v2).count() }
    // vacuum deleted ONLY unreferenced files: everything on disk is
    // exactly the latest manifest
    assert(store.listDataFiles(None) ==
      store.snapshotFilesAt(v4).get.toSet)
    // a second vacuum is a no-op
    assert(store.vacuum(retainLast = 1).isEmpty)
  }

  test("vacuum removes a crashed writer's orphan files after repair") {
    val root = tmpDir("store-orphan")
    val store = new GriddedStore(root, spark)
    val d = store.writeInitial(cube(10, 2, 2), desc("orph"))
    val committedFiles = store.snapshotFilesAt(store.latestVersionNumber()).get.toSet
    // simulate a writer that crashed after landing files but before its
    // manifest commit: extra parquet in a bucket dir, unreferenced
    val orphan = new org.apache.hadoop.fs.Path(root,
      "data/time_bucket=0/part-orphan.snappy.parquet")
    val out = store.fs.create(orphan, true)
    out.write(Array.fill(16)(0x5A.toByte)); out.close()
    // reads are pinned to the manifest, so the orphan is invisible
    assert(store.read().count() == 10 * 4)
    val deleted = store.vacuum(retainLast = 1)
    assert(deleted == Seq("data/time_bucket=0/part-orphan.snappy.parquet"))
    assert(store.listDataFiles(None) == committedFiles)
    assert(!d.updateInProgress)
  }

  test("irregular cadence: gapped-but-within-bounds append commits (publish.py:677-685)") {
    val root = tmpDir("store-irreg")
    val store = new GriddedStore(root, spark)
    // declared irregular: consecutive deltas anywhere in [1, 3] days
    store.writeInitial(cube(10, 2, 2),
      desc("irr").copy(cadenceBoundsUs = Some((DAY_US, 3 * DAY_US))))
    // existing end = day 9; append days 11, 13, 14 -> bridge delta 2,
    // internal deltas 2 and 1 — all within bounds, must commit
    val upd = cube(1, 2, 2, startDay = 11, valueOffset = 700.0)
      .unionByName(cube(2, 2, 2, startDay = 13, valueOffset = 800.0))
    val d2 = store.update(upd)
    assert(d2.dateRange.contains((0L, 14 * DAY_US)))
    assert(d2.updateIsAppendOnly.contains(true))
    assert(store.read().count() == (10 + 3) * 4)
    // the exact-cadence guard would have rejected this same append
    val strictRoot = tmpDir("store-strict")
    val strict = new GriddedStore(strictRoot, spark)
    strict.writeInitial(cube(10, 2, 2), desc("strict"))
    assert(intercept[IllegalArgumentException] { strict.update(upd) }
      .getMessage.contains("differ from cadence"))
  }

  test("sub-cadence (off-grid) append times are rejected") {
    val root = tmpDir("store-offgrid")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("og"))
    // day 10 on-grid plus an off-grid time at day 10 + 12h: the delta
    // is BELOW cadence, so a pure gaps-split (delta > step) would admit
    // it and commit an off-grid axis that wedges the next real append
    val offgrid = cube(1, 2, 2, startDay = 10)
      .withColumn("time", col("time") + lit(DAY_US / 2))
    assert(intercept[IllegalArgumentException] {
      store.update(cube(1, 2, 2, startDay = 10).unionByName(offgrid))
    }.getMessage.contains("differ from cadence"))
  }

  test("rebuild (writeInitial over existing) never deletes: pinned readers survive") {
    val root = tmpDir("store-rebuild")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("rb"))
    val pinned = store.read() // resolves the pre-rebuild pinned list NOW
    val oldFiles = store.snapshotFiles().get.toSet
    val d2 = store.writeInitial(cube(5, 2, 2, valueOffset = 4444.0), desc("rb"))
    assert(d2.dateRange.contains((0L, 4 * DAY_US)))
    assert(store.read().count() == 5 * 4) // latest = rebuilt generation only
    // the pre-rebuild reader still scans its snapshot — a
    // directory-clearing overwrite would have broken it mid-scan
    assert(pinned.count() == 10 * 4)
    // old generation retired (absent from the new manifest), then
    // reclaimed by vacuum without touching the live generation
    assert(store.snapshotFiles().get.toSet.intersect(oldFiles).isEmpty)
    assert(store.vacuum(retainLast = 1).nonEmpty)
    assert(store.read().count() == 5 * 4)
  }

  test("interleaved mutations cannot lose a committed writer's files") {
    // the lost-update scenario: writer B captures its claim base, then
    // writer A runs a full mutation; B's claim must collide loudly
    // instead of committing a manifest built from its stale file list
    // (which would silently drop A's files)
    val root = tmpDir("store-occ")
    val store = new GriddedStore(root, spark)
    val d = store.writeInitial(cube(10, 2, 2), desc("occ"))
    val base = store.latestVersionNumber() // writer B's captured base
    store.update(cube(2, 2, 2, startDay = 10, valueOffset = 100.0)) // writer A
    intercept[java.util.ConcurrentModificationException] {
      store.commitAt(base + 1, GridManifest(d).inProgress) // B's first phase — must lose
    }
    assert(store.read().count() == 12 * 4) // A's rows intact
  }

  test("a crashed commit's partial claim file neither bricks nor redirects reads") {
    val root = tmpDir("store-partial-claim")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("pc"))
    val v = store.latestVersionNumber()
    // zero-byte claim: a crash between fs.create and the JSON write
    val claim = new org.apache.hadoop.fs.Path(root, f"_versions/v${v + 1}%06d.json")
    store.fs.create(claim, false).close()
    assert(store.latestVersionNumber() == v + 1)
    // reads resolve through the committed POINTER, not the claim listing
    assert(store.read().count() == 10 * 4)
    assert(store.readDescriptorAt(v + 1).isEmpty) // orphan parses to None
    // vacuum protects the pointer's files even though the orphan is the
    // newest claim number in the retained window
    assert(store.vacuum(retainLast = 1).isEmpty)
    assert(store.read().count() == 10 * 4)
    // the next mutation skips the orphaned number and commits cleanly
    store.update(cube(1, 2, 2, startDay = 10))
    assert(store.readDescriptor().get.dateRange.contains((0L, 10 * DAY_US)))
  }

  test("irregular cadence: deltas beyond the declared bounds still fail") {
    val root = tmpDir("store-irreg-bad")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2),
      desc("irrb").copy(cadenceBoundsUs = Some((DAY_US, 3 * DAY_US))))
    // bridge delta 5 days > hi bound
    assert(intercept[IllegalArgumentException] {
      store.update(cube(2, 2, 2, startDay = 14))
    }.getMessage.contains("outside cadence bounds"))
    // in-bounds bridge but an internal 4-day hole
    assert(intercept[IllegalArgumentException] {
      store.update(cube(1, 2, 2, startDay = 11)
        .unionByName(cube(1, 2, 2, startDay = 15)))
    }.getMessage.contains("outside cadence bounds"))
  }

  private def planDesc(end: Long) = desc("plan").copy(cadenceUs = 1L,
    dateRange = Some((0L, end)))

  test("insert/append split on a gapped update (publish.py:303-330)") {
    val existing = (0L to 9L)
    val asked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def existingIn(lo: Long, hi: Long): Seq[Long] = {
      asked += ((lo, hi)); existing.filter(t => t >= lo && t <= hi)
    }
    val plan = GriddedStore.planUpdate(planDesc(9L), Seq(11L, 5L, 10L, 6L, 12L),
      existingIn)
    assert(plan.inserts == Seq(5L, 6L) && plan.appends == Seq(10L, 11L, 12L))
    assert(plan.hi == 12L)
    assert(asked == Seq((5L, 12L))) // one lookup, confined to the update's span
    // a gap inside the append run (12 missing) is refused
    assert(intercept[IllegalArgumentException] {
      GriddedStore.planUpdate(planDesc(9L), Seq(5L, 6L, 10L, 11L, 13L), existingIn)
    }.getMessage.contains("differ from cadence"))
    // inserts refused when overwrite is not allowed
    intercept[IllegalStateException] {
      GriddedStore.planUpdate(planDesc(9L), Seq(5L, 10L), existingIn,
        allowOverwrite = false)
    }
  }

  test("a pure append plans without looking up existing times") {
    val plan = GriddedStore.planUpdate(planDesc(9L), Seq(11L, 10L),
      (_, _) => fail("a pure append must not read the store"))
    assert(plan.inserts.isEmpty && plan.appends == Seq(10L, 11L))
    // and through the store: appending over a committed manifest whose
    // pinned files are GONE still works, because nothing reads them
    val root = tmpDir("store-pure-append")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(10, 2, 2), desc("pa"))
    val files = store.snapshotFiles().get
    files.foreach(f => store.fs.delete(new org.apache.hadoop.fs.Path(root, f), false))
    val d2 = store.update(cube(2, 2, 2, startDay = 10))
    assert(d2.dateRange.contains((0L, 11 * DAY_US)))
    assert(d2.updateIsAppendOnly.contains(true))
    assert(store.snapshotFiles().get.toSet.diff(files.toSet).nonEmpty)
  }

  test("the planner's driver-side bucket equals the layout's bucketExpr") {
    val s = spark; import s.implicits._
    val b = 10 * DAY_US
    val ts = Seq(-2 * b - 1, -b, -1L, 0L, 1L, b - 1, b, 3 * b + 7)
    val viaExpr = ts.toDF("time").select(ChunkGrid.bucketExpr("time", b))
      .collect().map(_.getLong(0)).toSeq
    assert(ts.map(ChunkGrid.bucketOf(_, b)) == viaExpr)
    assert(viaExpr == Seq(-3L, -1L, -1L, 0L, 0L, 0L, 1L, 3L))
  }

  test("the planner's time axis is bounded: a cell-scale axis is refused") {
    val big = spark.range(5000).select(col("id").as("t"))
    val e = intercept[IllegalArgumentException](
      GriddedStore.collectAxis(big, "t", maxAxis = 1000L))
    assert(e.getMessage.contains("axis"))
    // the same axis under the default bound is collected, distinct and
    // null-free
    val withNull = big.union(big).union(spark.range(1).select(lit(null).cast("long").as("t")))
    assert(GriddedStore.collectAxis(withNull, "t").sorted == (0L until 5000L))
  }

  test("mixed update: inserts rewrite only their buckets, the rest appends") {
    val root = tmpDir("store-mixed")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(20, 4, 4), desc("mixed")) // buckets 0 and 1
    val before = store.snapshotFiles().get
    def inBucket(fs: Seq[String], b: Long) = fs.filter(_.startsWith(s"data/time_bucket=$b/"))
    // k = 3 days at or before the committed end (day 19), m = 3 after it
    val d2 = store.update(cube(6, 4, 4, startDay = 17, valueOffset = 5000.0))
    assert(d2.updateIsAppendOnly.contains(false))
    assert(d2.dateRange.contains((0L, 22 * DAY_US)))
    assert(d2.updatePreviousEndUs.contains(19 * DAY_US))
    val after = store.snapshotFiles().get
    // bucket 0 untouched, bucket 1 (the inserts') fully replaced, bucket 2 new
    assert(inBucket(after, 0) == inBucket(before, 0))
    assert(inBucket(after, 1).nonEmpty && inBucket(after, 1).toSet.intersect(before.toSet).isEmpty)
    assert(inBucket(after, 2).nonEmpty)
    assert(store.read().count() == 23 * 16)
    def point(day: Long) = store.read().where(col("time") === day * DAY_US &&
      col("latitude") === -1.0 && col("longitude") === 10.0)
      .select("precip").collect().map(_.getDouble(0)).toSeq
    assert(point(5) == Seq(500.0))             // untouched bucket
    assert(point(12) == Seq(1200.0))           // insert bucket's survivor
    assert(point(18) == Seq(5000.0 + 100.0))   // inserted
    assert(point(21) == Seq(5000.0 + 400.0))   // appended
    // a time inside [dsStart, dsEnd] the store lacks is an append, and an
    // append that does not start at the committed end is refused
    val offGrid = cube(1, 4, 4, startDay = 18).withColumn("time", col("time") + lit(DAY_US / 2))
    assert(intercept[IllegalArgumentException] {
      store.update(cube(2, 4, 4, startDay = 17).unionByName(offGrid))
    }.getMessage.contains("not contiguous"))
    // the same lacking time next to real appends breaks the append run
    assert(intercept[IllegalArgumentException] {
      store.update(cube(2, 4, 4, startDay = 23).unionByName(offGrid))
    }.getMessage.contains("differ from cadence"))
    assert(store.read().count() == 23 * 16)
  }

  test("reads take the manifest schema: same as inference, no job to build the frame") {
    val root = tmpDir("store-schema")
    val store = new GriddedStore(root, spark)
    store.writeInitial(cube(20, 2, 2), desc("sch"))
    store.update(cube(2, 2, 2, startDay = 20))
    val v = store.latestVersionNumber()
    def inferred(files: Seq[String]) = spark.read.option("basePath", store.dataPath)
      .parquet(files.map(f => s"$root/$f"): _*).schema
    val expected = inferred(store.snapshotFiles().get)
    var latest: org.apache.spark.sql.DataFrame = null
    var atV: org.apache.spark.sql.DataFrame = null
    assert(JobLog.measure(spark) { latest = store.read(); atV = store.readAt(v) }._2.size == 0)
    assert(latest.schema == expected && atV.schema == expected)
    assert(latest.schema("time_bucket").dataType == expected("time_bucket").dataType)
    assert(latest.count() == 22 * 4)
    assert(store.readAt(v - 2).schema == inferred(store.snapshotFilesAt(v - 2).get))
    // a manifest without data_schema (written before the field) still
    // reads, through inference
    val json = ManifestIO.readPointerVerified(store.fs, store.descriptorPath)
    val legacy = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.parse(json).removeField(_._1 == "data_schema"))
    assert(!legacy.contains("data_schema"))
    store.commits.swapPointer(store.descriptorPath,
      ManifestIO.seal(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(store.read().schema == expected)
    assert(store.read().count() == 22 * 4)
    // committed-empty: a zero-row frame with the recorded schema
    val empty = tmpDir("store-schema-empty")
    val es = new GriddedStore(empty, spark)
    es.writeInitial(cube(2, 2, 2), desc("sche"))
    es.writeDescriptor(es.readDescriptor().get, files = Some(Nil))
    assert(es.read().count() == 0 && es.read().schema == expected)
  }

  test("initial writes and surgery record the inferred schema: Int buckets, and Long past the Int range") {
    def inferred(store: GriddedStore) = spark.read.option("basePath", store.dataPath)
      .parquet(store.snapshotFiles().get.map(f => s"${store.root}/$f"): _*).schema
    // a 1 us bucket puts every day after the epoch past Int.MaxValue
    for ((bucketUs, bucketType) <- Seq(10 * DAY_US -> IntegerType, 1L -> LongType)) {
      val store = new GriddedStore(tmpDir("store-schema-rule"), spark)
      store.writeInitial(cube(3, 2, 2), desc("rule").copy(chunk = ChunkGrid(bucketUs, 200)))
      val recorded = store.manifest().get.dataSchema
      assert(recorded.contains(inferred(store)), s"$recorded")
      assert(recorded.get("time_bucket").dataType == bucketType)
      // a surgery that retypes a coordinate records the new type
      EncodingSurgery.rewriteCoordinate(store, "latitude", _.cast("float"))
      val after = store.manifest().get.dataSchema
      assert(after.contains(inferred(store)), s"$after")
      assert(after.get("latitude").dataType == FloatType)
      assert(after.get("time_bucket").dataType == bucketType)
      assert(store.read().count() == 3 * 4)
    }
  }
}
