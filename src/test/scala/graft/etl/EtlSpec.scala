package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.catalog.StacCatalog
import org.apache.spark.sql.functions._

/** Extract planning, manager orchestration, catalog lifecycle. */
class EtlSpec extends SparkSpec {

  test("planPeriods resumes from watermark + cadence (chirps.py:176-187)") {
    val p = Extractor.planPeriods(datasetStartUs = 0L,
      watermarkUs = Some(5 * DAY_US), cadenceUs = DAY_US, untilUs = 8 * DAY_US)
    assert(p == Seq(6 * DAY_US, 7 * DAY_US, 8 * DAY_US))
    // cold start: from dataset start
    assert(Extractor.planPeriods(0L, None, DAY_US, 2 * DAY_US)
      == Seq(0L, DAY_US, 2 * DAY_US))
    intercept[IllegalArgumentException] {
      Extractor.planPeriods(10 * DAY_US, Some(0L), DAY_US, 20 * DAY_US)
    }
  }

  test("pool is all-or-nothing; retry backs off then succeeds") {
    assert(Extractor.pool(1 to 20, 4)(_ => true))
    assert(!Extractor.pool(1 to 20, 4)(i => i != 13))
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val r = Extractor.withRetry(tries = 5, baseBackoffMs = 1) { () =>
      if (attempts.incrementAndGet() < 3) sys.error("flaky") else 42
    }
    assert(r.get == 42 && attempts.get() == 3)
  }

  test("bounded extraction: hanging jobs fail fast, not forever") {
    import scala.concurrent.duration._
    // pool budget: a job that sleeps 60 s must not hold the pool hostage
    val t0 = System.nanoTime()
    val ok = Extractor.pool(1 to 3, 2, budget = 500.millis) { _ =>
      Thread.sleep(60000); true
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(!ok && elapsedMs < 10000, s"pool took ${elapsedMs}ms")
    // per-attempt timeout inside withRetry: hung attempts retried, then
    // surfaced as failure in bounded time
    val t1 = System.nanoTime()
    val r = Extractor.withRetry(tries = 2, baseBackoffMs = 1,
      attemptTimeout = 200.millis) { () => Thread.sleep(60000); 42 }
    assert(r.isFailure && (System.nanoTime() - t1) / 1e6 < 10000)
  }

  test("UrlFetcher: file:// link listing, HTML scrape, flaky retry, hung fetch") {
    import scala.concurrent.duration._
    val dir = java.nio.file.Paths.get(tmpDir("fetch-src"))
    java.nio.file.Files.writeString(dir.resolve("a_2020.nc"), "AAA")
    java.nio.file.Files.writeString(dir.resolve("b_2021.nc"), "BBB")
    java.nio.file.Files.writeString(dir.resolve("junk.txt"), "x")
    // directory listing with filename filter (FTPExtractor.find analog)
    val links = UrlFetcher.listLinks(dir.toUri.toString, _.endsWith(".nc"))
    assert(links.length == 2 && links.forall(_.endsWith(".nc")))
    // HTML index scrape (get_links analog), relative hrefs resolved
    val html = dir.resolve("index.html")
    java.nio.file.Files.writeString(html,
      """<html><a href="a_2020.nc">a</a> <a href='b_2021.nc'>b</a>
        |<a href="sub/c_2022.nc">c</a><a href="skip.txt">no</a></html>""".stripMargin)
    val scraped = UrlFetcher.listLinks(html.toUri.toString, _.endsWith(".nc"))
    assert(scraped.length == 3 && scraped.forall(_.endsWith(".nc")))
    // fetch: retried transient failures then success, bytes intact
    val destDir = tmpDir("fetch-dst")
    val src = dir.resolve("a_2020.nc").toUri.toString
    val ok = UrlFetcher.fetch(src, s"$destDir/a.nc", tries = 5, baseBackoffMs = 1,
      open = UrlFetcher.flakyOpen(2))
    assert(ok)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(destDir, "a.nc")) == "AAA")
    // permanently-failing endpoint: all tries exhausted -> false
    assert(!UrlFetcher.fetch(src, s"$destDir/b.nc", tries = 3, baseBackoffMs = 1,
      open = UrlFetcher.flakyOpen(99)))
    // hanging endpoint: per-attempt timeout turns a hang into bounded failure
    val t0 = System.nanoTime()
    val hung = UrlFetcher.fetch(src, s"$destDir/c.nc", tries = 2, baseBackoffMs = 1,
      attemptTimeout = 200.millis,
      open = _ => new java.io.InputStream {
        def read(): Int = { Thread.sleep(60000); -1 }
      })
    assert(!hung && (System.nanoTime() - t0) / 1e6 < 10000)
    // no half-written destination left behind by the failed/hung fetches
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(destDir, "b.nc")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(destDir, "c.nc")))
  }

  test("hasNewData gates the parse (convenience.py:482-513)") {
    assert(Extractor.hasNewData(Some(5L), Some(3L)))
    assert(!Extractor.hasNewData(Some(3L), Some(3L)))
    assert(Extractor.hasNewData(Some(1L), None))
    assert(!Extractor.hasNewData(None, Some(1L)))
  }

  test("manager parse end-to-end: initial + append + catalog chain") {
    val d = DatasetDescriptor("chirps-test", "precip", Category.Observation,
      Some(-9999.0), DAY_US, ChunkGrid(10 * DAY_US, 500),
      attrs = Map("units" -> "mm"))
    val mgr = new DatasetManager(d, tmpDir("mgr-store"), tmpDir("mgr-cat"), spark,
      extremeBounds = Some((-100.0, 100000.0)))
    val first = mgr.parse(mgr.normalize(cube(10, 4, 4))).get
    assert(first.dateRange.contains((0L, 9 * DAY_US)))
    assert(mgr.catalog.latestVersion("chirps-test").isDefined)
    val v1 = mgr.catalog.latestVersion("chirps-test").get

    val second = mgr.parse(mgr.normalize(cube(4, 4, 4, startDay = 10))).get
    assert(second.dateRange.contains((0L, 13 * DAY_US)))
    // version history: new item links prev to v1 (metadata.py:447-525)
    val v2 = mgr.catalog.latestVersion("chirps-test").get
    assert(v2 != v1)
    val item = mgr.catalog.readItem("chirps-test", v2).get
    assert(org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(item \ "links")).contains(v1))

    // consecutive INSERT-ONLY updates leave extent and previous-end
    // unchanged — the item version must still be fresh each time (the
    // store's manifest version disambiguates), or the second item would
    // overwrite the first and link prev to itself
    mgr.parse(mgr.normalize(cube(2, 4, 4, startDay = 3, valueOffset = 1.0)))
    val v3 = mgr.catalog.latestVersion("chirps-test").get
    mgr.parse(mgr.normalize(cube(2, 4, 4, startDay = 3, valueOffset = 2.0)))
    val v4 = mgr.catalog.latestVersion("chirps-test").get
    assert(v3 != v2 && v4 != v3)
    val item4 = mgr.catalog.readItem("chirps-test", v4).get
    val links4 = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(item4 \ "links"))
    assert(links4.contains(v3) && !links4.contains(v4)) // prev ≠ self
  }

  test("dry run writes nothing (test_chirps.py:169-189)") {
    val d = DatasetDescriptor("dry", "precip", Category.Observation,
      None, DAY_US, ChunkGrid(10 * DAY_US, 500))
    val root = tmpDir("dry-store")
    val mgr = new DatasetManager(d, root, tmpDir("dry-cat"), spark, dryRun = true)
    assert(mgr.parse(mgr.normalize(cube(5, 2, 2))).isEmpty)
    assert(!mgr.store.hasExisting)
  }

  test("pre-parse QC rejects extreme values (publish.py:499-539)") {
    val d = DatasetDescriptor("qcx", "precip", Category.Observation,
      None, DAY_US, ChunkGrid(10 * DAY_US, 500))
    val mgr = new DatasetManager(d, tmpDir("qc-store"), tmpDir("qc-cat"), spark,
      extremeBounds = Some((0.0, 50.0)))
    intercept[IllegalArgumentException] {
      mgr.parse(mgr.normalize(cube(5, 2, 2))) // values go up to 400+
    }
  }

  test("NaN-frequency mismatch raises the typed error (errors.py:1-15)") {
    val s = spark; import s.implicits._
    val d = DatasetDescriptor("nanf", "precip", Category.Observation,
      Some(-9999.0), DAY_US, ChunkGrid(10 * DAY_US, 500))
    val mgr = new DatasetManager(d, tmpDir("nan-store"), tmpDir("nan-cat"), spark,
      expectedMissingFrequency = Some(0.5)) // truth is ~0.1
    // ~10% of cells carry the sentinel -> null after normalize
    val raw = cube(10, 4, 4).withColumn("precip",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.pmod(col("time"), lit(10 * DAY_US)) === 0,
        lit(-9999.0)).otherwise(col("precip")))
    intercept[graft.qc.NanFrequencyMismatchException] {
      mgr.parse(mgr.normalize(raw))
    }
    // matching expectation passes
    val ok = new DatasetManager(d, tmpDir("nan-store2"), tmpDir("nan-cat2"), spark,
      expectedMissingFrequency = Some(0.1))
    assert(ok.parse(ok.normalize(raw)).isDefined)
  }

  test("fused pre-QC: Wilson bounds equal missingFrequency's ci_lo/ci_hi bit for bit") {
    val s = spark; import s.implicits._
    val z = graft.qc.QualityChecks.Z_ALPHA_1E5
    for ((x, n) <- Seq((0L, 1L), (1L, 1L), (0L, 37L), (37L, 37L), (3L, 37L),
                       (1L, 3L), (100L, 1000L), (7L, 16200L))) {
      val df = (0L until n).map(i => if (i < x) None else Some(i.toDouble)).toDF("v")
        .withColumn("_g", lit(1))
      val r = graft.qc.QualityChecks.missingFrequency(df, "_g", col("v").isNull)
        .select("ci_lo", "ci_hi").collect()(0)
      val (lo, hi) = graft.qc.QualityChecks.wilson(x, n, z)
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(bits(lo) == bits(r.getDouble(0)) && bits(hi) == bits(r.getDouble(1)),
        s"(x=$x, n=$n): driver ($lo, $hi) vs frame (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
    // the fused pass keeps each check's message and order
    val d = DatasetDescriptor("fused", "precip", Category.Observation,
      Some(-9999.0), DAY_US, ChunkGrid(10 * DAY_US, 500))
    def mgr(bounds: Option[(Double, Double)], exp: Option[Double]) =
      new DatasetManager(d, tmpDir("fused-store"), tmpDir("fused-cat"), spark,
        extremeBounds = bounds, expectedMissingFrequency = exp)
    val cells = cube(10, 4, 4) // 160 cells, none missing, values 0..933
    assert(intercept[IllegalArgumentException] {
      mgr(Some((0.0, 50.0)), Some(0.5)).preParseQualityCheck(cells)
    }.getMessage.contains("update contains values outside [0.0, 50.0]"))
    assert(intercept[graft.qc.NanFrequencyMismatchException] {
      mgr(Some((0.0, 1000.0)), Some(0.5)).preParseQualityCheck(cells)
    }.getMessage.contains("expected missing frequency 0.500000 outside observed CI"))
    assert(intercept[IllegalArgumentException] {
      mgr(Some((0.0, 50.0)), Some(0.5)).preParseQualityCheck(cube(0, 2, 2))
    }.getMessage.contains("update has no times"))
    mgr(Some((0.0, 1000.0)), Some(0.01)).preParseQualityCheck(cells) // passes
  }

  test("catalog collection extent widens, never narrows (metadata.py:527-551)") {
    val cat = new StacCatalog(tmpDir("cat"), spark)
    cat.upsertCollection("c", Array(-10.0, -5.0, 10.0, 5.0), (100L, 200L))
    cat.upsertCollection("c", Array(-2.0, -2.0, 20.0, 2.0), (150L, 400L))
    val j = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        cat.readItem("c", "x").getOrElse(org.json4s.JNull)))
    val coll = scala.io.Source.fromFile(
      cat.collectionPath("c").toString.stripPrefix("file:")).mkString
    assert(coll.contains("-10.0") && coll.contains("20.0") &&
      coll.contains("100") && coll.contains("400"))
  }

  test("catalog files carry sha256 sidecars; corruption fails loudly, bare JSON stays readable") {
    val cat = new StacCatalog(tmpDir("cat-dig"), spark)
    cat.upsertCollection("c", Array(-10.0, -5.0, 10.0, 5.0), (100L, 200L))
    val p = cat.collectionPath("c").toString.stripPrefix("file:")
    // sidecar written and verifying
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p + ".sha256")))
    assert(cat.readCollection("c").isDefined)
    // flip a byte in the JSON body -> loud failure, not garbage metadata
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    bytes(10) = (bytes(10) ^ 0x01).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bytes)
    java.nio.file.Files.deleteIfExists( // local-FS crc sidecar; object stores have none
      java.nio.file.Paths.get(cat.collectionPath("c").getParent.toString
        .stripPrefix("file:"), "." + cat.collectionPath("c").getName + ".crc"))
    val ex = intercept[IllegalStateException] { cat.readCollection("c") }
    assert(ex.getMessage.contains("sha256"))
    // a file WITHOUT a sidecar (externally produced STAC) still reads
    java.nio.file.Files.delete(java.nio.file.Paths.get(p + ".sha256"))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      """{"type":"Collection","id":"c","links":[]}""".getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(cat.collectionPath("c").getParent.toString
        .stripPrefix("file:"), "." + cat.collectionPath("c").getName + ".crc"))
    assert(cat.readCollection("c").isDefined)
  }

  test("catalog tree is walkable: root -> collection -> item -> prev chain") {
    val d = DatasetDescriptor("walk-ds", "precip", Category.Observation,
      None, DAY_US, ChunkGrid(10 * DAY_US, 500))
    val mgr = new DatasetManager(d, tmpDir("walk-store"), tmpDir("walk-cat"), spark)
    mgr.parse(cube(10, 2, 2))                          // version 1
    mgr.parse(cube(2, 2, 2, startDay = 10))            // version 2 (append)
    val cat = mgr.catalog
    // root lists the collection as a child (exactly once)
    val rootLinks = cat.links(cat.readRoot().get)
    val children = rootLinks.filter(_._1 == "child")
    assert(children.map(_._2) == Seq(cat.collectionPath("walk-ds").toString))
    // collection lists both item versions
    val coll = cat.readCollection("walk-ds").get
    val itemHrefs = cat.links(coll).filter(_._1 == "item").map(_._2)
    assert(itemHrefs.length == 2, s"expected 2 item links, got $itemHrefs")
    // latest item's prev link points at the first version
    val latest = cat.latestVersion("walk-ds").get
    val latestItem = cat.readItem("walk-ds", latest).get
    val prevs = cat.links(latestItem).filter(_._1 == "prev").map(_._2)
    assert(prevs.length == 1 && itemHrefs.contains(prevs.head))
    // first version has no prev (chain terminates)
    val firstHref = prevs.head
    val firstVersion = firstHref.split('/').last.stripSuffix(".json")
    val firstItem = cat.readItem("walk-ds", firstVersion).get
    assert(cat.links(firstItem).forall(_._1 != "prev"))
    // and the collection extent survived the item linking (widen test
    // covers values; here: structure intact after addLink rewrites)
    assert((coll \ "extent" \ "spatial" \ "bbox") != org.json4s.JNothing)
  }

  test("registry resolves managers by name (dataset_manager.py:391-420)") {
    val d = DatasetDescriptor("reg-ds", "v", Category.Forecast,
      None, DAY_US, ChunkGrid(DAY_US, 10))
    DatasetManager.register(new DatasetManager(d, tmpDir("r"), tmpDir("rc"), spark))
    assert(DatasetManager.forName("reg-ds").exists(_.descriptor.category == Category.Forecast))
  }
}
