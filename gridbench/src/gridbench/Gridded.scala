package gridbench

import graft.etl.DatasetManager
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One gridded dataset (store + STAC catalog) under `root`, published
  * through `DatasetManager`. */
final class GridDataset(ctx: Ctx, val root: String, val grid: Grid) {
  val desc: DatasetDescriptor = DatasetDescriptor("precip", "precip",
    Category.Observation, missingValue = Some(grid.Sentinel),
    cadenceUs = grid.DayUs, chunk = ChunkGrid(30 * grid.DayUs, 2000000),
    attrs = Map("units" -> "mm"))
  val mgr = new DatasetManager(desc, s"$root/precip", s"$root/catalog",
    ctx.spark, extremeBounds = Some((0.0, 2000.0)),
    expectedMissingFrequency = Some(grid.missingShare))
  def store = mgr.store
  private val rec = ctx.rec

  def slab(d0: Long, nDays: Int): DataFrame =
    mgr.normalize(grid.slab(ctx.spark, d0, nDays))

  /** `DatasetManager.parse`. In a traced operation the same public steps
    * run one by one, in parse's order, each in its own layer span. */
  def parse(update: DataFrame): DatasetDescriptor = rec.layer("etl.parse") { _ =>
    if (!rec.tracing) mgr.parse(update).get
    else {
      rec.layer("qc.pre")(_ => mgr.preParseQualityCheck(update))
      val committed =
        if (!store.hasExisting)
          rec.layer("sources.write")(_ => store.writeInitial(update, desc))
        else rec.layer("sources.update")(_ => store.update(update))
      rec.layer("qc.post")(_ => mgr.postParseQualityCheck(update))
      rec.layer("catalog.publish")(_ => mgr.publishMetadata(committed))
      committed
    }
  }

  private def fs = new Path(root).getFileSystem(
    ctx.spark.sparkContext.hadoopConfiguration)

  /** Pinned files, their bytes, the latest manifest's bytes and the
    * version count. */
  def layout(): Map[String, Double] = {
    val files = store.snapshotFiles().getOrElse(Nil)
    val v = store.latestVersionNumber()
    Map(
      "files_pinned" -> files.size.toDouble,
      "pinned_bytes" -> files.map(f =>
        fs.getFileStatus(new Path(s"${store.root}/$f")).getLen).sum.toDouble,
      "manifest_bytes" -> fs.getFileStatus(
        new Path(store.versionsDir, f"v$v%06d.json")).getLen.toDouble,
      "versions" -> v.toDouble)
  }

  /** Committed range, live cell count and manifest version after
    * `commits` mutations covering days [0, days). */
  def checkCommitted(d: DatasetDescriptor, days: Long, commits: Int): Unit = {
    ctx.check(d.dateRange.contains((0L, grid.timeUs(days - 1))),
      s"committed range ${d.dateRange} != days [0, $days)")
    val n = store.read().count()
    ctx.check(n == days * grid.cells, s"store holds $n cells, expected ${days * grid.cells}")
    val v = store.latestVersionNumber()
    ctx.check(v == 2L * commits, s"manifest version $v after $commits commits")
  }

  /** Length of the STAC item chain reached from the latest item. */
  def stacChainLength(): Int = {
    val cat = mgr.catalog
    @annotation.tailrec
    def walk(v: Option[String], n: Int): Int = v match {
      case None => n
      case Some(ver) =>
        val item = cat.readItem(desc.name, ver).getOrElse(
          throw new CheckFailed(s"missing STAC item $ver"))
        walk(cat.links(item).collectFirst { case ("prev", href) =>
          href.split("/").last.stripSuffix(".json") }, n + 1)
    }
    walk(cat.latestVersion(desc.name), 0)
  }

  /** Whole-store fingerprint: live cells, non-null cells and a
    * position-weighted sum of the values in hundredths, compared with
    * the same three numbers from the generator. */
  def checkContent(days: Long): Unit = {
    val (n, nonNull, sum) = fingerprintOf(store.read())
    var eNonNull, eSum = 0L
    var d = 0L
    while (d < days) {
      var i = 0
      while (i < grid.nLat) {
        var j = 0
        while (j < grid.nLon) {
          grid.stored(d, i, j).foreach { v =>
            eNonNull += 1
            eSum += math.round(v * 100) * weight(d, i, j)
          }
          j += 1
        }
        i += 1
      }
      d += 1
    }
    ctx.check(n == days * grid.cells && nonNull == eNonNull && sum == eSum,
      s"store fingerprint ($n, $nonNull, $sum) != (${days * grid.cells}, $eNonNull, $eSum)")
  }

  private def weight(d: Long, i: Int, j: Int): Long =
    math.floorMod((d * grid.nLat + i) * grid.nLon + j, 1009L) + 1

  private def fingerprintOf(df: DataFrame): (Long, Long, Long) = {
    val day = (col("time") / grid.DayUs).cast("long")
    val i = round((col("latitude") + 35.0) * 4).cast("long")
    val j = round((col("longitude") + 20.0) * 4).cast("long")
    val w = pmod((day * grid.nLat + i) * grid.nLon + j, lit(1009L)) + 1
    val r = df.agg(count(lit(1)), count(col("precip")),
      coalesce(sum(round(col("precip") * 100).cast("long") * w), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Sequential 1-day appends through `DatasetManager.parse` onto a store
  * of `initialDays` days, with extreme-bounds and missing-frequency QC
  * and a STAC publish per append. */
final class DailyAppend(ctx: Ctx, dir: String, grid: Grid, initialDays: Int)
    extends Workload {
  private var ds: GridDataset = _
  private var days = 0L
  private var commits = 0

  def setup(k: Int): Unit = {
    ds = new GridDataset(ctx, s"$dir/daily_append_$k", grid)
    val update = ds.slab(0, initialDays)
    ctx.op("setup")(ds.parse(update)) { (d, _) =>
      days = initialDays; commits = 1
      ds.checkCommitted(d, days, commits)
    }
  }

  private def append(kind: String): Unit = {
    val update = ds.slab(days, 1)
    ctx.op(kind)(ds.parse(update)) { (d, span) =>
      days += 1; commits += 1
      ds.checkCommitted(d, days, commits)
      span.attrs ++= ds.layout()
      span.attrs("update_rows") = grid.cells.toDouble
    }
  }

  def warmup(): Unit = append("warmup")
  def step(i: Int): Unit = append("append")

  def finish(): Unit = ctx.op("final_check", layers = false)(()) { (_, _) =>
    val chain = ds.stacChainLength()
    ctx.check(chain == commits, s"STAC chain length $chain, expected $commits")
    ds.checkContent(days)
  }

  def facts: Map[String, Double] = Map(
    "initial_cells" -> initialDays.toDouble * grid.cells,
    "live_items" -> days.toDouble * grid.cells) ++ ds.layout()
}
