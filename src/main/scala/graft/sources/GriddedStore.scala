package graft.sources

import graft.model.{Bbox, ChunkGrid, DatasetDescriptor}
import graft.operators.UpdatePlanner
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Chunk-aligned, incrementally-updatable parquet store for tall gridded
  * data — the Spark-native analog of the reference's Zarr write paths
  * (`utils/publish.py:240-397`) and `StoreInterface` (`utils/store.py`).
  *
  * Layout:
  * {{{
  *   <root>/_versions/vNNNNNN.json  one claimed manifest per version
  *   <root>/_descriptor.json        the pointer: the committed manifest
  *   <root>/data/time_bucket=N/...  directory-partitioned parquet
  * }}}
  *
  * Scale design:
  *  - `time_bucket` (floor(time / timeBucketUs)) is the directory
  *    partition key → time predicates prune partitions; the bucket is the
  *    region-overwrite granularity, playing the reference's Dask-chunk
  *    role, while `maxRecordsPerFile` bounds file size (the Zarr-chunk
  *    role) — `docs/etl_developers_manual.md:133-155`.
  *  - rows are range-partitioned on (bucket, last spatial dim — longitude
  *    for every category) and sorted within partitions by the full dim
  *    order, so parquet row-group min/max stats support spatial skipping
  *    inside a time bucket.
  *  - inserts rewrite ONLY affected buckets (dynamic partition overwrite
  *    with an existing-rows merge) — the analog of Zarr `region=` writes
  *    (`publish.py:332-371`); appends just add files/partitions.
  *  - all driver-side logic touches only the distinct time axis and the
  *    descriptor; cell data never reaches the driver. A write plans from
  *    the update's [[UpdateProfile]]: one aggregate grouped by time
  *    (bounded by [[UpdatePlanner.DefaultMaxAxis]] times, refused above
  *    it) that `DatasetManager.parse` takes once over its pinned update
  *    and shares with its pre-parse checks. From it an update plans the
  *    insert/append split on the driver, like the reference's in-memory
  *    time coordinate (`prepare_update_times`, `publish.py:303-330`), and
  *    an initial write takes its date range and bbox; a pure append
  *    (every time after the committed end) reads no store data.
  *  - reads and commits take the data schema from the manifest, and the
  *    writes that replace every file record the schema of the frame they
  *    wrote, so none builds a frame or commits through a parquet footer
  *    inference job.
  *  - every data commit records the spatial bbox of what it pins, so the
  *    STAC extent is the manifest's bbox and date range, not a scan: an
  *    update only adds or replaces cells, so its bbox is the anchor's
  *    widened by the update's profile.
  *
  * A manifest ([[GridManifest]]) is the descriptor (the .zmetadata
  * analog) plus the version's pinned files, data schema and bbox.
  * Writes use a two-phase descriptor commit (`update_in_progress`,
  * `publish.py:152-180`): readers treat a store whose descriptor has
  * `updateInProgress=true` as mid-update.
  *
  * Snapshot isolation: every committed manifest version records the exact
  * data-file list that constitutes it, and `read()` scans THAT list (not
  * the directory). Mutations only ever ADD files — inserts/compaction
  * write replacement files next to the old ones and retire the old ones
  * by omitting them from the next manifest; nothing is deleted until
  * `vacuum()`. So a reader pinned to version N is unaffected by a
  * concurrent (or crashed) mutation, and `readAt(N)` is data time travel
  * within the vacuum retention window — the pointer-swap atomicity the
  * reference gets from IPNS, extended to the data files themselves.
  */
class GriddedStore(val root: String, private[sources] val spark: SparkSession) {

  /** The manifest ladder and pointer, and the commit primitives,
    * selected by a capability check AT OPEN: schemes without atomic
    * exclusive-create + atomic rename (s3a and friends) are rejected
    * here unless a [[ConditionalStore]] commit mode is configured — the
    * MVCC guarantees must fail loudly, never silently degrade to
    * copy+delete "renames" (see [[CommitProtocol]]). */
  private[graft] val log =
    new SnapshotLog(spark, root, "_versions", "v", "_descriptor.json")
  private[sources] def fs: FileSystem = log.fs
  private[sources] def commits: CommitProtocol = log.commits

  def descriptorPath: Path = log.pointer
  def dataPath: String = s"$root/data"

  /** `store.has_existing` (`utils/store.py`). */
  def hasExisting: Boolean = log.hasPointer

  /** The committed manifest. Reads resolve through the pointer, not the
    * claim listing: a crashed commit's zero-byte/partial claim file must
    * never redirect or brick `read()` — the pointer swap is atomic, so
    * this is always a whole committed manifest. */
  def manifest(): Option[GridManifest] = log.readPointer().map(GridManifest.parse)

  /** Manifest version `v` — metadata and data time travel (the
    * IPNS-pointer-history analog; the reference walks item `prev` links
    * for the same need). None when `v` was never claimed and for a
    * zero-byte/partial claim left by a crashed commit; a claim that
    * fails its digest throws. */
  def manifestAt(v: Long): Option[GridManifest] =
    log.readClaim(v).flatMap(j => scala.util.Try(GridManifest.parse(j)).toOption)

  def readDescriptor(): Option[DatasetDescriptor] = manifest().map(_.descriptor)

  /** Data-file list pinned by the COMMITTED pointer. */
  def snapshotFiles(): Option[Seq[String]] = manifest().flatMap(_.files)

  def readDescriptorAt(v: Long): Option[DatasetDescriptor] = manifestAt(v).map(_.descriptor)

  /** Root-relative data-file list pinned by manifest version `v`. None
    * for versions written before file tracking (legacy), a fresh store,
    * or an unparseable crashed-commit claim. */
  def snapshotFilesAt(v: Long): Option[Seq[String]] = manifestAt(v).flatMap(_.files)

  /** The committed pointer's bbox and date range — the STAC extent as
    * recorded by the commit, read without touching data. None when the
    * manifest records no bbox (see [[GridManifest]]). */
  def committedExtent(): Option[(Bbox, (Long, Long))] =
    manifest().flatMap(m => for (b <- m.bbox; r <- m.descriptor.dateRange) yield (b, r))

  /** All manifest versions, ascending. */
  def descriptorHistory(): Seq[(Long, DatasetDescriptor)] =
    (1L to latestVersionNumber()).flatMap(v => readDescriptorAt(v).map(v -> _))

  // ---- versioned descriptor manifest ------------------------------------

  def versionsDir: Path = log.claims

  /** Highest committed manifest version (0 for a fresh store). */
  def latestVersionNumber(): Long = log.latest()

  /** Newest manifest version whose descriptor is COMMITTED
    * (updateInProgress = false) — the writer-side snapshot anchor.
    * The POINTER can lag the version ladder (a competitor has written
    * its commit manifest but not yet executed the pointer swap), so a
    * mutation that snapshots through the pointer can base its survivor
    * math on pre-competitor state and silently revert the competitor's
    * commit — a lost update (found by StoreConcurrencySpec). Mutations
    * anchor to this instead; readers keep the cheap pointer. 0 when no
    * committed version exists (fresh store or legacy layout). */
  private[sources] def latestCommittedVersion(): Long =
    committedAtOrBelow(latestVersionNumber()).fold(0L)(_._1)

  /** The newest committed claim numbered `v` or lower, with its manifest. */
  private def committedAtOrBelow(v: Long): Option[(Long, GridManifest)] =
    (v to 1L by -1L).iterator.map(n => n -> manifestAt(n))
      .collectFirst { case (n, Some(m)) if !m.descriptor.updateInProgress => n -> m }

  /** The writer-side snapshot of a mutation: ONE committed manifest,
    * from which descriptor, file list, data schema and data scan all
    * come. Its commits are copies of [[manifest]]. */
  private[sources] final class Anchor(val manifest: GridManifest) {
    def descriptor: DatasetDescriptor = manifest.descriptor
    /** The pinned file list; a legacy manifest pins none, so the data
      * directory's listing stands in. */
    lazy val files: Seq[String] = manifest.files.getOrElse(listDataFiles(None).toSeq)
    def scan(): DataFrame = pinnedScan(Some(manifest))
    /** The recorded bbox; a manifest older than the field computes it
      * from its data once, and the mutation's commit records it. */
    lazy val bbox: Option[Bbox] = manifest.bbox.orElse(GriddedStore.bboxOf(scan()))
    /** The mutation's first phase, claimed at `base + 1` before any data
      * write: the same pin, schema and bbox under the in-progress flag. */
    def claim: GridManifest = manifest.inProgress.copy(files = Some(files))
  }

  /** The anchor of a mutation that captured `base` (the
    * `latestVersionNumber()` it claims above): the newest committed claim
    * at or below `base` (see [[latestCommittedVersion]]), else the
    * `pointer` (legacy layout). */
  private[sources] def anchor(base: Long, pointer: GridManifest): Anchor =
    new Anchor(committedAtOrBelow(base).fold(pointer)(_._2))

  /** Recover from a crashed writer: re-point the committed pointer at
    * the latest COMMITTED manifest, clearing a stuck in-progress flag.
    *
    * Always safe, no liveness proof needed: the latest committed
    * version IS the current correct state (an in-progress claim never
    * changed reader-visible data), and a writer that turns out to be
    * alive after all still commits through its own claim — worst case
    * its refusal-gate was cleared early and a third writer starts,
    * which the claim ladder serializes exactly as usual. Data files of
    * the crashed attempt are unpinned orphans; `vacuum()` reclaims
    * them. Returns the restored descriptor; no-op when the pointer is
    * already clean. */
  def repair(): DatasetDescriptor = {
    val pd = readDescriptor().getOrElse(
      throw new IllegalStateException(s"no existing dataset at $root"))
    if (!pd.updateInProgress) return pd
    val v = latestCommittedVersion()
    if (v <= 0)
      throw new IllegalStateException(
        s"store at $root has no committed manifest to repair to " +
          "(crashed during its initial write?); rebuild with writeInitial")
    // re-publish the committed manifest verbatim (file list and schema
    // included)
    GridManifest.parse(log.republish(v)).descriptor
  }

  /** The data of one manifest (`None`: no manifest, i.e. legacy), read
    * through [[SnapshotLog.scan]] with the manifest-recorded schema. */
  private def pinnedScan(m: Option[GridManifest]): DataFrame =
    log.scan(m.flatMap(_.files), m.flatMap(_.dataSchema), dataPath, basePath = Some(dataPath))

  /** Metadata-only commit (`store.write_metadata_only`,
    * `store.py:702-717`): the next version after the ladder's newest
    * pins the COMMITTED POINTER's files, schema and bbox under
    * descriptor `d` (not the latest claim's — an orphaned claim from a
    * crashed commit has no committed standing). An explicit `files`
    * list keeps the pointer's schema and records no bbox: the extent
    * falls back to a scan of the pinned data.
    *
    * DATA mutations must NOT use this: they claim FIXED version numbers
    * captured at mutation start ([[commitAt]] `base + 1`, `base + 2`),
    * so two interleaved mutations collide on the same claim file and
    * exactly one wins — numbering at commit time here would let the
    * slower writer commit a manifest built from its stale file-list
    * snapshot, silently dropping the faster writer's files. */
  def writeDescriptor(d: DatasetDescriptor,
                      files: Option[Seq[String]] = None): Unit = {
    val pointer = manifest().getOrElse(GridManifest(d)).copy(descriptor = d)
    commitAt(latestVersionNumber() + 1,
      files.fold(pointer)(fl => pointer.copy(files = Some(fl), bbox = None)))
  }

  /** The one commit: claim version `v` with `next` and swap the pointer
    * to it, the two-layer commit of [[SnapshotLog]]. A mutation claims
    * `base + 1` (its anchor's [[Anchor.claim]]) before writing data and
    * commits at `base + 2`; two writers that captured the same base
    * race to claim the same file, and the loser gets
    * ConcurrentModificationException before touching the pointer.
    *
    * The file list is written sorted and a non-finite bbox is dropped.
    * A non-empty pin without a recorded schema derives it from the
    * pinned files: one footer-inference job (a legacy anchor's, or a pin
    * of only the null bucket); initial writes and surgery record
    * [[pinSchema]], every other commit copies its anchor's. */
  private[sources] def commitAt(v: Long, next: GridManifest): Unit =
    log.commit(v, next.copy(
      files = next.files.map(_.sorted),
      dataSchema = next.dataSchema.orElse(next.files.filter(_.nonEmpty).flatMap(fl =>
        scala.util.Try(spark.read.option("basePath", dataPath)
          .parquet(fl.map(f => s"$root/$f"): _*).schema).toOption)),
      bbox = next.bbox.filter(_.toArray.forall(x => !x.isNaN && !x.isInfinite))).json)

  /** Lazy scan of the store as of the COMMITTED POINTER — reads exactly
    * the pinned file list, so uncommitted / crashed-writer / retired
    * files are invisible, and a crashed commit's partial CLAIM file
    * cannot brick or redirect reads (the pointer swap is atomic).
    * Partition pruning applies to any time_bucket / time predicates
    * stacked on top (`basePath` keeps the directory-partition column
    * live on an explicit file list). */
  def read(): DataFrame = pinnedScan(manifest())

  /** The store as of manifest version `v` — data time travel. Valid
    * while `v` is inside the `vacuum` retention window; reading a
    * vacuumed version fails on the missing files. Falls back to a
    * directory scan for pre-file-tracking (legacy) versions. */
  def readAt(v: Long): DataFrame = pinnedScan(manifestAt(v))

  /** [[read]] confined to the given times: pruned to their buckets
    * (computed on the driver, [[ChunkGrid.bucketOf]]) and to `time IN
    * times`, so a read-back of a few sampled cells opens only their
    * buckets' files and skips row groups by the time statistics. */
  def readTimes(times: Seq[Long]): DataFrame = {
    val m = manifest().getOrElse(
      throw new IllegalStateException(s"no existing dataset at $root"))
    val d = m.descriptor
    val ts = times.distinct
    pinnedScan(Some(m)).filter(
      col("time_bucket").isin(ts.map(ChunkGrid.bucketOf(_, d.chunk.timeBucketUs)).distinct: _*) &&
        col(d.timeDim).isin(ts: _*))
  }

  /** Root-relative paths of the data files now on disk, confined to the
    * given buckets (all buckets when None). Mutations diff this
    * before/after their write to learn which files the write created —
    * listing stays O(files in affected buckets), the manifest-maintenance
    * cost any file-pinning table format pays at commit time. */
  private[sources] def listDataFiles(buckets: Option[Seq[Long]] = None): Set[String] = {
    val dataP = new Path(dataPath)
    val dirs = buckets match {
      case Some(bs) => bs.map(b => new Path(dataP, s"time_bucket=$b"))
      case None =>
        if (!fs.exists(dataP)) Nil
        else fs.listStatus(dataP).filter(_.isDirectory).map(_.getPath).toSeq
    }
    dirs.flatMap(log.listFiles).toSet
  }

  /** Delete data files not referenced by the newest `retainLast`
    * manifests (crashed-writer orphans included) and return their
    * root-relative paths. Time travel older than the retained window is
    * forfeited; metadata history (`readDescriptorAt`) survives in full.
    *
    * Concurrency: refuses to run mid-update, and FENCES the delete on
    * the claim counter — every mutation claims its in-progress version
    * BEFORE writing any data file, so if `latestVersionNumber()` has
    * moved between the file listing and the delete, a writer may have
    * landed files into the listed set and vacuum aborts (rerun when the
    * writer finishes). A writer that claims after the fence check can
    * only have written files after the listing, which are therefore not
    * in the doomed set. The committed pointer's file list is always
    * protected explicitly, even when orphaned claims crowd the retained
    * number window. */
  def vacuum(retainLast: Int = 2): Seq[String] =
    vacuum(retainLast, dryRun = false)

  /** `dryRun = true` reports the doomed file list without deleting —
    * the look-before-you-leap every destructive maintenance command
    * needs (same fences and refusals as the real run, so a dry run that
    * succeeds means the real run would have, too). */
  def vacuum(retainLast: Int, dryRun: Boolean): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val pm = manifest().getOrElse(
      throw new IllegalStateException(s"no existing dataset at $root"))
    if (pm.descriptor.updateInProgress)
      throw new IllegalStateException(
        s"store at $root has an update in progress; vacuum would delete " +
          "its in-flight files")
    val fence = latestVersionNumber()
    val pointerFiles = pm.files.getOrElse(
      throw new IllegalStateException(
        s"committed manifest records no file list (legacy store); " +
          "vacuum would treat every data file as an orphan"))
    val referenced = (math.max(1L, fence - retainLast + 1) to fence)
      .flatMap(v => snapshotFilesAt(v).getOrElse(Nil)).toSet ++ pointerFiles
    // crashed writers' staging dirs: writeBuckets stages strictly
    // between claim and commit, and vacuum refuses while ANY writer is
    // in progress (the pointer-flag check above), so every dir still
    // under _staging/ here belongs to a crashed attempt
    val stagingRoot = new Path(root, "_staging")
    val staleStaging =
      if (!fs.exists(stagingRoot)) Seq.empty[String]
      else fs.listStatus(stagingRoot).map(s => s"_staging/${s.getPath.getName}").toSeq.sorted
    val doomed = (listDataFiles(None) -- referenced).toSeq.sorted ++ staleStaging
    if (latestVersionNumber() != fence)
      throw new java.util.ConcurrentModificationException(
        s"a writer claimed a manifest version during vacuum at $root; " +
          "rerun when it finishes")
    if (!dryRun) doomed.foreach(f =>
      fs.delete(new Path(root, f), f.startsWith("_staging/")))
    doomed
  }

  /** Commit diff between two manifest versions as a change feed: the
    * rows of files ADDED after `fromV` up to `toV` tagged
    * `_change_type = "insert"`, and rows of files RETIRED in that window
    * tagged `"delete"`. This is file-granularity CDC — the standard
    * "commit diff" a file-pinning table format can serve without a
    * row-level log: an incremental consumer reads ONLY the delta files
    * (an append commit diffs to just its new bucket files; a region
    * correction to the one rewritten bucket), never the table. A row
    * rewritten byte-identically inside a rewritten bucket appears as
    * delete+insert; consumers wanting net row changes anti-join the two
    * sides — that cost is theirs to opt into, bounded by the delta.
    *
    * Valid while both versions are inside the `vacuum` retention window
    * (reading reclaimed files fails on the missing file, loudly).
    * Refuses legacy manifests that pin no file list: a directory-scan
    * fallback would diff to "everything changed" and silently flood the
    * consumer. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes($fromV, $toV): fromV must be <= toV")
    def pinned(v: Long): (GridManifest, Set[String]) =
      manifestAt(v).flatMap(m => m.files.map(m -> _.toSet)).getOrElse(
        throw new IllegalArgumentException(
          s"manifest v$v at $root pins no file list (legacy or never " +
            "committed); the commit diff is undefined"))
    val (fromM, from) = pinned(fromV)
    val (toM, to) = pinned(toV)
    // each side reads with its own version's recorded schema: building
    // the diff infers nothing, and an empty side is a zero-row frame
    def tagged(m: GridManifest, files: Set[String], tag: String): DataFrame =
      log.scan(Some(files.toSeq.sorted), m.dataSchema, dataPath, basePath = Some(dataPath))
        .withColumn("_change_type", lit(tag))
    tagged(toM, to -- from, "insert").unionByName(tagged(fromM, from -- to, "delete"))
  }

  /** Row-level NET changes between two versions: [[changes]] with the
    * rewritten-but-identical rows cancelled out (a bucket rewrite's
    * unchanged survivors appear in both tagged sets and annihilate).
    * Costs two anti-joins BOUNDED BY THE DELTA — the consumer opts into
    * that per-delta cost instead of the per-table cost a full-snapshot
    * diff would be. */
  def changesNet(fromV: Long, toV: Long): DataFrame = {
    val diff = changes(fromV, toV)
    val ins = diff.filter(col("_change_type") === "insert").drop("_change_type")
    val del = diff.filter(col("_change_type") === "delete").drop("_change_type")
    ins.exceptAll(del).withColumn("_change_type", lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn("_change_type", lit("delete")))
  }

  // ---- write paths ------------------------------------------------------

  private def prepared(df: DataFrame, d: DatasetDescriptor): DataFrame = {
    val cols = (d.dims :+ d.dataVar).map(col)
    df.select(cols: _*)
      .withColumn("time_bucket",
        graft.model.ChunkGrid.bucketExpr(d.timeDim, d.chunk.timeBucketUs))
  }

  /** The single write discipline for store data: range partition on
    * (bucket, last spatial dim), sort within partitions by the full dim
    * order (establishes the row-group min/max skipping property), bound
    * file sizes, directory-partition by bucket. Every path that lands
    * rows in the store must go through here — including
    * [[EncodingSurgery]]'s rewrite.
    *
    * Mutations only ADD files even when REPLACING rows: old files
    * stay on disk for pinned readers and the replacement is the next
    * manifest omitting them (see the class doc). That also removes the
    * self-overwrite hazard the round-1/2 staging dance existed for — the
    * input can read the very buckets being rewritten, because nothing is
    * deleted until `vacuum`.
    *
    * The write itself goes through a JOB-UNIQUE staging directory, then
    * per-file renames into the partition layout under job-prefixed
    * names. Two reasons, both found by StoreConcurrencySpec:
    *  - concurrent mutations writing straight into data/ share the
    *    Hadoop committer's `_temporary` root, and one job's
    *    commit/cleanup destroys the other's staged files mid-write;
    *  - the created-file set must be KNOWN, not diffed from directory
    *    listings: a before/after diff can capture a CONCURRENT job's
    *    files into this mutation's manifest, double-pinning the
    *    competitor's rows after its retry.
    * Returns the root-relative paths of exactly the files this call
    * created (reader-invisible until a manifest pins them). */
  private[sources] def writeBuckets(df: DataFrame,
                                    d: DatasetDescriptor): Seq[String] = {
    val sortCols = col("time_bucket") +: d.dims.map(col)
    val jobId = java.util.UUID.randomUUID().toString
    val staging = new Path(root, s"_staging/$jobId")
    df.repartitionByRange(col("time_bucket"), col(d.dims.last))
      .sortWithinPartitions(sortCols: _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", d.chunk.maxRecordsPerFile)
      .partitionBy("time_bucket")
      .parquet(staging.toString)
    val dataP = new Path(dataPath)
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val bucketDirs =
        if (!fs.exists(staging)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else fs.listStatus(staging)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("time_bucket="))
      bucketDirs.foreach { b =>
        val destDir = new Path(dataP, b.getPath.getName)
        fs.mkdirs(destDir)
        fs.listStatus(b.getPath).foreach { f =>
          val n = f.getPath.getName
          if (!n.startsWith("_") && !n.startsWith(".")) {
            val dest = new Path(destDir, s"$jobId-$n")
            if (!fs.rename(f.getPath, dest))
              throw new java.io.IOException(
                s"failed to move staged file ${f.getPath} to $dest")
            moved += s"data/${b.getPath.getName}/$jobId-$n"
          }
        }
      }
    } finally fs.delete(staging, true)
    moved.toSeq
  }

  /** Initial parse (`write_initial_zarr`, `publish.py:240-261`). Also
    * the REBUILD path over an existing store: the write is append-mode
    * (new files land NEXT to any old generation — never a
    * directory-clearing overwrite, which would break pinned readers and
    * leave a mid-crash store pointing at deleted files) and the final
    * manifest pins only the fresh files; a superseded generation is
    * retired by the swap and reclaimed by `vacuum`. */
  def writeInitial(df: DataFrame, d: DatasetDescriptor): DatasetDescriptor =
    writeInitial(df, d, UpdateProfile.of(df, d))

  /** [[writeInitial]] of a profiled frame: the profile gives the
    * emptiness guard, the date range and the bbox, so the data is read
    * once more, by the write (and, like an update, an axis above
    * [[UpdatePlanner.DefaultMaxAxis]] times is refused by the profile).
    * Empty initial data would brick the store (descriptor committed,
    * date range undefined) — refused pre-mutation. */
  private[graft] def writeInitial(df: DataFrame, d: DatasetDescriptor,
                                  profile: UpdateProfile): DatasetDescriptor = {
    if (profile.rows == 0L)
      throw new IllegalArgumentException("initial dataset is empty")
    val range = profile.dateRange.getOrElse(
      throw new IllegalArgumentException("initial dataset has no times"))
    val p = prepared(df, d)
    val base = latestVersionNumber()
    // a rebuild's claim keeps the pointer's pin: readers stay on it
    commitAt(base + 1, manifest().fold(GridManifest(d))(_.copy(descriptor = d)).inProgress)
    val fresh = writeBuckets(p, d)
    val committed = d.copy(
      dateRange = Some(range),
      updateInProgress = false,
      updateIsAppendOnly = None,
      updatePreviousEndUs = None)
    commitAt(base + 2, GridManifest(committed, Some(fresh), pinSchema(p, fresh), profile.bboxAll))
    committed
  }

  /** The schema a scan of `files`, written from `written` by
    * [[writeBuckets]], would infer from their footers and paths: the
    * written columns as [[SnapshotLog.writtenSchema]] records them, then
    * `time_bucket` typed by Spark's partition-value rule — IntegerType
    * when every bucket directory of the pin holds an Int, LongType
    * otherwise. None when the pin names no bucket value (it is empty, or
    * holds only the null bucket); [[commitAt]] then infers. */
  private[sources] def pinSchema(written: DataFrame, files: Seq[String]): Option[StructType] = {
    val buckets = files.flatMap(_.split('/').collectFirst {
      case dir if dir.startsWith("time_bucket=") => dir.stripPrefix("time_bucket=")
    }).flatMap(_.toLongOption)
    Option.when(buckets.nonEmpty)(StructType(
      SnapshotLog.writtenSchema(written).filterNot(_.name == "time_bucket") :+
        StructField("time_bucket",
          if (buckets.forall(_.isValidInt)) IntegerType else LongType)))
  }

  /** Small-file compaction: rewrite the given time buckets (default all)
    * at the target file size. Repeated appends leave one file per append
    * per bucket; compaction restores the chunk-grid invariant (the
    * reference's rechunk-alignment concern, SURVEY §4 "rechunk-alignment
    * regression") without touching untargeted buckets. */
  def compact(buckets: Seq[Long] = Nil): DatasetDescriptor = {
    val pm = manifest().getOrElse(
      throw new IllegalStateException(s"no existing dataset at $root"))
    // compact must not launder a crashed writer's flag into a "clean"
    // store — it's a mutation path like update()/surgery.
    if (pm.descriptor.updateInProgress)
      throw new IllegalStateException(
        s"store at $root has an update in progress (crashed writer?); " +
          "repair or rebuild before compacting")
    val base = latestVersionNumber()
    // version-ladder snapshot, not the pointer (see latestCommittedVersion)
    val a = anchor(base, pm)
    val d = a.descriptor
    val target =
      if (buckets.nonEmpty) buckets
      else a.scan().select(col("time_bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq
    // compaction rewrites rows, never columns: the schema carries forward
    commitAt(base + 1, a.claim)
    // One distributed pass: the scan reads the pinned (old) files and the
    // write creates new ones next to them — no staging table, no
    // self-overwrite cycle, because the old files outlive the job and are
    // retired only by the manifest swap below.
    val src = (if (buckets.nonEmpty)
        a.scan().filter(col("time_bucket").isin(target: _*))
      else a.scan())
      .select((d.dims :+ d.dataVar).map(col) :+ col("time_bucket"): _*)
    val fresh = writeBuckets(src, d)
    val targetDirs = target.map(b => s"data/time_bucket=$b/")
    val pinned = a.files.filterNot(f => targetDirs.exists(f.startsWith)) ++ fresh
    val committed = d.copy(updateInProgress = false)
    commitAt(base + 2, a.manifest.copy(descriptor = committed, files = Some(pinned), bbox = a.bbox))
    committed
  }

  /** Incremental update (`update_zarr`, `publish.py:265-301`): split the
    * update's times into inserts (∩ existing) and appends (− existing),
    * run the update QC gates, rewrite affected buckets, append the rest,
    * two-phase-commit the descriptor.
    *
    * Planning happens on the driver over the time axis only
    * ([[GriddedStore.planUpdate]]): the update is pinned for the call
    * and profiled once ([[UpdateProfile]]: its distinct times, bounded by
    * [[UpdatePlanner.DefaultMaxAxis]], a larger axis refused), and when
    * every time lies after the committed end the update is a pure append
    * that reads no store data. Otherwise one scan of the anchored
    * snapshot, pruned to the update's `[lo, hi]`, supplies the existing
    * times to split against. The profile also gives the update's bbox;
    * the commit records the anchor's bbox widened by it.
    */
  def update(updateDf: DataFrame, allowOverwrite: Boolean = true): DatasetDescriptor =
    update(updateDf, allowOverwrite, None)

  /** [[update]] of a frame the caller has already pinned and profiled
    * (`profiled`), or — None — one this call pins and profiles itself. */
  private[graft] def update(updateDf: DataFrame, allowOverwrite: Boolean,
                            profiled: Option[UpdateProfile]): DatasetDescriptor = {
    val pm = manifest().getOrElse(
      throw new IllegalStateException(s"no existing dataset at $root"))
    // A crashed writer leaves updateInProgress=true; refuse to stack a new
    // update on a half-written store (the reader-visible face of the
    // two-phase flag, `publish.py:152-180`).
    if (pm.descriptor.updateInProgress)
      throw new IllegalStateException(
        s"store at $root has an update in progress — either a LIVE " +
          "concurrent writer (retry shortly) or a crashed one (the flag " +
          "never clears; repair or rebuild). Reads are unaffected either " +
          "way: the pointer still pins the last committed file list")
    val base = latestVersionNumber() // fixed claim base: see commitAt
    // snapshot ANCHORED to the version ladder, never the pointer (see
    // latestCommittedVersion): descriptor, data frame, file list and
    // schema all come from the same committed manifest
    val a = anchor(base, pm)
    val d = a.descriptor
    val t = d.timeDim
    def bucketOf(time: Long): Long = ChunkGrid.bucketOf(time, d.chunk.timeBucketUs)
    val p = prepared(updateDf, d)
    if (profiled.isEmpty) p.cache()
    try {
      val profile = profiled.getOrElse(UpdateProfile.of(p, d))
      val plan = GriddedStore.planUpdate(d, profile.times,
        (lo, hi) => GriddedStore.collectAxis(a.scan()
          .filter(col("time_bucket").between(bucketOf(lo), bucketOf(hi)) &&
            col(t).between(lo, hi)), t),
        allowOverwrite)
      val (dsStart, dsEnd) = d.dateRange.get // planUpdate refused None
      // Everything below only ADDS files: replaced rows are retired by
      // the manifest swap at commit, not deleted — so the survivor frame
      // may lazily read the very buckets being rewritten (no staging
      // table, no FILE_NOT_EXIST window), pinned readers are untouched,
      // and a crash leaves only orphans for vacuum. An update rewrites
      // rows, never columns, so the anchor's schema carries forward.
      commitAt(base + 1, a.claim)

      val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
      // one entry per affected bucket, computed from the planned times
      val insertBuckets = plan.inserts.map(bucketOf).distinct
      if (plan.inserts.nonEmpty) {
        // Region replace: for each affected bucket, merge surviving
        // existing rows with the update rows and write the merged bucket
        // as NEW files (the `region=` write, `publish.py:332-371`).
        // Survivorship is CELL-keyed (anti-join on the full dim tuple):
        // a correction covering a spatial subset of a day replaces only
        // the cells it provides, like the reference's zarr hyperslab
        // region write — a time-keyed survivor rule would silently drop
        // the rest of the partially-updated slice. The anti-join is
        // bucket-confined on both sides; Spark broadcasts the update
        // keys when they fit and falls back to a shuffled join keyed on
        // the dims when a correction is genuinely bucket-sized.
        val insertRows = p.filter(col(t).isin(plan.inserts: _*))
        val survivors = a.scan()
          .filter(col("time_bucket").isin(insertBuckets: _*))
          .join(insertRows.select(d.dims.map(col): _*), d.dims, "left_anti")
          .select((d.dims :+ d.dataVar).map(col) :+ col("time_bucket"): _*)
        fresh ++= writeBuckets(survivors.unionByName(insertRows), d)
      }
      // A pure append's times are all of the update's non-null ones, so
      // its filter names none: `isin` would inline each append's own
      // times into generated code, compiled afresh for every append.
      if (plan.appends.nonEmpty)
        fresh ++= writeBuckets(p.filter(
          if (plan.inserts.isEmpty) col(t).isNotNull else col(t).isin(plan.appends: _*)), d)

      // New manifest: committed files minus the replaced insert buckets,
      // plus exactly the files the two writes above created.
      val insertDirs = insertBuckets.map(b => s"data/time_bucket=$b/")
      val pinned = a.files.filterNot(f => insertDirs.exists(f.startsWith)) ++ fresh.toSeq

      val committed = d.copy(
        dateRange = Some((dsStart, math.max(dsEnd, plan.hi))),
        updateInProgress = false,
        updatePreviousEndUs = Some(dsEnd),
        updateIsAppendOnly = Some(plan.inserts.isEmpty))
      // exact: survivorship is cell-keyed, so every replaced cell's
      // coordinates are also the update's
      val bbox = (a.bbox ++ profile.bbox).reduceOption(_ union _)
      commitAt(base + 2, a.manifest.copy(descriptor = committed, files = Some(pinned), bbox = bbox))
      committed
    } finally if (profiled.isEmpty) p.unpersist()
  }
}

object GriddedStore {

  /** An update's distinct times, ascending, split against the store's:
    * `inserts` exist already (region rewrite), `appends` do not. */
  final case class UpdatePlan(inserts: Seq[Long], appends: Seq[Long]) {
    def hi: Long = (inserts ++ appends).max
  }

  /** Distinct non-null values of `key`, collected to the driver. The
    * planner works on the time axis, which is small by construction
    * (the reference holds it in memory as a coordinate array); an axis
    * above `maxAxis` is cell data, not a time axis, and is refused
    * loudly instead of being pulled onto the driver. */
  def collectAxis(df: DataFrame, key: String,
                  maxAxis: Long = UpdatePlanner.DefaultMaxAxis): Seq[Long] = {
    val ax = df.where(col(key).isNotNull).select(col(key).cast("long")).distinct()
      .limit(math.min(maxAxis + 1, Int.MaxValue.toLong).toInt).collect()
    requireAxis(ax.length, key, maxAxis)
    ax.toSeq.map(_.getLong(0))
  }

  /** Refuses an axis of `n` > `maxAxis` distinct values. */
  private[sources] def requireAxis(n: Int, key: String, maxAxis: Long): Unit =
    require(n <= maxAxis,
      s"distinct axis for '$key' has more than $maxAxis values — the " +
        "update planner collects the time axis to the driver and is for " +
        "time axes, not cell data")

  /** min/max of longitude and latitude in [[Bbox]] order, as doubles
    * (every category's dims include both). */
  private[sources] val bboxAggs: Seq[Column] = Seq(
    min(col("longitude").cast("double")), min(col("latitude").cast("double")),
    max(col("longitude").cast("double")), max(col("latitude").cast("double")))

  /** The [[bboxAggs]] values at `i`; None when they are null (no row). */
  private[sources] def bboxAt(r: Row, i: Int): Option[Bbox] =
    if ((i until i + 4).exists(r.isNullAt)) None
    else Some(Bbox(r.getDouble(i), r.getDouble(i + 1), r.getDouble(i + 2), r.getDouble(i + 3)))

  /** The bbox of a frame: one aggregate; None for an empty frame. */
  private[sources] def bboxOf(df: DataFrame): Option[Bbox] =
    bboxAt(df.agg(bboxAggs.head, bboxAggs.tail: _*).collect()(0), 0)

  /** The update planner (`prepare_update_times`, `publish.py:303-330`,
    * plus `update_quality_check`, `publish.py:604-652`), over the
    * driver-side time axis. `existingIn(lo, hi)` returns the store's
    * distinct times in `[lo, hi]`; it is not called when every update
    * time lies after the committed end (a pure append). Throws on an
    * empty update, times before the dataset start, inserts when
    * `allowOverwrite` is false, and an append run that is not one
    * contiguous cadence-regular run adjacent to the committed end. */
  def planUpdate(d: DatasetDescriptor, updateTimes: Seq[Long],
                 existingIn: (Long, Long) => Seq[Long],
                 allowOverwrite: Boolean = true): UpdatePlan = {
    val (dsStart, dsEnd) = d.dateRange.getOrElse(
      throw new IllegalStateException("existing store has no committed date range"))
    if (updateTimes.isEmpty)
      throw new IllegalArgumentException("empty update is an error") // no-op update
    val times = updateTimes.distinct.sorted
    if (times.head < dsStart)
      throw new IllegalArgumentException(
        s"update contains times before dataset start $dsStart")
    val existing =
      if (times.head > dsEnd) Set.empty[Long]
      else existingIn(times.head, times.last).toSet
    val (inserts, appends) = times.partition(existing)
    if (inserts.nonEmpty && !allowOverwrite)
      throw new IllegalStateException("inserts present but overwrite not allowed")
    // The full append set must be ONE contiguous run starting adjacent
    // to the committed end — otherwise a gapped append would commit a
    // silent hole while dateRange claims coverage (`publish.py:641-648`
    // bridge check + `:654-696` contiguity). Irregular datasets declare
    // cadenceBoundsUs and any delta in [lo, hi] is contiguous
    // (`publish.py:677-685`); regular ones are the bounds
    // (cadenceUs, cadenceUs), so both gaps (delta > cadence) and OFF-GRID
    // times (delta < cadence) are rejected — a sub-cadence time would
    // otherwise commit an off-grid axis that wedges the next legitimate
    // on-grid append.
    if (appends.nonEmpty) {
      val (loB, hiB) = d.cadenceBoundsUs.getOrElse((d.cadenceUs, d.cadenceUs))
      def outside(delta: Long) = delta < loB || delta > hiB
      val viol = appends.zip(appends.tail).collect {
        case (prev, cur) if outside(cur - prev) => s"$cur (delta ${cur - prev})"
      }.take(3)
      if (viol.nonEmpty)
        throw new IllegalArgumentException(d.cadenceBoundsUs.fold(
          s"append deltas differ from cadence ${d.cadenceUs}: ")(_ =>
          s"append deltas outside cadence bounds [$loB,$hiB]: ") + viol.mkString(", "))
      val bridge = appends.head - dsEnd
      if (outside(bridge))
        throw new IllegalArgumentException(d.cadenceBoundsUs.fold(
          s"append is not contiguous with existing end $dsEnd: starts at " +
            s"${appends.head}, expected ${dsEnd + d.cadenceUs}")(_ =>
          s"append start ${appends.head} is $bridge us past existing end " +
            s"$dsEnd, outside cadence bounds [$loB,$hiB]"))
    }
    UpdatePlan(inserts, appends)
  }
}
