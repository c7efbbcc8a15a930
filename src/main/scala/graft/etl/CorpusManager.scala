package graft.etl

import graft.operators.{Concurrent, Materialize}

import graft.functions.{DedupFunctions, DedupPipeline, TextFunctions}
import graft.sources.{BucketedSignatureStore, SnapshotLog}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods

/** Shard-ingest outcome: input/reject/duplicate/ingested counts plus the
  * per-source vocabulary-drift rows (empty on initial ingest). */
case class IngestReport(
    input: Long,
    rejected: Long,
    duplicates: Long,
    ingested: Long,
    drift: Seq[SourceDrift])

/** KMV-sketch vocabulary comparison of one shard source against the
  * corpus: Jaccard and containment (shard-vocab ⊆ corpus-vocab)
  * ESTIMATES from k-minimum-values sketches (the q62/q63 estimator —
  * O(k) array arithmetic, never a vocab-sized join). `novelSource` marks
  * sources the corpus has never seen (no corpus sketch to compare). */
case class SourceDrift(
    source: String,
    jaccardEst: Double,
    containmentEst: Double,
    novelSource: Boolean)

/** Committed corpus state: monotonic generation counter (one per
  * successful ingest) plus cumulative canonical-doc count, the dedup
  * parameters the artifacts were built with — a reader can verify its
  * `Params` match before band-joining against the persisted tables —
  * and `bandsVersion`, naming the live generation of the bucketed band
  * table (`bands_vN` dir / `<name>_bands_vN` catalog entry; compaction
  * writes the next version and retires the old one). `files` pins each
  * artifact's file list (None: a pre-pinning manifest) and `schemas`
  * the data schema of the docs, sigs, hashes, sketch and media files
  * (Spark DataType JSON, keyed by the [[CorpusFiles]] field name).
  * Which artifacts exist, where each lives at a manifest, and which are
  * versioned with a catalog table is decided in one place: the artifact
  * registry of [[CorpusManager]] (`Artifacts`). */
case class CorpusManifest(
    name: String,
    generation: Long,
    nDocs: Long,
    ngram: Int,
    perms: Int,
    bands: Int,
    minEstJaccard: Double,
    numBuckets: Int,
    bandsVersion: Long = 1,
    parent: Long = 0,
    // signature-scheme version the persisted sigs/bands were computed
    // under (Signatures.SigHasher.scheme of the configured hasher);
    // manifests older than the field parse as 1 — the oldest scheme —
    // so a pre-stamp store routes to migrateSignatureScheme() rather
    // than silently band-joining incomparable signatures
    sigScheme: Long = 1,
    // perceptual-media hash scheme of the persisted media_hashes
    // artifact: 1 = 63-bit mediaHash (long h), 2 = 252-bit
    // mediaHashWide (array<bigint>[4] h). The same refuse-then-migrate
    // posture as sigScheme — Hamming-joining a 63-bit shard hash
    // against 252-bit corpus rows (or vice versa) is silent nonsense,
    // so a scheme mismatch routes to migrateMediaScheme(). Manifests
    // older than the field parse as 1, the original narrow hash.
    mediaScheme: Long = 1,
    // live generation of the persisted media BLOCK store (the media
    // twin of bandsVersion: `media_blocks/vN` dir /
    // `<name>_media_blocks_vN` catalog entry) plus the (radius, combo)
    // the block layout was generated under. Block rows are only
    // comparable within one (mediaScheme, radius, combo) triple, so a
    // parameter change routes to REGENERATION (derived data — rebuilt
    // from the pinned hash artifact as v(N+1)), never a silent
    // mixed-key join. Version 0 (the pre-field parse default) = no
    // block store yet: the next shard ingest builds v1.
    mediaBlocksVersion: Long = 0,
    mediaRadius: Long = -1,
    mediaCombo: Long = 0,
    files: Option[CorpusFiles] = None,
    schemas: Map[String, String] = Map.empty)

/** Root-relative data-file lists pinned by a committed manifest — the
  * corpus twin of [[graft.sources.GriddedStore]]'s snapshot manifests.
  * `sketch` pins ONLY the live sketch rows (each ingest's merge replaces
  * the table; the superseded files stay on disk for pinned readers until
  * vacuum); the other lists are cumulative across ingests. The fields
  * are the wire format (written in this order; a manifest from before
  * `vecs`, `media` or `mediaBlocks` reads them as empty); the manager
  * reads and writes them only by key, through its artifact registry. */
case class CorpusFiles(
    docs: Seq[String],
    sigs: Seq[String],
    hashes: Seq[String],
    sketch: Seq[String],
    bands: Seq[String],
    vecs: Seq[String] = Nil,
    media: Seq[String] = Nil,
    mediaBlocks: Seq[String] = Nil) {

  /** Each list by its `files` key, in the written order. */
  def byKey: collection.immutable.ListMap[String, Seq[String]] =
    collection.immutable.ListMap.from(productElementNames.zip(
      productIterator.map(_.asInstanceOf[Seq[String]])))

  /** These lists with the given keys' replaced. */
  def updated(lists: (String, Seq[String])*): CorpusFiles = CorpusFiles(byKey ++ lists)
}

object CorpusFiles {
  /** The lists `list(key)`, one per field. */
  def apply(list: String => Seq[String]): CorpusFiles = CorpusFiles(list("docs"),
    list("sigs"), list("hashes"), list("sketch"), list("bands"), list("vecs"),
    list("media"), list("mediaBlocks"))
}

/** A shard's vocabulary diverged below the configured containment
  * floor — the documents-side analog of
  * [[graft.qc.NanFrequencyMismatchException]]: ingest aborts BEFORE any
  * write, so the corpus is untouched. */
class VocabDriftException(msg: String) extends RuntimeException(msg)

/** Documents-side orchestration — the corpus twin of [[DatasetManager]]
  * (which manages gridded cell data): route initial-vs-incremental
  * ingest, run quality + drift gates around the write, and maintain the
  * persisted dedup artifacts that make each subsequent shard cheap.
  *
  * Mirrors the reference's manager posture (`dataset_manager.py:24`,
  * QC gates `utils/publish.py:499-743`) applied to a training-data
  * corpus. Layout under `root`:
  *
  *   - `docs/` — the canonical deduplicated corpus (parquet).
  *   - `dedup/sigs`, `dedup/bands_vN` — MinHash signatures + LSH band
  *     rows of every canonical doc, the band table bucketed+sorted on
  *     (band, bk) so shard-vs-corpus candidate joins plan exchange-free
  *     ([[BucketedSignatureStore]]); `dedup/hashes` — (id, md5) for
  *     exact-dup checks that cover sub-ngram docs the MinHash path
  *     cannot shingle.
  *   - `sketch/` — per-source KMV vocabulary sketches (k longs per
  *     source), merged after every ingest; drift checks are O(k) per
  *     source-pair instead of a vocab join.
  *   - `ann/v{N}/` (when `embCol` is set) — the embedding twin of the
  *     band table, versioned with it: IVF quantizer centroids (trained
  *     at initial ingest, RETRAINED on the whole corpus at each
  *     compaction so shard drift cannot skew cells or push near pairs
  *     across stale boundaries) and the corpus vectors with their cell
  *     assignment, bucketed on `cell` so shard-vs-CORPUS near-dup
  *     candidate joins plan exchange-free; WITHIN-batch candidates come
  *     from multi-table hyperplane LSH instead (cell self-joins are
  *     quadratic per cell — see `embIntraPairs`); verified cosine pairs
  *     join the same dup graph as the text pairs. Honest boundary:
  *     cross candidates come from the shard doc's top-P cells, so a
  *     near-dup pair straddling a quantizer cell boundary is missed
  *     when the boundary cell is outside the runner-ups. P is
  *     RECALL-TARGETED (`probesFor`): one probe per ~555 trained
  *     cells — the measured anchor density — floored by the
  *     configured `embProbes` (shard side replicated ×P, corpus
  *     layout and exchange-free scan unchanged), so the miss rate
  *     stops WIDENING as `cellsFor` scales the cell count with the
  *     corpus. MEASURED (`Probe scale combined`): static 3 probes held
  *     99.8% planted cross recall at 2M docs / 1665 cells but fell
  *     to 98.8% at 4M / 3330 cells; the density policy holds the
  *     anchor. The multi-table LSH shape is the recall-guaranteed
  *     alternative when it matters.
  *
  * Snapshot isolation (the [[graft.sources.GriddedStore]] discipline):
  * every committed manifest pins the exact file list of each artifact,
  * and every reader scans THAT list, not the directory. Ingests and
  * compaction only ever ADD files; superseded files are retired by the
  * next manifest omitting them and deleted only by [[vacuum]]. So one
  * manifest swap commits an ingest's docs + signatures + bands + hashes
  * + sketch merge ATOMICALLY: a crash at any earlier point leaves
  * reader-invisible orphans and a byte-identical corpus — there is no
  * partially-ingested state, no maintenance window around
  * [[compactArtifacts]], and no "doc visible but its signatures missing"
  * window for a racing reader. Pinning is also a correctness guard, not
  * just hygiene: an orphaned signature/hash row from a crashed ingest
  * would otherwise make a future shard doc look like a duplicate of a
  * doc that never committed, silently dropping it. The manifest's
  * `schemas` field records the data schema of the docs, sigs, hashes,
  * sketch and media files each commit writes, so a committed scan is
  * built without a footer-inference job.
  *
  * The band table is the one dir-scanned artifact (its exchange-free
  * join property lives in catalog bucket metadata, which pins no file
  * list) — harmless, because a candidate pair only survives the verify
  * join if BOTH ids exist in the PINNED signature/hash tables, so
  * orphaned band rows can never produce a drop. Compaction rewrites it
  * as `bands_v(N+1)` and the manifest swap retargets readers.
  *
  * Every per-shard step touches corpus-scale data only through
  * (a) the bucketed band join (no corpus shuffle), (b) a streamed scan
  * of the signature/hash tables with the small shard side broadcast,
  * and (c) the k-long sketch rows — the dup-graph component loop's
  * working set is the dup graph, never the corpus.
  *
  * Requires a session with graft's SQL functions registered
  * ([[graft.GraftSession]] or `spark.sql.extensions=graft.GraftExtensions`)
  * for the `kmv_minima` sketch aggregate. Bucketed-table names are
  * catalog entries scoped to this session's metastore — a fresh
  * deployment re-attaches them by re-running an ingest or registering
  * the external table.
  */
class CorpusManager(
    val name: String,
    root: String,
    spark: SparkSession,
    p: DedupPipeline.Params = DedupPipeline.Params(),
    numBuckets: Int = 8,
    idCol: String = "doc_id",
    textCol: String = "text",
    sourceCol: String = "source",
    minTokens: Int = 1,
    sketchK: Int = 256,
    minVocabContainment: Option[Double] = None,
    embCol: Option[String] = None,
    embNearCos: Double = 0.98,
    annCells: Int = 16,
    embDims: Int = 64,
    embTables: Int = 8,
    embBits: Int = 12,
    embProbes: Int = 1,
    blocklist: Option[DataFrame] = None,
    blocklistN: Int = 3,
    maxContamination: Double = 0.5,
    gopherGate: Boolean = false,
    gopherStopwords: Seq[String] = Seq("the", "a", "of", "and"),
    // perceptual MEDIA dedup signal (image pHash / audio fingerprint
    // over a binary column): near-identical media pairs join the same
    // dup graph as the text and embedding signals. The persisted
    // artifact is one (id, 63-bit hash) table — 16 B/doc, so the
    // corpus-side block scan stays trivial at any corpus size and the
    // shard-side block rows are the small join side.
    mediaCol: Option[String] = None,
    mediaMaxHamming: Int = 3,
    // media-hash scheme this manager computes and persists: 1 = 63-bit
    // [[graft.multimodal.Multimodal.mediaHash]] (birthday-bounded —
    // ~one random merge per 10^13 pairs at radius 4, measured once at
    // 4M docs by `Probe scale media`), 2 = 252-bit
    // [[graft.multimodal.Multimodal.mediaHashWide]] (collision floor
    // ~10^-53: ZERO false merges at any corpus size — the 100-TB
    // choice). `mediaMaxHamming` is interpreted in the scheme's own
    // units: scheme-2 distances run ~4× scheme-1 (radius 16 wide ≈ 4
    // narrow — for images because the DCT block is 4× larger, for
    // audio because the fingerprint is replicated ×4). A store
    // ingested under one scheme REFUSES the other until
    // [[migrateMediaScheme]] recomputes the artifact. */
    mediaScheme: Int = 1) {

  require(mediaScheme == 1 || mediaScheme == 2,
    s"unknown media-hash scheme $mediaScheme (1 = 63-bit, 2 = 252-bit)")

  def docsPath: String = s"$root/docs"
  def dedupPath: String = s"$root/dedup"
  def sigsPath: String = s"$dedupPath/sigs"
  def hashesPath: String = s"$dedupPath/hashes"
  def sketchPath: String = s"$root/sketch"
  private def bandsDir(v: Long): String = s"$dedupPath/bands_v$v"
  private def bandsTable(v: Long): String = s"${name}_bands_v$v"
  private val bandKeys = Seq("band", "bk")
  // a shard's md5(text), carried on its pin from the gate to the appends
  private val HashCol = "_graft_md5"
  // The ANN artifacts (coarse-quantizer centroids + the (cell)-bucketed
  // corpus vector table) are VERSIONED together, keyed by the same
  // counter as the band table: compaction retrains the quantizer and
  // rewrites the vectors under v(N+1) while readers pinned to older
  // manifests keep their v(N) files untouched. Layout note: earlier
  // revisions wrote a single unversioned ann/{vectors,centroids}; a
  // store from that layout has no ann/v1 and must re-ingest (loud
  // failure on the missing path — no silent fallback to a dir whose
  // cells a retrained quantizer would contradict).
  private def annDir(v: Long): String = s"$root/ann/v$v"
  /** Media-hash artifact dir for the CONFIGURED scheme. Schemes write
    * to distinct dirs (scheme 1 keeps the legacy name) so each dir is
    * single-schema — a migration appends new-scheme files beside the
    * old dir and pinned readers of either scheme stay consistent. */
  def mediaPath: String = mediaPathFor(mediaScheme)
  private def mediaPathFor(s: Long): String =
    if (s == 1) s"$root/media_hashes" else s"$root/media_hashes_s$s"
  // the persisted media BLOCK store (the media twin of the band table):
  // versioned on its own counter — a (radius, combo) change regenerates
  // the blocks mid-generation without touching the band/ann artifacts
  private def mediaBlocksDir(v: Long): String = s"$root/media_blocks/v$v"
  private def mediaBlocksTable(v: Long): String = s"${name}_media_blocks_v$v"
  def vecsPath(v: Long): String = s"${annDir(v)}/vectors"
  private def centsPath(v: Long): String = s"${annDir(v)}/centroids"
  private def vecsTable(v: Long): String = s"${name}_vecs_v$v"

  /** The generation ladder `_gens/gNNNNNN.json` and the pointer
    * `_corpus.json`, with the commit primitives behind the lock,
    * selected by an open-time capability check: object-store schemes
    * without a configured [[graft.sources.ConditionalStore]] are
    * rejected at construction (see [[graft.sources.CommitProtocol]]) so
    * the exactly-one-ingest guarantee can't silently degrade. */
  private val log = new SnapshotLog(spark, root, "_gens", "g", "_corpus.json")
  private def fs = log.fs

  /** Existence = a COMMITTED manifest, not data files: a crashed initial
    * ingest (docs written, manifest not) re-routes to ingestInitial,
    * whose overwrite replaces the partial output. */
  def hasExisting: Boolean = log.hasPointer

  def readManifest(): Option[CorpusManifest] = log.readPointer().map(parseManifest)

  /** Manifest as committed at `generation` (from the claim directory) —
    * metadata time travel; [[vacuum]] bounds how far back the pinned
    * files remain readable. None for never-claimed or orphaned-empty
    * generation numbers. */
  def readManifestAt(generation: Long): Option[CorpusManifest] =
    log.readClaim(generation).flatMap(txt => scala.util.Try(parseManifest(txt)).toOption)

  /** Absent fields take their defaults: manifests older than a field
    * read as written before it. */
  private def parseManifest(txt: String): CorpusManifest = {
    implicit val fmt: Formats = DefaultFormats
    JsonMethods.parse(txt).extract[CorpusManifest]
  }

  /** The artifact file lists pinned by the LATEST committed manifest. */
  def snapshotFiles(): Option[CorpusFiles] = readManifest().flatMap(_.files)

  /** Serialize every mutating operation behind a CREATE-EXCLUSIVE
    * `_ingest.lock`: a concurrent ingest fails fast BEFORE touching any
    * artifact (without this, two ingests would both append un-deduped-
    * against-each-other keepers and the commit-time loser's docs would
    * be stranded in the corpus). The reference's `update_in_progress`
    * flag posture (`utils/publish.py` two-phase writes). A crash leaves
    * the lock behind — deliberate: the next ingest fails with a message
    * naming the lock, the operator verifies no writer is live, deletes
    * it, and restarts (the crashed attempt's files are reader-invisible
    * orphans; [[vacuum]] reclaims them). */
  private def withIngestLock[T](f: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(root, "_ingest.lock")
    fs.mkdirs(new org.apache.hadoop.fs.Path(root))
    try log.commits.putIfAbsent(lock, Array.emptyByteArray)
    catch {
      case e: java.util.ConcurrentModificationException =>
        throw new java.util.ConcurrentModificationException(
          s"another ingest holds $lock (or a crashed one left it: verify, " +
            "delete the lock, retry — the crashed attempt's files are " +
            "invisible orphans, reclaimed by vacuum())", e)
    }
    // every locked mutation's pins are mutation-local (readers re-scan
    // the committed parquet) — release them all on the way out
    try withPinRelease(f) finally fs.delete(lock, false)
  }

  // ---- ingest-scoped pin ledger ------------------------------------------
  // Every frame an ingest pins ([[graft.operators.Materialize]]) is
  // ledgered and RELEASED when the ingest returns: the pins are
  // ingest-local by construction (each is consumed before the manifest
  // commit; readers re-scan the committed parquet, never the dedup DAG),
  // but without an explicit release the blocks are freed only when the
  // DRIVER GCs the frame references — with a large driver heap that can
  // be never, so back-to-back shard ingests accumulate every prior
  // ingest's checkpoint blocks on executor disks (the GraphOps ENOSPC
  // mechanism at manager scale: ~50 GB of pinned blocks per 4M combined
  // ingest, measured round 10). The ledger is guarded by the ingest
  // lock's serialization; helper methods invoked OUTSIDE an ingest
  // (specs, gate queries driving embVerifiedPairs directly) see an
  // inactive ledger and keep today's GC-freed behavior.
  private val ingestPins =
    new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Dataset[_]]
  @volatile private var pinLedgerActive = false

  /** Pin via the session checkpoint policy, ledgered for release at
    * ingest end (no-op ledger outside an ingest). `df.pinned()` is the
    * manager-local spelling every former `.pinned()` site uses. */
  private def ledgeredPin(df: DataFrame): DataFrame = {
    val m = Materialize(df)
    if (pinLedgerActive) ingestPins.synchronized { ingestPins += m }
    m
  }

  private implicit class LedgeredPinning(df: DataFrame) {
    def pinned(): DataFrame = ledgeredPin(df)
  }

  /** Run an ingest body, releasing every ledgered pin on exit —
    * success or failure — so the manager's executor-disk high-water is
    * one ingest's pins, not the session's history. */
  private def withPinRelease[T](f: => T): T = {
    pinLedgerActive = true
    try f finally {
      pinLedgerActive = false
      ingestPins.synchronized {
        ingestPins.foreach(Materialize.release)
        ingestPins.clear()
      }
    }
  }

  /** Commit `next` — the manifest this operation read, copied with what
    * it changed — as the next generation: the two-layer commit of
    * [[SnapshotLog]], so this swap IS the operation's commit point. The
    * number comes from the CLAIM LADDER, not the pointer (a crash
    * between claim and swap must skip the orphaned number, not wedge on
    * it), and `parent` is the generation `next` was copied from — the
    * COMMITTED predecessor [[vacuum]] walks (a claim number alone can be
    * a crashed commit's orphan, which no reader was ever pinned to). */
  private def commitManifest(next: CorpusManifest): CorpusManifest = {
    val m = next.copy(generation = math.max(log.latest(), next.generation) + 1,
      parent = next.generation,
      files = next.files.map(f => CorpusFiles(f.byKey(_).sorted)))
    log.commit(m.generation,
      JsonMethods.pretty(JsonMethods.render(Extraction.decompose(m)(DefaultFormats))))
    m
  }

  private def listDir(dir: String): Set[String] = log.listFiles(new Path(dir))

  /** The versions `N` of the directories `<dir>/<prefix>N` on disk. */
  private def versionsIn(dir: String, prefix: String): Seq[Long] =
    if (!fs.exists(new Path(dir))) Nil
    else fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .collect { case d if d.matches(s"$prefix\\d+") => d.stripPrefix(prefix).toLong }.toSeq

  /** A pinned artifact: its `files`/`schemas` key (its [[CorpusFiles]]
    * field name), the directory of its version `v`, the version a
    * manifest pins (0: an unversioned artifact), the versions on disk,
    * and — for an artifact versioned with a catalog table — what a
    * retired version takes with it. */
  private case class Artifact(key: String, dirAt: Long => String,
                              version: CorpusManifest => Long = _ => 0L,
                              onDisk: () => Seq[Long] = () => Seq(0L),
                              retired: Option[Retired] = None) {
    def dir(m: CorpusManifest): String = dirAt(version(m))
  }
  /** The directory (removed recursively) and catalog table of a retired
    * version `v`. */
  private case class Retired(dir: Long => String, table: Long => String)

  private val Docs = Artifact("docs", _ => docsPath)
  private val Sigs = Artifact("sigs", _ => sigsPath)
  private val Hashes = Artifact("hashes", _ => hashesPath)
  private val Sketch = Artifact("sketch", _ => sketchPath)
  private val Bands = Artifact("bands", bandsDir, _.bandsVersion,
    () => versionsIn(dedupPath, "bands_v"), Some(Retired(bandsDir, bandsTable)))
  // the centroid sidecar is not file-tracked: it lives and dies with
  // its version's ann dir
  private val Vecs = Artifact("vecs", vecsPath, _.bandsVersion,
    () => versionsIn(s"$root/ann", "v"), Some(Retired(annDir, vecsTable)))
  // every scheme's dir is on disk, not just the configured one's: after
  // a migrateMediaScheme the old scheme's unpinned files are orphans
  private val Media = Artifact("media", mediaPathFor, _.mediaScheme,
    () => 1L +: versionsIn(root, "media_hashes_s"))
  // versioned on its own counter, see ensureMediaBlocks
  private val MediaBlocks = Artifact("mediaBlocks", mediaBlocksDir, _.mediaBlocksVersion,
    () => versionsIn(s"$root/media_blocks", "v"),
    Some(Retired(mediaBlocksDir, mediaBlocksTable)))
  /** The artifact registry: every artifact a corpus manifest pins, in
    * its `files` key order. */
  private val Artifacts = Seq(Docs, Sigs, Hashes, Sketch, Bands, Vecs, Media, MediaBlocks)

  /** One list per artifact, `pin(a)`, taken in registry order. */
  private def corpusFiles(pin: Artifact => Seq[String]): CorpusFiles =
    CorpusFiles(Artifacts.map(a => a.key -> pin(a)).toMap)

  /** Every file in `a`'s directory at `m`. */
  private def listing(m: CorpusManifest, a: Artifact): Seq[String] = listDir(a.dir(m)).toSeq

  /** The lists `m` pins; a pre-pinning manifest's are its artifact
    * directories' listings. */
  private def pinnedBy(m: CorpusManifest): CorpusFiles =
    m.files.getOrElse(corpusFiles(listing(m, _)))

  /** The files `write` adds to `a`'s directory at `m`. */
  private def added(m: CorpusManifest, a: Artifact)(write: => Unit): Seq[String] = {
    val before = listDir(a.dir(m))
    write
    (listDir(a.dir(m)) -- before).toSeq
  }

  /** `a` as of `man`: its pinned files read with the recorded schema
    * ([[SnapshotLog.scan]]). */
  private def scan(a: Artifact, man: CorpusManifest): DataFrame =
    log.scan(man.files.map(_.byKey(a.key)),
      man.schemas.get(a.key).map(DataType.fromJson(_).asInstanceOf[StructType]),
      a.dir(man))

  /** The `schemas` entry of a frame written to an artifact. */
  private def schemaOf(df: DataFrame): String = SnapshotLog.writtenSchema(df).json

  /** The canonical deduplicated corpus, as of the latest committed
    * manifest — uncommitted / crashed-writer / retired files are
    * invisible. */
  def corpus(): DataFrame =
    readManifest().fold(spark.read.parquet(docsPath))(scan(Docs, _))

  // ---- perceptual media dedup signal ------------------------------------

  /** (id, h) media hashes of `df`'s `mediaCol` under the configured
    * scheme (h: long for scheme 1, array<bigint>[4] for scheme 2);
    * undecodable rows have no hash and simply contribute no media
    * edges. */
  private[graft] def mediaHashesOf(df: DataFrame): DataFrame = {
    val in = df.select(col(idCol), col(mediaCol.get))
    if (mediaScheme == 2)
      graft.multimodal.Multimodal.mediaHashesWide(in, idCol, mediaCol.get)
    else
      graft.multimodal.Multimodal.mediaHashes(in, idCol, mediaCol.get)
  }

  private def mediaBits: Int = if (mediaScheme == 2) 252 else 63

  /** Within-batch media near-dup edges (d1 < d2). The hashes are
    * checkpointed (ONE decode pass feeds both self-join sides) and
    * counted so the pigeonhole clean-block requirement sizes itself:
    * at the classic combo=1 split the random-collision candidate
    * volume is n²·2^(−63/(r+1)) — invisible at 400k hashes, ~5·10⁹
    * streamed candidate rows at 4M (measured by `Probe scale media`) —
    * while combo [[graft.multimodal.Multimodal.comboFor]] keeps it
    * budget-bounded with the SAME verified pair set. */
  private[graft] def mediaIntraPairs(hashes: DataFrame): DataFrame = {
    val h = hashes.pinned()
    val n = h.count().toDouble
    val combo = graft.multimodal.Multimodal.comboForCost(
      n, n * n / 2, mediaMaxHamming, bits = mediaBits)
    (if (mediaScheme == 2)
       graft.multimodal.Multimodal.hammingPairsWide(h, mediaMaxHamming, combo)
     else
       graft.multimodal.Multimodal.hammingPairs(h, mediaMaxHamming, combo))
      .select(col("id1").as("d1"), col("id2").as("d2"))
  }

  /** Clean-block requirement for the PERSISTED store's layout: the
    * cost-based rule ([[graft.multimodal.Multimodal.comboForCost]])
    * evaluated at the worst-case cross volume a store of `nCorpus`
    * hashes can face (a corpus-sized shard: rows 2·n, pairs n²) — a
    * deterministic, monotone function of CORPUS SIZE ONLY, so the
    * layout changes at corpus decade boundaries, never thrashes on
    * shard-size noise, and matches what the pre-store inline path chose
    * at nShard ≈ nCorpus. Passed through [[graft.sources
    * .MediaBlockStore.effectiveCombo]] so the stamped value is the one
    * the blocking function actually lays out. */
  private def desiredMediaCombo(nCorpus: Long): Int = {
    val n = math.max(nCorpus, 1L).toDouble
    graft.sources.MediaBlockStore.effectiveCombo(mediaScheme, mediaMaxHamming,
      graft.multimodal.Multimodal.comboForCost(
        2 * n, n * n, mediaMaxHamming, bits = mediaBits))
  }

  /** (Re)generate the media block store as version `v` from `hashes`
    * (the pinned corpus hash rows): one block expansion + one bucketed
    * write — paid once per layout, amortized across every shard. */
  private def writeMediaBlocks(hashes: DataFrame, v: Long, combo: Int): Unit =
    graft.sources.MediaBlockStore.write(hashes, mediaScheme, mediaMaxHamming,
      combo, mediaBlocksTable(v), mediaBlocksDir(v), numBuckets)

  /** The live (version, combo) of the media block store, regenerating
    * it as v(N+1) from the PINNED hash artifact when the committed
    * layout differs from what this manager's (scheme, radius) and the
    * corpus size call for — a parameter change routes to regeneration,
    * never a mixed-key join. Also (re)builds version-0 stores (ingested
    * before the block store existed). When the stamps MATCH but the
    * session's metastore has no catalog entry (fresh deployment — the
    * files exist, bucket metadata is per-metastore), the existing
    * store is RE-ATTACHED metadata-only ([[graft.sources
    * .BucketedSignatureStore.attach]]): regenerating would silently
    * re-pay the O(corpus) expand+bucketed-write every first ingest of
    * every session and bump the version each time. The caller's commit
    * stamps the returned pair; a crash in between leaves an unpinned
    * extra version the next run overwrites. */
  private def ensureMediaBlocks(man: CorpusManifest): (Long, Int) = {
    val hashes = scan(Media, man)
    val want = desiredMediaCombo(hashes.count())
    val stampsMatch = man.mediaBlocksVersion > 0 &&
      man.mediaRadius == mediaMaxHamming.toLong &&
      man.mediaCombo == want.toLong
    if (stampsMatch) {
      val v = man.mediaBlocksVersion
      if (!spark.catalog.tableExists(mediaBlocksTable(v)))
        graft.sources.BucketedSignatureStore.attach(spark,
          mediaBlocksTable(v), mediaBlocksDir(v), numBuckets,
          graft.sources.MediaBlockStore.keys(mediaScheme))
      (v, want)
    } else {
      val v = man.mediaBlocksVersion + 1
      writeMediaBlocks(hashes, v, want)
      (v, want)
    }
  }

  /** Shard-vs-corpus media near-dup edges through the PERSISTED block
    * store: the shard's block rows are written bucketed to the same
    * spec ([[DedupPipeline.runIncrementalAgainst]]'s shard-band move),
    * so the candidate join plans exchange-free on BOTH sides and the
    * corpus pays no per-ingest re-expansion (the pre-store inline shape
    * re-blocked the whole corpus hash artifact every run — ~254M block
    * rows at 1.8M docs, measured). Corpus-side ids of the surviving
    * pairs are semi-joined against the media hash artifact `man` pins — the
    * [[embCandidates]] orphan guard: a crashed ingest's orphan block
    * row must never drop a shard doc against a doc that never
    * committed. Package-private so the gate query and the plan spec
    * can drive exactly this path. */
  private[graft] def mediaCrossPairs(shardHashes: DataFrame, blocksV: Long,
                                     combo: Int, man: CorpusManifest): DataFrame = {
    graft.sources.MediaBlockStore.write(shardHashes, mediaScheme,
      mediaMaxHamming, combo, s"${name}_shard_media_blocks",
      s"$root/shard_media_blocks", numBuckets)
    val shardB = BucketedSignatureStore.table(spark, s"${name}_shard_media_blocks")
    val corpusB = BucketedSignatureStore.table(spark, mediaBlocksTable(blocksV))
    // checkpoint BEFORE the orphan guard: the semi-join would otherwise
    // push below the block join and re-shuffle the bucketed table by id
    // (the embCandidates reorder barrier); the surviving pair set is
    // dup-graph-sized
    graft.sources.MediaBlockStore
      .crossPairs(corpusB, shardB, mediaScheme, mediaMaxHamming)
      .pinned()
      .join(scan(Media, man).select(col("id").as("aid")), Seq("aid"), "left_semi")
      .select(least(col("aid"), col("bid")).as("d1"),
        greatest(col("aid"), col("bid")).as("d2"))
      .distinct()
  }

  /** Pre-ingest quality gate (`pre_parse_quality_check` analog for
    * documents): non-null text with at least `minTokens` whitespace
    * tokens, plus — when `gopherGate` is set — the Gopher composite
    * rule conjunction ([[TextFunctions.gopherKept]], the exact q92
    * predicate: token-count bounds, mean-word-length bounds, stopword
    * minimum, repeated-token dominance cap). Returns (accepted,
    * rejected). Both are filters over the same scan — codegen'd
    * predicates, no shuffle at any corpus size. */
  def qualityGate(docs: DataFrame): (DataFrame, DataFrame) = {
    val base = col(textCol).isNotNull &&
      TextFunctions.tokenCount(col(textCol)) >= minTokens
    val ok = if (gopherGate)
      base && TextFunctions.gopherKept(col(textCol), gopherStopwords)
    else base
    (docs.filter(ok), docs.filter(!coalesce(ok, lit(false))))
  }

  /** Blocklist decontamination gate (the q82 shape at ingest): a doc is
    * rejected when more than `maxContamination` of its distinct
    * `blocklistN`-grams appear in the configured `blocklist` (one
    * string column `g` of blocked grams — a benchmark's n-grams, a
    * held-out eval set). The blocklist folds into a Bloom sketch in one
    * pass and ships as a binary literal, so the codegen'd
    * `bloom_might_contain` cuts the doc-gram stream in the scan stage;
    * the exact left-semi verify join removes the sketch's false
    * positives, so the gate decision is exact. At 100 TB the verify
    * exchange carries only fpp·|doc grams| + true hits — the blocklist
    * itself never broadcasts as strings. No-op when unconfigured. */
  def contaminationGate(docs: DataFrame): (DataFrame, DataFrame) =
    blocklist match {
      case None => (docs, docs.limit(0))
      case Some(bl) =>
        val blG = bl.select(col("g").cast("string").as("g"))
          .filter(col("g").isNotNull).distinct().pinned()
        val nBl = math.max(blG.count(), 1L)
        // ~16 bits/gram (fpp well under 1%), capped below Spark's
        // runtime-filter ceiling so the aggregate never clamps silently
        val bits = math.min(16L * nBl, 33554432L)
        val sketch = blG.agg(call_function("bloom_agg",
            xxhash64(col("g")), lit(nBl), lit(bits)))
          .head.getAs[Array[Byte]](0)
        val hits = docs
          .select(col(idCol),
            explode(TextFunctions.wordNgrams(col(textCol), blocklistN)).as("g"))
          .filter(call_function("bloom_might_contain",
            lit(sketch), xxhash64(col("g"))))
          .join(blG, Seq("g"), "left_semi")
          .groupBy(idCol).agg(count(lit(1)).as("_nhit"))
        val contaminated = docs
          .select(col(idCol), size(TextFunctions.wordNgrams(
            col(textCol), blocklistN)).as("_ng"))
          .join(hits, Seq(idCol))
          .filter(col("_nhit").cast("double") >
            greatest(col("_ng"), lit(1)).cast("double") * maxContamination)
          .select(col(idCol))
          .pinned() // one decision, two consumers (keep + reject)
        (docs.join(contaminated, Seq(idCol), "left_anti"),
          docs.join(contaminated, Seq(idCol), "left_semi"))
    }

  /** Per-source KMV vocabulary sketch: k smallest 60-bit token hashes.
    * One map-side-combined `kmv_minima` pass straight off the tokenize
    * — NO pre-distinct: KmvMinima skips duplicate values on insert
    * (distinctness is intrinsic, its scaladoc contract), so a distinct
    * here only added a full (source, token) exchange per sketch call —
    * the single largest per-ingest shuffle at corpus scale — for a
    * bit-identical minima array (guide §2.4: remove shuffles outright;
    * unlike q62/q63, nothing here needs the distinct frame's exact
    * count). The one shuffle left carries k longs per (partition,
    * source). */
  def vocabSketch(docs: DataFrame): DataFrame =
    docs
      .select(col(sourceCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy(sourceCol)
      .agg(call_function("kmv_minima", TextFunctions.md5Hash60(col("tok")),
        lit(sketchK)).as("minima"))

  // ---- tokenizer artifact (unigram-LM, generation-stamped) -------------

  private def tokenizerDir(g: Long): String = s"$root/tokenizer/g$g"

  /** Train the unigram-LM tokenizer ([[graft.functions.UnigramOps]],
    * hard-EM) on the PINNED corpus snapshot and persist the full round
    * table `(round, piece, cnt, prob)` stamped with the generation it
    * was trained on — the tokenizer twin of the versioned ANN quantizer:
    * readers can tell exactly which corpus snapshot produced the vocab,
    * and [[tokenizerStale]] flags when ingests have advanced past it
    * (training data changed → token statistics drifted → retrain before
    * shipping token counts downstream). Returns the stamped generation. */
  def trainTokenizer(rounds: Int = 2): Long = {
    val m = readManifest().getOrElse(throw new IllegalStateException(
      s"corpus $name has no committed manifest — ingest before training"))
    val (table, _) = graft.functions.UnigramOps.train(
      corpus().select(col(textCol)), textCol, rounds)
    table.coalesce(1).write.mode("overwrite")
      .parquet(s"${tokenizerDir(m.generation)}/pieces")
    m.generation
  }

  /** Newest COMPLETE tokenizer artifact: (trainedAtGeneration,
    * final-round piece→prob map). Half-written artifacts (crashed
    * training: no parquet _SUCCESS) are skipped, same phantom-visibility
    * discipline as the pinned file lists. */
  def readTokenizer(): Option[(Long, Map[String, Double])] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/tokenizer")
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.matches("g\\d+") => n.stripPrefix("g").toLong }
      .sorted.reverse
      .find(g => fs.exists(
        new org.apache.hadoop.fs.Path(s"${tokenizerDir(g)}/pieces/_SUCCESS")))
      .map { g =>
        val t = spark.read.parquet(s"${tokenizerDir(g)}/pieces")
        val maxRound = t.agg(max("round")).collect()(0).getInt(0)
        val rows = t.filter(col("round") === maxRound)
          .select("piece", "cnt").collect()
          .map(r => r.getString(0) -> r.getLong(1))
        val total = rows.map(_._2).sum
        (g, rows.map { case (pc, c) => pc -> (c.toDouble / total.toDouble) }
          .toMap)
      }
  }

  /** True when the corpus has advanced past (or never had) a complete
    * tokenizer artifact. */
  def tokenizerStale: Boolean = (for {
    m <- readManifest()
    (g, _) <- readTokenizer()
  } yield g < m.generation).getOrElse(true)

  /** Per-doc (n_tokens, n_units) of the pinned corpus under the newest
    * tokenizer artifact. Callers wanting freshness first check
    * [[tokenizerStale]] and retrain. */
  def encodeWithTokenizer(): DataFrame = {
    val (_, probs) = readTokenizer().getOrElse(throw new IllegalStateException(
      s"corpus $name has no complete tokenizer artifact — trainTokenizer first"))
    graft.functions.UnigramOps.encodeDocCounts(corpus(), idCol, textCol, probs)
  }

  // ---- embedding-side near-dup (the vector twin of the band table) -----

  /** Persisted IVF quantizer centroids of the LIVE ann version (trained
    * at initial ingest, retrained by [[compactArtifacts]]). */
  private[etl] def readCentroids(): Array[(Long, Array[Float])] =
    readCentroidsAt(readManifest().get.bandsVersion)

  private[etl] def readCentroidsAt(v: Long): Array[(Long, Array[Float])] = {
    val s2 = spark
    import s2.implicits._
    spark.read.parquet(centsPath(v)).as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** Cell count for a corpus of `n` vectors: ~1000 vectors per cell,
    * floored at the configured `annCells` (small corpora and every
    * existing spec behave exactly as before) and capped at 4096
    * (beyond that, centroid broadcast and per-row argmax start to
    * dominate — split the corpus instead). MEASURED motivation (2M
    * combined rehearsal): a STATIC 16-cell quantizer at a 1.665M-doc
    * corpus means ~104k vectors per cell, so a 600k-row multi-probe
    * shard join faced ~6·10¹⁰ cell-local candidate pairs — the
    * embedding twin of the SetSimJoin hash-build cliff. Cell count is
    * a TRAIN-time property: it changes only at initial ingest /
    * compaction / migration, exactly when the artifact is rewritten
    * and readers are re-pinned, so shard joins always match the
    * persisted layout. */
  private def cellsFor(n: Long): Int =
    math.max(annCells, math.min(4096, (n / 1000L).toInt))

  /** Recall-TARGETED shard-side probe width for a corpus quantized into
    * `cells` cells. A static probe count silently loses recall as the
    * corpus grows, because [[cellsFor]] scales the cell count with the
    * corpus: more cells → smaller cells → a near-dup pair is likelier
    * to straddle a boundary the shard doc's top-P probes never reach.
    * MEASURED (`Probe scale combined`): static embProbes=3 held 99.8%
    * planted cross recall at 2M docs (1665 cells) but fell to 98.8% at
    * 4M (3330 cells) — backwards for a recall-critical dedup gate. The
    * policy pins probe DENSITY instead of probe count: one probe per
    * [[CorpusManager.CellsPerProbe]] cells — the anchor density of the
    * 2M record — floored by the configured `embProbes` (small corpora
    * and every existing spec behave exactly as before) and capped at
    * [[CorpusManager.MaxAutoProbes]] (a user-configured `annCells`
    * beyond [[cellsFor]]'s 4096 cap would otherwise replicate the
    * shard without bound; at that point the multi-table-LSH shape is
    * the recall-GUARANTEED alternative). Cost shape: only the SHARD
    * side replicates ×P into the exchange-free bucketed join — corpus
    * layout, storage and scan are unchanged — so holding recall costs
    * O(shard·P) candidate rows, never a corpus re-shuffle. */
  private[etl] def probesFor(cells: Int): Int = {
    val targeted = math.ceil(
      cells.toDouble / CorpusManager.CellsPerProbe).toInt
    math.min(cells,
      math.max(embProbes, math.min(CorpusManager.MaxAutoProbes, targeted)))
  }

  /** Train the coarse quantizer on the given corpus vectors (md5-ordered
    * seeds → spherical k-means, the [[graft.functions.AnnIndex]] recipe)
    * and persist the centroid sidecar for ann version `v`. Cell count
    * scales with the corpus ([[cellsFor]]); Lloyd cost is
    * O(n·cells·dims) per iteration, paid once per artifact rewrite. */
  private def trainQuantizer(kept: DataFrame, e: String,
                             v: Long): Array[(Long, Array[Float])] = {
    val s2 = spark
    import s2.implicits._
    val cells = cellsFor(kept.count())
    val seeds = kept
      .withColumn("h_", md5(col(idCol).cast("string").cast("binary")))
      .orderBy("h_", idCol).limit(cells)
      .select(col(idCol).cast("long"), col(e))
      .as[(Long, Array[Float])].collect()
    val cents = graft.functions.VectorFunctions
      .kmeansTrain(kept.select(col(idCol), col(e)), idCol, e, seeds)
    cents.toSeq.toDF("cell", "ce")
      .coalesce(1).write.mode("overwrite").parquet(centsPath(v))
    cents
  }

  /** IVF cell assignment of (id, emb) rows with the persisted
    * quantizer. */
  private[etl] def assignCells(df: DataFrame, e: String,
                               cents: Array[(Long, Array[Float])]): DataFrame =
    graft.functions.VectorFunctions
      .ivfAssign(df.select(col(idCol), col(e)), idCol, e, cents)

  /** The scan-and-verify stage of [[embCandidates]]: shard rows meet the
    * (cell)-bucketed vector table `man` pins on their cell and survive
    * the exact-cosine verify — the corpus side must scan bucketed, no
    * exchange. Split out so the spec can assert exactly this plan. */
  private[etl] def embVerifiedPairs(shardAssigned: DataFrame,
                                    man: CorpusManifest): DataFrame = {
    val e = embCol.get
    BucketedSignatureStore.table(spark, vecsTable(man.bandsVersion)).as("c")
      .join(shardAssigned.as("s"), Seq("cell"))
      .filter(graft.functions.VectorFunctions.cosineFast(
        col(s"c.$e"), col(s"s.$e")) >= embNearCos)
      .select(col(s"c.$idCol").as("cid_"), col(s"s.$idCol").as("sid_"))
  }

  /** Embedding near-dup candidate pairs of the shard against the CORPUS
    * vector table: candidates only from shared IVF cells — the bucketed
    * (cell)-keyed table joins exchange-free on the corpus side, the
    * vector twin of the band-table path — then exact-cosine verify.
    * Corpus-side ids are semi-joined against `committedHashes`, the
    * ingest's scan of the hash artifact `man` pins: unlike band rows
    * (where the verify join already requires pinned signatures), a
    * crashed ingest's orphan VECTOR row could otherwise make a shard doc
    * look like a duplicate of a doc that never committed. */
  private[etl] def embCandidates(shardAssigned: DataFrame, man: CorpusManifest,
                                 committedHashes: DataFrame): DataFrame =
    // The orphan guard must run on the VERIFIED pairs (tiny), never the
    // vector table: the optimizer's semi-join pushdown would otherwise
    // move it below the cell join, re-shuffling the bucketed table by id
    // and forfeiting the exchange-free scan — the checkpoint is the
    // reorder barrier that keeps it above (measured: pushdown happens
    // without it), and the pair set it materializes is dup-graph-sized.
    embVerifiedPairs(shardAssigned, man).pinned()
      .join(committedHashes.select(col(idCol).as("cid_")), Seq("cid_"), "left_semi")
      .select(least(col("cid_"), col("sid_")).as("d1"),
        greatest(col("cid_"), col("sid_")).as("d2"))
      .distinct()

  /** Within-batch embedding near-dup pairs: multi-table hyperplane-LSH
    * candidates ([[graft.functions.VectorFunctions.ndBuckets]] —
    * `embTables` tables × `embBits`-bit md5-derived buckets; LSH earns
    * its keep HERE because `embNearCos` is high, unlike q46's
    * low-threshold regime) + exact-cosine verify. NOT the IVF cells: a
    * cell-local SELF-join is quadratic per cell (a cell holding k
    * vectors contributes k²/2 candidates), and training enough cells to
    * bound k is O(N·C·dims) per Lloyd pass — whereas LSH bits are free
    * to grow (candidate volume ~ N²·E[(1−θ/π)^bits]·tables; size
    * `embBits` ≈ log₂(batch/50) for a bounded bucket load). The cells
    * stay what they are good at: the exchange-free shard-vs-CORPUS
    * bucketed join ([[embCandidates]]). */
  private[graft] def embIntraPairs(batch: DataFrame): DataFrame = {
    val e = embCol.get
    // Regime dispatch: below cos ≈ 0.8 a true pair's per-bit hyperplane
    // collision probability sits too close to a random pair's 0.5 for
    // ANY recall-preserving (tables, bits) to emit fewer candidates
    // than the exhaustive join (the q46 lesson — see
    // [[graft.functions.VectorFunctions.blockedAllPairs]]); LSH there
    // would silently cost recall AND outspend brute force, so the
    // blocked equi-join takes over. The default 0.98 stays on LSH.
    if (embNearCos < 0.8) {
      return graft.functions.VectorFunctions
        .blockedAllPairs(batch.select(col(idCol), col(e)), idCol, e)
        .filter(col("cos") >= embNearCos)
        .select(col("d1"), col("d2"))
    }
    // Bucket-width sizing is MEASURED, not static (the hashBuildFits
    // discipline): candidate volume scales as n²·tables·2^(−bits), so
    // a fixed `embBits` is a quadratic cliff one batch-size decade up —
    // at a 1.8M-doc initial ingest the default 12 bits meant ~440
    // vectors per bucket and ~6·10⁹ candidate rows through the exact-
    // cosine verify (measured by the 2M combined rehearsal: the ingest
    // was LSH-verify-bound). bits = log₂(n/50) keeps the expected
    // bucket load ~50 at any batch size; the configured `embBits` is
    // the FLOOR so small batches behave exactly as before, and 20 bits
    // caps the key space (beyond ~50M vectors per batch, split the
    // ingest). Honest recall note: each added bit lowers a true pair's
    // per-table collision probability (at the 0.98 threshold,
    // 12→16 bits moves the 8-table miss rate from ~0.8% to ~3%;
    // planted cos≈0.995 pairs stay >99.9%) — callers needing hard
    // recall at the threshold use more tables or the exact path.
    val nBatch = batch.count().toDouble
    val bits = math.min(20, math.max(embBits,
      math.ceil(math.log(math.max(1.0, nBatch / 50.0)) / math.log(2)).toInt))
    val bk = graft.functions.VectorFunctions
      .ndBuckets(batch.select(col(idCol), col(e)), idCol, e,
        embTables, bits, embDims, salt = "cm-nd")
      .select(col(idCol), posexplode(col("buckets")).as(Seq("t", "bk")))
      .pinned() // both join sides, one typed bucket pass
    // merge-hinted self-join: the bucket table is batch-sized on both
    // sides — a static broadcast build (possible when the batch's size
    // estimate descends from a generator or binary column) would
    // collect it to the driver; see DedupPipeline.verifiedPairs
    val cand = bk.hint("merge").as("a").join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"))
    def side(idAs: String, vecAs: String) =
      batch.select(col(idCol).as(idAs), col(e).as(vecAs))
    cand
      .join(side("d1", "ea"), Seq("d1"))
      .join(side("d2", "eb"), Seq("d2"))
      .filter(graft.functions.VectorFunctions.cosineFast(
        col("ea"), col("eb")) >= embNearCos)
      .select(col("d1"), col("d2"))
      .distinct()
  }

  /** First ingest: gate → batch dedup ([[DedupPipeline.run]]) → write
    * the canonical corpus, then persist the dedup artifacts (signatures,
    * bucketed bands, exact hashes) and the vocabulary sketch so every
    * later shard ingests incrementally. Committed as generation 1 with
    * every artifact's file list pinned. */
  def ingestInitial(docs: DataFrame): IngestReport = withIngestLock {
    require(!hasExisting, s"corpus $name already exists at $root — use ingestShard")
    val (okQ, _) = qualityGate(docs)
    val (ok, _) = contaminationGate(okQ)
    val accepted = ok.pinned() // gate once; feeds dedup + counts
    val (_, _, textKeepers) = DedupPipeline.run(accepted, idCol, textCol, p)
    // embedding-side near-dup among the text-unique keepers: LSH-bucket
    // candidates + cosine verify, drop non-minimum component members
    // (text dups collapsed first, so both signals apply without double
    // work)
    val keepers =
      if (embCol.isEmpty && mediaCol.isEmpty) textKeepers
      else {
        val tk = textKeepers.pinned()
        // every extra signal's edges join ONE dup graph (embedding
        // cosine, perceptual media) over the text-unique keepers
        val extra = embCol.map(_ => embIntraPairs(tk)).toSeq ++
          mediaCol.map(_ => mediaIntraPairs(mediaHashesOf(tk))).toSeq
        val labels = graft.functions.DedupFunctions.connectedComponents(
          extra.reduce(_ unionByName _)
            .select(col("d1").as("src"), col("d2").as("dst")))
        val drops = labels.filter(col("lbl") < col("id"))
          .select(col("id").as(idCol))
        tk.join(drops, Seq(idCol), "left_anti")
      }
    // generation 1 writes every versioned artifact as its v1, and every
    // artifact's schema is the frame's it is written from
    val gen1 = CorpusManifest(name, 0, 0, p.ngram, p.perms, p.bands,
      p.minEstJaccard, numBuckets, bandsVersion = 1, sigScheme = p.hasher.scheme,
      mediaScheme = mediaScheme.toLong)
    val schemas = Map.newBuilder[String, String]
    def write(a: Artifact, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(a.dir(gen1))
      schemas += a.key -> schemaOf(df)
    }
    write(Docs, keepers)
    // re-read: 3 derived passes scan parquet, not the dedup DAG
    val kept = spark.read.schema(SnapshotLog.writtenSchema(keepers)).parquet(docsPath)
    val (sigs, bands) = DedupPipeline.signatureTables(kept, idCol, textCol, p)
    write(Sigs, sigs)
    BucketedSignatureStore.write(bands, bandsTable(1), bandsDir(1),
      numBuckets, bandKeys)
    write(Hashes, kept.select(col(idCol), md5(col(textCol)).as("h")))
    write(Sketch, vocabSketch(kept))
    // the vector twin of the band table: train the coarse quantizer on
    // the final keepers, persist its centroids, and write the corpus
    // vectors (cell)-bucketed so shard candidate joins plan
    // exchange-free on the corpus side
    embCol.foreach { e =>
      BucketedSignatureStore.write(
        assignCells(kept, e, trainQuantizer(kept, e, 1)),
        vecsTable(1), vecsPath(1), numBuckets, Seq("cell"))
    }
    // ...and the media twin: hashes as the pinned (id, h) artifact, then
    // their block rows bucketed ONCE so every shard's cross join scans
    // the corpus side exchange-free (hashes re-read from the just-written
    // parquet — the one decode pass stays the only decode pass)
    val man = mediaCol.fold(gen1) { _ =>
      val written = mediaHashesOf(kept)
      write(Media, written)
      val hashes = spark.read.schema(SnapshotLog.writtenSchema(written)).parquet(mediaPath)
      val combo = desiredMediaCombo(hashes.count())
      writeMediaBlocks(hashes, 1, combo)
      gen1.copy(mediaBlocksVersion = 1, mediaRadius = mediaMaxHamming.toLong,
        mediaCombo = combo.toLong)
    }
    // nRej by set arithmetic, not a reject-side recompute: both gates
    // PARTITION their input row-wise (qualityGate's ok/!ok filters,
    // contaminationGate's semi/anti split on the pinned contaminated
    // ids), so |rej| = |in| − |ok| exactly — counting the pinned
    // accepted frame replaces a second full gate pass (tokenize +
    // bloom + verify join) per ingest (guide §1.2 step 1 / §2.4;
    // measured in OPTIMIZATION_r11.md)
    val (nIn, nKept) = (docs.count(), kept.count())
    val nRej = rejectCount(nIn, accepted.count())
    commitManifest(man.copy(nDocs = nKept,
      files = Some(corpusFiles(listing(man, _))), schemas = schemas.result()))
    IngestReport(nIn, nRej, nIn - nRej - nKept, nKept, Nil)
  }

  /** Refuse a store whose persisted signatures/bands were computed
    * under a DIFFERENT scheme than this build computes: a shard's
    * new-scheme signatures band-join old-scheme corpus rows into
    * near-zero collisions, silently losing near-dup recall — the
    * failure must be loud, before any artifact is touched. */
  private def requireCurrentSigScheme(man: CorpusManifest): Unit = {
    val cur = p.hasher.scheme
    if (man.sigScheme != cur) throw new IllegalStateException(
      s"corpus $name was ingested under signature scheme " +
        s"${man.sigScheme}, but this manager is configured with scheme " +
        s"$cur (hasher ${p.hasher.name}) — band-joining across schemes " +
        "silently loses near-dup recall. Run migrateSignatureScheme() " +
        "to recompute the signature/band artifacts from the canonical " +
        "docs under the configured hasher, or re-ingest.")
  }

  /** The media twin of [[requireCurrentSigScheme]]: a shard's
    * new-scheme hashes Hamming-joined against old-scheme corpus rows
    * (63-bit longs vs 252-bit arrays, or worse, two different 63-bit
    * functions) is silent nonsense — at best zero recall, at worst a
    * schema clash deep inside the ingest job. Refuse loudly, before
    * any artifact is touched. No-op for media-less managers. */
  private def requireCurrentMediaScheme(man: CorpusManifest): Unit =
    if (mediaCol.nonEmpty && man.mediaScheme != mediaScheme) {
      throw new IllegalStateException(
        s"corpus $name's media hashes were computed under scheme " +
          s"${man.mediaScheme}, but this manager is configured with " +
          s"scheme $mediaScheme — Hamming-joining across media-hash " +
          "schemes silently loses dedup recall. Run migrateMediaScheme() " +
          "to recompute the media_hashes artifact from the canonical " +
          "docs' media column under the configured scheme.")
    }

  /** |rej| = |in| − |accepted|: both gates partition their input
    * row-wise. The two counts come from separate scans of the input, so
    * the arithmetic holds only when the input is DETERMINISTIC between
    * them (the ingest contract — a sampled or changing source breaks
    * it). More accepted rows than input rows is that contract broken,
    * and fails loudly with both counts rather than reporting a
    * clamped or negative reject count. */
  private def rejectCount(nIn: Long, nAccepted: Long): Long = {
    if (nAccepted > nIn)
      throw new IllegalStateException(
        s"corpus $name: $nAccepted rows passed the ingest gates but a " +
          s"rescan of the input counts only $nIn — the input is not " +
          "deterministic between scans, so the reject count is undefined")
    nIn - nAccepted
  }

  /** Incremental ingest of one shard. The steps, as they run:
    *
    *   1. pin the gated shard (quality + contamination gates) together
    *      with `md5(text)` — the one content hash, read by the overlap
    *      check, both exact-edge sets and the hashes append; beside the
    *      pin, the committed hashes, sigs and sketch scans list their
    *      files, each scan built once per ingest with the schema the
    *      manifest records (a legacy manifest's scans infer theirs);
    *   2. count, concurrently: a rescan of the raw input (the
    *      determinism check of [[rejectCount]]) and ONE aggregate of the
    *      pinned shard against the committed hashes artifact — accepted
    *      rows, shard ids already committed, and how many of those carry
    *      different content (every committed doc has exactly one hash
    *      row, so a shard all of whose ids are committed is a replay,
    *      and a partial overlap re-ingests the remainder);
    *   3. one MinHash pass over the pinned shard
    *      ([[DedupPipeline.shardSignatures]]); exact-group members leave
    *      the band rows after it, which are written as the bucketed
    *      shard band table;
    *   4. one candidate stage: corpus×shard (exchange-free against the
    *      bucketed corpus band table) ∪ shard×shard band candidates,
    *      pinned, counted and verified against the PINNED signatures
    *      ([[DedupPipeline.runIncrementalAgainst]]); the verified pairs,
    *      the exact-hash pairs (covering sub-ngram docs) and any
    *      embedding/media pairs form the pair graph, which
    *      [[DedupFunctions.connectedComponents]] pins and labels;
    *   5. one window over the labels resolves the drops and the keepers
    *      are pinned: a shard doc is dropped when its cluster holds a
    *      non-shard (corpus) id — the canonical copy is already
    *      ingested — or it is not its shard-only cluster's minimum, so
    *      transitive chains (shard A ≈ shard B ≈ corpus C) collapse to
    *      the corpus copy;
    *   6. one pinned full-outer join of the committed sketch with the
    *      keepers' sketch feeds the vocabulary-drift gate (throws
    *      [[VocabDriftException]] BEFORE any write when a known source's
    *      containment estimate falls below `minVocabContainment`) and,
    *      later, the merged sketch write;
    *   7. the docs, sigs, bands, sketch and hashes appends (plus vecs
    *      and media when configured) and the keeper count run
    *      concurrently ([[Concurrent.allOf]]); once every one has finished, ONE
    *      manifest pinning all of them is committed — the atomic commit
    *      point. A crash or a failed append before the commit leaves
    *      every appended file reader-invisible (orphans for [[vacuum]])
    *      and the corpus byte-identical.
    *
    * Doc ids must be globally unique across shards (the reference's
    * `key()` posture). Replay contract: a shard doc whose id is already
    * in the corpus WITH THE SAME CONTENT is a replayed, committed doc
    * (a streaming restart after a crash between the manifest commit and
    * the checkpoint commit) — the batch re-ingests only the remainder,
    * so a committed batch that had docs DROPPED as duplicates replays
    * cleanly too: the dropped docs re-enter dedup, find their committed
    * canonical (directly or through re-dropped chain members, which are
    * all in the remainder with them), and drop again, yielding a
    * zero-ingest report instead of wedging the stream. A crash BEFORE
    * the manifest commit replays as a normal ingest, because nothing of
    * the first attempt is visible. An id collision WITH DIFFERENT
    * content throws — that is id reuse, and ingesting it would silently
    * lose the new doc. Serialized behind the ingest lock
    * ([[withIngestLock]]).
    */
  def ingestShard(newDocs: DataFrame): IngestReport = withIngestLock {
    require(hasExisting, s"corpus $name has no initial ingest at $root")
    val man = readManifest().get
    requireCurrentSigScheme(man); requireCurrentMediaScheme(man)
    val (okQ, _) = qualityGate(newDocs)
    val (ok, _) = contaminationGate(okQ)
    // the committed scans list their pinned files while the shard pins
    val Seq(shard, committedH, committedSigs, committedSketch) = Concurrent.allOf(Seq(
      () => ok.withColumn(HashCol, md5(col(textCol))).pinned(),
      () => scan(Hashes, man), () => scan(Sigs, man),
      () => scan(Sketch, man)))
    val committed = Committed(committedH, committedSigs, committedSketch)
    // accepted rows × (committed ids, of which content-mismatched): the
    // shard side of the inner join is the small, broadcastable one, so
    // the corpus-sized hashes scan streams. Beside it, the raw-input
    // rescan: |rej| = |in| − |ok| (both gates partition row-wise — see
    // ingestInitial) instead of a full reject-side gate recompute. It
    // runs after the pin, so an input that changes between its scans
    // is caught by rejectCount.
    val inCorpus = shard.select(col(idCol), col(HashCol))
      .join(committedH.select(col(idCol), col("h").as("_hc")), Seq(idCol))
    val Seq(Seq(nAccepted, nInCorpus, mismatched), Seq(nIn)) = Concurrent.allOf(Seq(
      () => {
        val r = shard.agg(count(lit(1)))
          .crossJoin(inCorpus.agg(count(lit(1)),
            count(when(col("_hc") =!= col(HashCol), lit(1)))))
          .head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      },
      () => Seq(newDocs.count())))
    val nRej = rejectCount(nIn, nAccepted)
    if (mismatched > 0) throw new IllegalArgumentException(
      s"$mismatched shard doc ids already exist in corpus $name with " +
        "DIFFERENT content — doc ids must be globally unique")
    if (nInCorpus == 0) ingestShardBody(man, committed, shard, nIn, nRej)
    else if (nInCorpus == nAccepted) IngestReport(nIn, nRej, nIn - nRej, 0, Nil)
    else ingestShardBody(man, committed,
      shard.join(committedH.select(col(idCol)), Seq(idCol), "left_anti").pinned(),
      nIn, nRej)
  }

  /** The committed hashes, sigs and sketch scans, as one shard ingest
    * reads them. */
  private case class Committed(hashes: DataFrame, sigs: DataFrame, sketch: DataFrame)

  /** Dedup, gate and append of a shard whose ids are all new. `shard`
    * is pinned and carries its md5 in [[HashCol]]. */
  private def ingestShardBody(man: CorpusManifest, committed: Committed,
                              shard: DataFrame, nIn: Long, nRej: Long): IngestReport = {
    // -- pair graph: near-dup (MinHash/LSH) ∪ exact (md5) ---------------
    val shardSigs =
      DedupPipeline.shardSignatures(shard, idCol, textCol, p, Some(HashCol))
    val nearPairs = DedupPipeline.runIncrementalAgainst(
      spark, shard, shardSigs, idCol, textCol, bandsTable(man.bandsVersion),
      committed.sigs, s"${name}_shard_bands", s"$dedupPath/shard_bands",
      numBuckets, p,
      // exact-verify reads candidate docs' grams from the PINNED corpus
      corpusDocs = if (p.exactVerify) Some(scan(Docs, man)) else None)
    def norm(a: Column, b: Column) =
      Seq(least(a, b).as("d1"), greatest(a, b).as("d2"))
    val exactCross = shard.as("s")
      .join(committed.hashes.as("c"), col(s"s.$HashCol") === col("c.h"))
      .select(norm(col(s"s.$idCol"), col(s"c.$idCol")): _*)
    // within-shard exact dups are the signature pass's STAR edges
    // (keeper → member): same connected components as the all-pairs
    // self-join, m−1 edges per m-duplicate group instead of m(m−1)/2 —
    // a shard of identical boilerplate docs must not materialize a
    // quadratic pair space
    val exactIntra = shardSigs.star
    // embedding near-dup edges join the SAME dup graph: cross pairs from
    // the (cell)-bucketed corpus vector table (exchange-free corpus
    // side), intra pairs from the shard-local LSH buckets. The shard
    // side probes its top-P cells (corpus storage stays top-1): a
    // near-dup pair straddling a quantizer cell boundary is found
    // whenever the boundary cell is among the shard doc's runner-ups —
    // the IVF multi-probe move, replicating only the shard ×P. P is
    // RECALL-TARGETED ([[probesFor]]): it scales with the trained cell
    // count so the boundary-miss rate stops widening as the corpus
    // grows, floored by the configured `embProbes`; multi-table LSH
    // remains the recall-GUARANTEED shape.
    val shardAssigned = embCol.map { e =>
      val cents = readCentroidsAt(man.bandsVersion)
      graft.functions.VectorFunctions.ivfAssignMulti(
          shard.select(col(idCol), col(e)), idCol, e,
          cents, probesFor(cents.length))
        .pinned()
    }
    val embEdges = shardAssigned.map { a =>
      embCandidates(a, man, committed.hashes).unionByName(embIntraPairs(shard))
    }
    // media edges: intra-shard blocked pairs + shard-vs-corpus pairs
    // through the PERSISTED block store (regenerated first if the
    // committed layout no longer matches this manager's parameters or
    // the corpus size's combo) — same dup graph as text/embedding
    val shardMedia = mediaCol.map(_ => mediaHashesOf(shard).pinned())
    val mediaBlocksState = shardMedia.map(_ => ensureMediaBlocks(man))
    val mediaEdges = shardMedia.map { mh =>
      val (v, combo) = mediaBlocksState.get
      mediaCrossPairs(mh, v, combo, man).unionByName(mediaIntraPairs(mh))
    }
    // duplicate edges are harmless to the components, which pin their
    // input once — no distinct, no second pin here
    val pairs = (embEdges.toSeq ++ mediaEdges.toSeq).foldLeft(
        nearPairs.unionByName(exactCross).unionByName(exactIntra))(
        _ unionByName _)

    // -- cluster and resolve drops (working set = the dup graph): one
    //    window over the labels marks a cluster tainted when it holds a
    //    non-shard id, i.e. a committed doc
    val labels = DedupFunctions.connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val drops = labels
      .join(shard.select(col(idCol).as("id"), lit(true).as("_inShard")),
        Seq("id"), "left")
      .withColumn("_tainted", max(col("_inShard").isNull).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lbl")))
      .filter(col("_inShard").isNotNull &&
        (col("_tainted") || col("id") =!= col("lbl")))
      .select(col("id").as(idCol))
    val keepers = shard.join(drops, Seq(idCol), "left_anti").pinned()

    // -- drift gate (before ANY write: a failed gate leaves the corpus
    //    byte-identical, matching DatasetManager's pre-parse posture —
    //    and consumes no generation, leaves no orphans). The sketch
    //    join is read and pinned ONCE: its rows with a keeper sketch
    //    are the drift report, all of its rows the merged sketch.
    val sketches = sketchJoin(committed.sketch, vocabSketch(keepers)).pinned()
    val drift = driftOf(sketches)
    minVocabContainment.foreach { thr =>
      val bad = drift.filter(d => !d.novelSource && d.containmentEst < thr)
      if (bad.nonEmpty) throw new VocabDriftException(
        bad.map(d => f"${d.source}: containment ${d.containmentEst}%.3f < $thr%.3f")
          .mkString("vocabulary drift — ", "; ", ""))
    }

    // -- append every artifact, then commit ONE manifest pinning the
    //    union of the previous lists and each write's fresh files
    //    (sketch: fresh only — replace semantics; a regenerated media
    //    block store: its whole version dir). Appends are
    //    job-atomic (output-committer staged), so a crash anywhere
    //    before the commit leaves only invisible orphans.
    val prev = pinnedBy(man)
    // the manifest this ingest commits, with the LIVE block-store stamps:
    // ensureMediaBlocks may have regenerated the store (its files
    // already on disk here, so `fresh` below sees only the keeper appends)
    val next = mediaBlocksState.fold(man) { case (v, combo) =>
      man.copy(mediaBlocksVersion = v, mediaRadius = mediaMaxHamming.toLong,
        mediaCombo = combo.toLong)
    }
    val liveMbV = next.mediaBlocksVersion
    val before = Artifacts.map(a => a -> listDir(a.dir(next))).toMap
    def fresh(a: Artifact): Seq[String] = (listDir(a.dir(next)) -- before(a)).toSeq

    // the keepers' signatures are the shard pass's, not a second MinHash
    val keeperSigs = shardSigs.sigs.join(keepers.select(idCol), Seq(idCol), "left_semi")
    val keeperMedia = mediaCol.map(_ => mediaHashesOf(keepers))
    val written = Seq(Docs -> keepers.drop(HashCol), Sigs -> keeperSigs,
      Hashes -> keepers.select(col(idCol), col(HashCol).as("h")))
    val merged = mergedSketch(sketches)
    // an appended artifact keeps its recorded schema while the append
    // writes the same one (otherwise its scans infer, as before the
    // field); a legacy manifest's hashes and sigs take the schemas their
    // committed scans inferred. The sketch pin is fresh: its schema is
    // the merged frame's.
    val held = if (man.schemas.nonEmpty) man.schemas
      else Map(Hashes.key -> committed.hashes.schema.json, Sigs.key -> committed.sigs.schema.json)
    val schemas = (written ++ keeperMedia.map(Media -> _)).flatMap { case (a, df) =>
      held.get(a.key).filter(_ == schemaOf(df)).map(a.key -> _)
    }.toMap + (Sketch.key -> schemaOf(merged))
    val appends: Seq[() => Unit] = written.map { case (a, df) =>
      () => df.write.mode("append").parquet(a.dir(next))
    } ++ Seq(
      () => BucketedSignatureStore.append(DedupPipeline.bandRows(keeperSigs, idCol, p),
        bandsTable(man.bandsVersion), numBuckets, bandKeys),
      () => merged.write.mode("append").parquet(sketchPath)) ++
      embCol.map { e => () =>
        BucketedSignatureStore.append(
          assignCells(keepers, e, readCentroidsAt(man.bandsVersion)), vecsTable(man.bandsVersion),
          numBuckets, Seq("cell"))
      } ++
      keeperMedia.map { mh => () =>
        // one keeper decode pass feeds the pinned hash artifact AND the
        // block-store append (blocks stay exchange-free for the next shard)
        val keeperHashes = mh.pinned()
        keeperHashes.write.mode("append").parquet(mediaPath)
        graft.sources.MediaBlockStore.append(keeperHashes, mediaScheme,
          mediaMaxHamming, mediaBlocksState.get._2,
          mediaBlocksTable(liveMbV), numBuckets)
      }
    val nKept = Concurrent.allOf((() => keepers.count()) +: appends.map(a => () => { a(); 0L })).head

    commitManifest(next.copy(nDocs = man.nDocs + nKept, schemas = schemas,
      files = Some(corpusFiles {
        case Sketch => fresh(Sketch)
        case MediaBlocks if mediaCol.isEmpty => prev.byKey(MediaBlocks.key)
        case MediaBlocks if liveMbV != man.mediaBlocksVersion => listing(next, MediaBlocks)
        case a => prev.byKey(a.key) ++ fresh(a)
      })))
    IngestReport(nIn, nRej, nIn - nRej - nKept, nKept, drift)
  }

  /** Streaming ingest (the corpus twin of
    * [[graft.streaming.IncrementalStream]]'s cron-run shape): each
    * micro-batch of parquet drops landing in `dir` becomes one
    * [[ingestShard]] call via foreachBatch, under Trigger.AvailableNow —
    * process the backlog, then stop. The checkpoint makes repeated runs
    * exactly-once at the FILE level (a rerun with the same checkpoint
    * ingests nothing new). Crash recovery follows from the manifest
    * being the single commit point: a crash BEFORE the manifest commit
    * replays as a normal ingest (the first attempt's files are
    * invisible orphans); a crash BETWEEN the manifest commit and the
    * checkpoint commit is detected on replay by the full id overlap and
    * reports zero ingest instead of duplicating. A crashed run also
    * leaves the ingest lock behind: delete it after verifying no writer
    * is live, then restart the stream. `maxFilesPerTrigger` bounds
    * batch size so a backlog becomes several shard ingests, not one
    * giant one. `onBatch` observes each batch's [[IngestReport]]
    * (drift monitoring hook). */
  def ingestStream(dir: String, schema: org.apache.spark.sql.types.StructType,
                   checkpoint: String, maxFilesPerTrigger: Int = 0,
                   onBatch: (Long, IngestReport) => Unit = (_, _) => ()): Unit = {
    val src = graft.streaming.IncrementalStream.source(
      spark, dir, schema, maxFilesPerTrigger)
    val fn: (DataFrame, Long) => Unit = (batch, id) =>
      if (!batch.isEmpty) onBatch(id, ingestShard(batch))
    val q = src.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Maintenance compaction of the append-accumulated artifacts: every
    * shard ingest adds a part-file set to docs/sigs/hashes/sketch and
    * `numBuckets` files to the band table, so after many generations
    * scans pay file-listing and open-per-file costs (the classic
    * small-files problem). Reads each artifact's PINNED list, writes
    * the compacted replacement ALONGSIDE the old files (append-mode new
    * part files; the band table as the next `bands_vN` generation), and
    * commits one manifest pinning only the replacements — so readers on
    * the previous manifest are untouched, a crash at any point changes
    * nothing visible, and NO maintenance window is needed. Old files
    * are reclaimed by [[vacuum]]. Commits a generation so the
    * maintenance event is recorded. */
  def compactArtifacts(partitions: Int = 0): CorpusManifest = withIngestLock {
    require(hasExisting, s"corpus $name has no initial ingest at $root")
    val man = readManifest().get
    requireCurrentSigScheme(man) // compaction COPIES sig/band rows forward
    requireCurrentMediaScheme(man) // ...and media-hash rows, into mediaPath
    val n = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism
    val files = pinnedBy(man)
    // a rewritten artifact's files all carry its scan's schema
    val schemas = Map.newBuilder[String, String] ++= man.schemas
    def rewrite(a: Artifact, parts: Int): (String, Seq[String]) = {
      val df = scan(a, man)
      schemas += a.key -> schemaOf(df)
      a.key -> added(man, a)(df.repartition(parts).write.mode("append").parquet(a.dir(man)))
    }
    // the sketch is k longs × sources, the media hashes 16 B/doc
    val rewritten = Seq(rewrite(Docs, n), rewrite(Sigs, n), rewrite(Hashes, n),
      rewrite(Sketch, 1)) ++ mediaCol.map(_ => rewrite(Media, 1))
    val v2 = man.bandsVersion + 1
    // The band table is dir-scanned (its join property lives in catalog
    // bucket metadata, not a pinned list), so crashed-ingest orphan rows
    // are present here — harmless to reads (the verify join requires
    // both ids in the PINNED sig/hash tables) but rewriting them into
    // bands_v(N+1) would pin them forever and vacuum could never
    // reclaim them. Semi-join against the pinned signatures to drop
    // orphans at the one moment the table is rewritten anyway.
    BucketedSignatureStore.write(
      BucketedSignatureStore.table(spark, bandsTable(man.bandsVersion))
        .join(scan(Sigs, man).select(idCol), Seq(idCol), "left_semi"),
      bandsTable(v2), bandsDir(v2), numBuckets, bandKeys)
    // Retrain the coarse quantizer on the full compacted corpus: shard
    // appends assign with the centroids trained at INITIAL ingest, so as
    // shards accumulate the quantizer drifts away from the corpus
    // distribution — cells skew (the shard candidate join's cost is
    // quadratic in the biggest cell) and genuinely-near vectors straddle
    // stale cell boundaries, costing recall. Compaction is the one
    // moment the artifact set is rewritten anyway, so the retrain and
    // the reassignment ride the same pass, versioned v(N+1) beside the
    // band table; readers pinned to older manifests keep their ann/v(N)
    // files (and the matching centroid sidecar) untouched.
    embCol.foreach { e =>
      require(files.vecs.nonEmpty, s"corpus $name has no vector artifact " +
        "— it was ingested without embCol; embedding dedup needs a " +
        "re-ingest, not a config flip on an existing store")
      val cur = spark.read.parquet(files.vecs.map(f => s"$root/$f"): _*)
        .select(col(idCol), col(e))
      BucketedSignatureStore.write(
        assignCells(cur, e, trainQuantizer(cur, e, v2)),
        vecsTable(v2), vecsPath(v2), numBuckets, Seq("cell"))
    }
    // media BLOCK store: regenerate from the PINNED hashes as the next
    // version — re-sizes combo to the compacted corpus and, like the
    // band semi-join above, sheds crashed-ingest orphan block rows at
    // the one moment the table is rewritten anyway
    val next = mediaCol.fold(man.copy(bandsVersion = v2)) { _ =>
      val hashes = scan(Media, man)
      val v = man.mediaBlocksVersion + 1
      val combo = desiredMediaCombo(hashes.count())
      writeMediaBlocks(hashes, v, combo)
      man.copy(bandsVersion = v2, mediaBlocksVersion = v,
        mediaRadius = mediaMaxHamming.toLong, mediaCombo = combo.toLong)
    }
    // a regenerated versioned artifact pins its whole new version dir
    val regenerated = (Seq(Bands) ++ embCol.map(_ => Vecs) ++ mediaCol.map(_ => MediaBlocks))
      .map(a => a.key -> listing(next, a))
    commitManifest(next.copy(files = Some(files.updated(rewritten ++ regenerated: _*)),
      schemas = schemas.result()))
  }

  /** One-shot migration for stores created BEFORE the versioned ANN
    * layout — a pre-versioning `ann/{vectors,centroids}` store, or one
    * ingested before the embedding path existed. Builds `ann/v{N}` for
    * the CURRENT bandsVersion from the PINNED docs table (which carries
    * the embedding column): trains the quantizer with the same
    * deterministic recipe as `ingestInitial` (md5-ordered seeds →
    * Lloyd), writes the (cell)-bucketed vector table, and commits a
    * manifest pinning the new files — docs, signatures, bands and
    * sketches are untouched, so existing corpora skip the full
    * re-ingest the layout change otherwise demands. Subsequent shard
    * dedup is then IDENTICAL to a store whose vectors were written at
    * initial ingest: the quantizer is a function of the (unchanged)
    * canonical corpus. Pre-versioning `ann/vectors` files are left in
    * place, unpinned (no manifest references them; their cell
    * assignments predate quantizer versioning and must not be trusted)
    * — delete the legacy dir once pre-migration readers drain.
    * Crash-safe: the bucketed write overwrites, and the manifest swap
    * is the commit point; a crashed attempt leaves reader-invisible
    * files and a retry rewrites them. Refuses (loudly) when the live
    * manifest already pins vectors — nothing to migrate — or when
    * `embCol` is unset. */
  def migrateAnnLayout(): CorpusManifest = withIngestLock {
    require(hasExisting, s"corpus $name has no initial ingest at $root")
    val e = embCol.getOrElse(throw new IllegalArgumentException(
      s"corpus $name: migrateAnnLayout needs embCol configured"))
    val man = readManifest().get
    val files = man.files.get
    require(files.vecs.isEmpty,
      s"corpus $name already pins ${files.vecs.size} vector files " +
        s"(ann/v${man.bandsVersion}) — nothing to migrate")
    val cur = scan(Docs, man)
    require(cur.columns.contains(e),
      s"corpus $name docs carry no '$e' column — the embedding source " +
        "is absent, so there is nothing to build the ANN artifact from")
    val v = man.bandsVersion
    val vecs = cur.select(col(idCol), col(e))
    BucketedSignatureStore.write(
      assignCells(vecs, e, trainQuantizer(vecs, e, v)),
      vecsTable(v), vecsPath(v), numBuckets, Seq("cell"))
    // the quantizer is scheme-independent; the store's signature and
    // media schemes (and block-store stamps) carry through, so this
    // migration cannot mask a pending
    // migrateSignatureScheme()/migrateMediaScheme()
    commitManifest(man.copy(files = Some(files.updated(Vecs.key -> listing(man, Vecs)))))
  }

  /** Recompute the signature/band artifacts under the CURRENT
    * [[graft.functions.Signatures.SchemeVersion]] — the remedy
    * [[requireCurrentSigScheme]] directs to when a store's persisted
    * signatures predate a scheme change. Appends a fresh signature
    * generation (readers pinned to older manifests keep their files),
    * writes the band table as `bands_v(N+1)`, retrains/rewrites the ANN
    * artifacts beside it when `embCol` is set (they are versioned WITH
    * the band table), and commits a manifest stamped with the current
    * scheme. Hashes and sketches are scheme-independent and carry
    * forward. Docs are untouched — this is the cheap alternative to a
    * full re-ingest, and it changes no dedup DECISIONS (those were
    * already taken); it restores the comparability of future shard
    * signatures with the persisted corpus. */
  def migrateSignatureScheme(): CorpusManifest = withIngestLock {
    require(hasExisting, s"corpus $name has no initial ingest at $root")
    val man = readManifest().get
    val cur = p.hasher.scheme
    require(man.sigScheme != cur,
      s"corpus $name is already at signature scheme $cur — nothing to migrate")
    val files = man.files.get
    val kept = scan(Docs, man)
    val (sigs, bands) = DedupPipeline.signatureTables(kept, idCol, textCol, p)
    val newSigs = added(man, Sigs)(sigs.write.mode("append").parquet(sigsPath))
    // media hashes (and their block store) are signature-scheme-
    // independent: the store's media stamps carry through (this
    // migration must not silently restamp them)
    val next = man.copy(bandsVersion = man.bandsVersion + 1, sigScheme = cur)
    val v2 = next.bandsVersion
    BucketedSignatureStore.write(bands, bandsTable(v2), bandsDir(v2),
      numBuckets, bandKeys)
    val newVecs = embCol.filter(_ => files.vecs.nonEmpty).map { e =>
      val curVecs = spark.read.parquet(files.vecs.map(f => s"$root/$f"): _*)
        .select(col(idCol), col(e))
      BucketedSignatureStore.write(
        assignCells(curVecs, e, trainQuantizer(curVecs, e, v2)),
        vecsTable(v2), vecsPath(v2), numBuckets, Seq("cell"))
      Vecs.key -> listing(next, Vecs)
    }
    commitManifest(next.copy(
      files = Some(files.updated(Seq(Sigs.key -> newSigs, Bands.key -> listing(next, Bands)) ++
        newVecs: _*)),
      schemas = man.schemas + (Sigs.key -> schemaOf(sigs))))
  }

  /** Recompute the media-hash artifact under the CONFIGURED
    * `mediaScheme` — the remedy [[requireCurrentMediaScheme]] directs
    * to. The new-scheme hashes are computed from the PINNED docs'
    * media column (one decode pass over the canonical corpus) and
    * written into the new scheme's dir; the commit pins ONLY the fresh
    * files and stamps the new scheme, while readers pinned to older
    * manifests keep the old-scheme files untouched (vacuum reclaims
    * them once those manifests retire). Docs, signatures, bands,
    * hashes and sketches are untouched — like [[migrateSignatureScheme]]
    * this changes no past dedup DECISIONS (those were already taken);
    * it restores the comparability of future shard hashes with the
    * persisted corpus. Append+fresh (not overwrite) so a retried
    * migration after a crash cannot pin the crashed attempt's files,
    * and a LATER migration back to a previously-used scheme cannot
    * delete files still pinned by retained manifests.
    * Reference analog: `update_array_encoding`'s refuse-then-migrate
    * posture (`utils/metadata.py:835-946`). */
  def migrateMediaScheme(): CorpusManifest = withIngestLock {
    require(hasExisting, s"corpus $name has no initial ingest at $root")
    val mc = mediaCol.getOrElse(throw new IllegalArgumentException(
      s"corpus $name: migrateMediaScheme needs mediaCol configured"))
    val man = readManifest().get
    require(man.mediaScheme != mediaScheme,
      s"corpus $name is already at media scheme $mediaScheme — nothing to migrate")
    val files = man.files.get
    val cur = scan(Docs, man)
    require(cur.columns.contains(mc),
      s"corpus $name docs carry no '$mc' column — the media source is " +
        "absent, so there is nothing to rehash")
    // the block store is scheme-keyed derived data: rebuild it from the
    // fresh-scheme hashes as the next version, so the very next shard
    // ingest joins the new layout instead of regenerating lazily
    val next = man.copy(mediaScheme = mediaScheme.toLong,
      mediaBlocksVersion = man.mediaBlocksVersion + 1, mediaRadius = mediaMaxHamming.toLong)
    val hashes = mediaHashesOf(cur)
    val newMedia = added(next, Media)(hashes.write.mode("append").parquet(mediaPath))
    val mediaSchema = SnapshotLog.writtenSchema(hashes)
    val newHashes = log.scan(Some(newMedia), Some(mediaSchema), mediaPath)
    val mbCombo = desiredMediaCombo(newHashes.count())
    writeMediaBlocks(newHashes, next.mediaBlocksVersion, mbCombo)
    commitManifest(next.copy(mediaCombo = mbCombo.toLong,
      files = Some(files.updated(Media.key -> newMedia,
        MediaBlocks.key -> listing(next, MediaBlocks))),
      schemas = man.schemas + (Media.key -> mediaSchema.json)))
  }

  /** Delete artifact files not referenced by the newest `retainLast`
    * COMMITTED manifests — crashed-ingest orphans, superseded sketch
    * generations, pre-compaction files — and retire the band, vector
    * and media-block versions no retained manifest uses (dir + catalog
    * entry). The retained set walks the manifests' `parent` chain from
    * the committed pointer, so an orphaned generation CLAIM (a crashed
    * commit that never swapped the pointer — a gen number no reader was
    * ever pinned to) neither consumes a retention slot nor keeps its
    * own dead files alive.
    * Returns the root-relative deleted file paths. Reading at manifests
    * older than the retained window is forfeited. Serialized behind the
    * ingest lock: a live writer's freshly appended, not-yet-committed
    * files look exactly like orphans. */
  def vacuum(retainLast: Int = 2): Seq[String] = withIngestLock {
    require(retainLast >= 1, "must retain at least the latest generation")
    val man = readManifest().getOrElse(
      throw new IllegalStateException(s"corpus $name has no manifest at $root"))
    val chain = Iterator.iterate(Option(man))(_.flatMap(m =>
        if (m.parent < 1) None else readManifestAt(m.parent)))
      .takeWhile(_.isDefined).flatten.take(retainLast).toSeq
    val retained = chain.flatMap(_.files)
    if (retained.isEmpty) throw new IllegalStateException(
      s"no retained manifest pins file lists (legacy store at $root); " +
        "vacuum would treat every artifact file as an orphan")
    val referenced = retained.flatMap(_.byKey.values.flatten).toSet
    // every version of every artifact on disk participates: crashed
    // ingests leave orphan files in the live versions, compactions,
    // regenerations and scheme migrations leave whole stale ones
    val onDisk = Artifacts.map(a => a -> a.onDisk()).toMap
    val all = Artifacts.flatMap(a => onDisk(a).flatMap(v => listDir(a.dirAt(v))))
    val doomed = (all.toSet -- referenced).toSeq.sorted
    doomed.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(root, f), false))
    // retire a versioned artifact's versions left with no files (dir +
    // catalog) — but NEVER the live version: a legitimately-empty
    // active band table (empty bootstrap corpus) must survive for the
    // next ingest's append to target
    for (a <- Artifacts; r <- a.retired; v <- onDisk(a)
         if v != a.version(man) && listDir(a.dirAt(v)).isEmpty) {
      fs.delete(new Path(r.dir(v)), true)
      spark.sql(s"DROP TABLE IF EXISTS ${r.table(v)}")
    }
    // the live tables may have lost orphan files — drop cached indexes
    for (a <- Artifacts; r <- a.retired; t = r.table(a.version(man))
         if spark.catalog.tableExists(t))
      spark.catalog.refreshTable(t)
    doomed
  }

  /** Committed sketch rows (`ma`) full-outer-joined with a shard's
    * (`mb`) on the source: one frame for both the drift gate and the
    * merged sketch. */
  private def sketchJoin(corpusSketch: DataFrame, shardSketch: DataFrame): DataFrame =
    corpusSketch.select(col(sourceCol), col("minima").as("ma"))
      .join(shardSketch.select(col(sourceCol), col("minima").as("mb")),
        Seq(sourceCol), "full_outer")

  /** Per-source drift of a shard against the stored corpus sketches.
    * X = k minima of the union sketch; Jaccard ≈ |X∩A∩B|/|X|,
    * containment(B⊆A) ≈ |X∩A∩B|/|X∩B| — all O(k) array intrinsics on
    * rows that are k longs each, so the compare never leaves the
    * sketch table's scale regardless of corpus size. */
  private def driftOf(sketches: DataFrame): Seq[SourceDrift] = {
    val xs = slice(array_sort(array_union(col("ma"), col("mb"))), 1, sketchK)
    val both = size(array_intersect(xs, array_intersect(col("ma"), col("mb"))))
      .cast("double")
    // denominator guards: a FULLY drifted known source can have no shard
    // minima among the union's k minima (|X∩B| = 0 once corpus vocab ≥ k)
    // — that is maximal drift, containment 0, NOT a 0/0 null that would
    // NPE the collect below. |X| = 0 only when both vocabularies are
    // empty; call that identical (jac 1, cont 1) rather than drifted.
    val shardInX = size(array_intersect(xs, col("mb")))
    sketches.filter(col("mb").isNotNull)
      .select(col(sourceCol),
        when(col("ma").isNull, lit(0.0))
          .when(size(xs) === 0, lit(1.0))
          .otherwise(both / size(xs)).as("jac"),
        when(col("ma").isNull, lit(0.0))
          .when(size(xs) === 0, lit(1.0))
          .when(shardInX === 0, lit(0.0))
          .otherwise(both / shardInX.cast("double")).as("cont"),
        col("ma").isNull.as("novel"))
      .collect()
      .map(r => SourceDrift(r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getBoolean(3)))
      .toSeq
  }

  /** The shard's sketches folded into the stored ones: per source, the
    * k smallest of the union (exact KMV merge); unseen sources enter
    * as-is. Written as NEW files next to the old generation (the next
    * manifest pins only the replacement) — the read side scans the
    * pinned old files, which outlive this write. */
  private def mergedSketch(sketches: DataFrame): DataFrame =
    sketches
      .select(col(sourceCol),
        slice(array_sort(array_union(
            coalesce(col("ma"), array()), coalesce(col("mb"), array()))),
          1, sketchK).as("minima"))
      .coalesce(1)
}

object CorpusManager {
  /** Anchor probe density of the recall-targeted policy
    * ([[CorpusManager.probesFor]]): one shard-side probe per this many
    * quantizer cells — the density of the MEASURED 2M combined record
    * (3 probes over 1665 cells → 99.8% planted cross recall;
    * PLANS.md round-10 combined probe). */
  val CellsPerProbe: Int = 555

  /** Upper bound on auto-raised probes: beyond this, shard replication
    * cost stops buying recall efficiently and the multi-table-LSH
    * shape is the recall-guaranteed alternative. [[cellsFor]]'s 4096
    * cap keeps the policy at ≤ 8 probes unless `annCells` is
    * user-raised past it. */
  val MaxAutoProbes: Int = 16
}
