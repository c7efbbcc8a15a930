package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.charset.StandardCharsets
import java.util.ConcurrentModificationException

/** The snapshot-manifest protocol both versioned stores commit through:
  * [[GriddedStore]] (`_versions/vNNNNNN.json` + `_descriptor.json`) and
  * [[graft.etl.CorpusManager]] (`_gens/gNNNNNN.json` + `_corpus.json`).
  * Under `root`, a ladder of numbered CLAIM files in `claimDir`
  * (`<prefix>NNNNNN.json`), each a whole sealed manifest
  * ([[ManifestIO]]), and a POINTER file holding the committed one.
  * Readers resolve through the pointer; writers number their claims
  * from the ladder.
  *
  * A commit has two layers:
  *
  *  1. claim N is created with [[CommitProtocol.putIfAbsent]]: exactly
  *     one of two racing writers wins, and the loser gets a
  *     ConcurrentModificationException before touching the pointer —
  *     the optimistic-concurrency guard a single pointer file lacks (the
  *     reference gets it from the IPNS pointer swap);
  *  2. the pointer is then published with [[CommitProtocol.swapPointer]]
  *     (rename-with-OVERWRITE on HDFS-like stores, a whole-object PUT in
  *     conditional mode) — NOT delete-then-rename, whose crash window
  *     leaves no pointer at all: a half-written store would then look
  *     fresh, and the next writer would route to its initial write and
  *     silently clobber data.
  *
  * Both primitives come from the open-time capability check
  * ([[CommitProtocol.forStore]]), so the guarantees hold on every
  * filesystem a log can be opened on: schemes that cannot deliver them
  * are rejected at construction. A crash between the two layers leaves
  * a claim no reader resolves to; writers number from the ladder, not
  * the pointer, so the next commit skips the orphaned number instead of
  * wedging on it.
  *
  * Manifests pin root-relative file lists ([[listFiles]]) and may record
  * the data schema of those files, which [[scan]] reads with. */
final class SnapshotLog(spark: SparkSession, root: String, claimDir: String,
                        prefix: String, pointerName: String) {

  private val rootPath = new Path(root)
  def fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The commit primitives, selected at open (see the class doc). Lock
    * files and markers beside the log use them directly. */
  val commits: CommitProtocol =
    CommitProtocol.forStore(rootPath, spark.sparkContext.hadoopConfiguration)

  val claims = new Path(rootPath, claimDir)
  val pointer = new Path(rootPath, pointerName)
  private def claimPath(n: Long) = new Path(claims, f"$prefix$n%06d.json")
  private val ClaimName = s"${java.util.regex.Pattern.quote(prefix)}(\\d+)\\.json".r

  /** (number, mtime ms) of every claim on the ladder, in listing order.
    * The mtime is the claim's atomic-create instant. */
  def listClaims(): Seq[(Long, Long)] =
    if (!fs.exists(claims)) Nil
    else fs.listStatus(claims).toSeq.flatMap(st => st.getPath.getName match {
      case ClaimName(n) => Some(n.toLong -> st.getModificationTime)
      case _ => None
    })

  /** The highest claimed number; 0 for an empty ladder. */
  def latest(): Long = listClaims().foldLeft(0L)((m, c) => math.max(m, c._1))

  def hasPointer: Boolean = fs.exists(pointer)

  /** The committed manifest. The swapped pointer reads raw and retried
    * ([[ManifestIO.readPointerVerified]]): a crc sidecar cannot swap
    * atomically with its data file, and emulated rename-overwrite has a
    * transient no-pointer window. The existence probe is gap-tolerant
    * too: an absent pointer beside a claim ladder is a reader inside
    * that window, not a fresh log. */
  def readPointer(): Option[String] =
    if (hasPointer) Some(ManifestIO.readPointerVerified(fs, pointer))
    else if (fs.exists(claims)) {
      Thread.sleep(50)
      if (hasPointer) Some(ManifestIO.readPointerVerified(fs, pointer)) else None
    } else None

  /** Claim `n`'s manifest; None when it was never claimed. A crashed
    * commit's zero-byte or partial claim reads as its bytes, and fails
    * its caller's parse. */
  def readClaim(n: Long): Option[String] =
    if (!fs.exists(claimPath(n))) None
    else Some(ManifestIO.readVerified(fs, claimPath(n)))

  /** Commit `manifest` as number `n`: seal it, claim `n`, swap the
    * pointer. Throws ConcurrentModificationException, before the
    * pointer is touched, when another writer claimed `n` first. */
  def commit(n: Long, manifest: String): Unit = {
    fs.mkdirs(claims)
    val bytes = ManifestIO.seal(manifest.getBytes(StandardCharsets.UTF_8))
    try commits.putIfAbsent(claimPath(n), bytes)
    catch {
      case e: ConcurrentModificationException =>
        throw new ConcurrentModificationException(
          s"${claimPath(n)} was claimed by another writer", e)
    }
    commits.swapPointer(pointer, bytes)
  }

  /** Point the pointer back at committed claim `n` — the same sealed
    * bytes it received at that commit — and return the manifest. */
  def republish(n: Long): String = {
    val manifest = ManifestIO.readVerified(fs, claimPath(n))
    commits.swapPointer(pointer, ManifestIO.seal(manifest.getBytes(StandardCharsets.UTF_8)))
    manifest
  }

  /** Root-relative paths of the non-hidden files now in `dir` (empty
    * when it does not exist). Writers diff this before and after a
    * write to learn which files the write created: O(files in `dir`),
    * the manifest-maintenance cost every file-pinning format pays. */
  def listFiles(dir: Path): Set[String] =
    if (!fs.exists(dir)) Set.empty
    else {
      val rootPrefix = fs.makeQualified(rootPath).toString + "/"
      fs.listStatus(dir).collect {
        case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") =>
          val q = fs.makeQualified(st.getPath).toString
          require(q.startsWith(rootPrefix), s"$q not under $rootPrefix")
          q.stripPrefix(rootPrefix)
      }.toSet
    }

  /** The data a manifest pins: exactly the root-relative file list
    * `pin`, read with the manifest-recorded `schema` so building the
    * frame runs no footer-inference job (`basePath` keeps directory
    * partition columns live on an explicit list). A manifest without a
    * recorded schema infers it.
    *
    * An EMPTY pin means "committed empty": a zero-row frame of the
    * recorded schema. Falling through to a scan of `dir` would make
    * crashed writers' orphans and retired files reader-visible — the
    * phantom-visibility hole pinning exists to close — and directory
    * inference dies once vacuum has reclaimed them; a manifest older
    * than its schema field has no other source, and re-commits once to
    * gain it. No pin at all (pre-pinning legacy) scans `dir`. */
  def scan(pin: Option[Seq[String]], schema: Option[StructType], dir: String,
           basePath: Option[String] = None): DataFrame = pin match {
    case Some(files) if files.nonEmpty =>
      val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
      schema.fold(reader)(reader.schema).parquet(files.map(f => s"$root/$f"): _*)
    case Some(_) => schema match {
      case Some(s) => spark.createDataFrame(new java.util.ArrayList[Row](), s)
      case None => spark.read.parquet(dir).filter(lit(false))
    }
    case None => spark.read.parquet(dir)
  }
}

object SnapshotLog {

  /** The schema a scan of the parquet files written from `df` reports:
    * the writer stores every field, array element and map value as
    * nullable. Recording it at commit lets later scans skip footer
    * inference without reading anything back. */
  def writtenSchema(df: DataFrame): StructType =
    nullable(df.schema).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
