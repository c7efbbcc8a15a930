package graft.catalog

import java.util

import graft.sources.{GridManifest, GriddedStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 `TableCatalog` over a warehouse of [[GriddedStore]]s — the SQL
  * face of the MVCC store (the reference's equivalent surface is "open
  * the dataset by its IPNS name"; here it is ANSI SQL in any Spark
  * session):
  *
  * {{{
  *   spark.sql.catalog.grid           = graft.catalog.GridCatalog
  *   spark.sql.catalog.grid.warehouse = /data/grid-warehouse
  *
  *   SELECT * FROM grid.chirps WHERE time_bucket = 19000
  *   SELECT * FROM grid.chirps VERSION AS OF 6        -- manifest pin
  *   SELECT * FROM grid.chirps TIMESTAMP AS OF '2026-08-01 00:00:00'
  * }}}
  *
  * Each table resolves to the file list PINNED by the requested manifest
  * (the committed pointer by default), served through Spark's own
  * DSv2 parquet table — so filter pushdown, column pruning and
  * `time_bucket` partition pruning all come from the stock machinery,
  * and a concurrent mutation cannot change the files a running query
  * reads (snapshot isolation carries over to SQL verbatim).
  *
  * `VERSION AS OF n` maps to [[GriddedStore.readAt]]'s semantics;
  * `TIMESTAMP AS OF t` resolves to the newest manifest version whose
  * commit file predates `t` (manifest mtime — commits are atomic
  * renames, so the mtime is the publish instant).
  *
  * Tables are READ-ONLY through SQL by design: an `INSERT INTO` that
  * wrote parquet files directly would land orphans invisible to the
  * pinned manifest — an apparently-successful write that no reader ever
  * sees. Mutations must go through the [[GriddedStore]] write paths
  * (claim → write → manifest swap), so the catalog table advertises no
  * write capability and DML fails loudly at analysis.
  */
class GridCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"GridCatalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rootOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def storeFor(ident: Identifier): GriddedStore = {
    val store = new GriddedStore(rootOf(ident), spark)
    if (!store.hasExisting)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    store
  }

  override def tableExists(ident: Identifier): Boolean =
    new GriddedStore(rootOf(ident), spark).hasExisting

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(dir)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => f.exists(new Path(p, "_descriptor.json")))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def loadTable(ident: Identifier): Table =
    if (ident.name().endsWith("$history")) {
      // Iceberg-style metadata table: SELECT * FROM cat.`ds$history`
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$history"))
      historyTable(base, storeFor(base))
    } else if (ident.name().endsWith("$files")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$files"))
      filesTable(base, storeFor(base))
    } else {
      val store = storeFor(ident)
      snapshotTable(ident, store, store.manifest().getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)))
    }

  /** One row per manifest version: commit time (file mtime — the atomic
    * publish instant), in-progress flag (a lasting `true` marks a
    * crashed writer's claim), pinned file count, committed date range.
    * Everything a `DESCRIBE HISTORY` needs to pick a `VERSION AS OF`. */
  private def historyTable(ident: Identifier, store: GriddedStore): Table = {
    val rows = store.log.listClaims().sorted.flatMap { case (v, mtime) =>
      store.manifestAt(v).map { m =>
        val d = m.descriptor
        InternalRow(v, mtime * 1000L, d.updateInProgress, m.files.map(_.size).getOrElse(-1),
          d.dateRange.map(r => Long.box(r._1)).orNull, d.dateRange.map(r => Long.box(r._2)).orNull)
      }
    }
    new MetaTable(s"$ident$$history", GridCatalog.HistorySchema, rows)
  }

  /** One row per data file the COMMITTED pointer pins: root-relative
    * path, directory-partition bucket, size, mtime — the ops view of a
    * snapshot (small-file skew, bucket balance, compaction targets). */
  private def filesTable(ident: Identifier, store: GriddedStore): Table = {
    val pinned = store.snapshotFiles().getOrElse(Seq.empty)
    val rootPath = new Path(store.root)
    val f = fs(rootPath)
    val Bucket = ".*time_bucket=(-?\\d+)/.*".r
    val rows = pinned.sorted.map { rel =>
      val st = f.getFileStatus(new Path(store.root, rel))
      val bucket = rel match { case Bucket(b) => b.toLong; case _ => -1L }
      InternalRow(UTF8String.fromString(rel), bucket, st.getLen, st.getModificationTime * 1000L)
    }
    new MetaTable(s"$ident$$files", GridCatalog.FilesSchema, rows)
  }

  /** `VERSION AS OF v` — the pinned list of manifest version `v`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val store = storeFor(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"GridCatalog versions are manifest numbers, got '$version'")
    }
    val m = store.manifestAt(v).filter(_.files.isDefined).getOrElse(
      throw new IllegalArgumentException(
        s"$ident has no committed manifest at version $v"))
    snapshotTable(ident, store, m)
  }

  /** `TIMESTAMP AS OF t` — newest manifest whose commit mtime <= t. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val asOfMs = timestampMicros / 1000L
    val eligible = storeFor(ident).log.listClaims().filter(_._2 <= asOfMs).map(_._1)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"$ident has no manifest committed at or before timestamp " +
          s"$timestampMicros us")
    loadTable(ident, eligible.max.toString)
  }

  /** The files `m` pins (committed empty: none, a zero-row table; a
    * legacy pre-file-tracking manifest: a directory scan), read with its
    * recorded schema, so resolving the table infers nothing. */
  private def snapshotTable(ident: Identifier, store: GriddedStore,
                            m: GridManifest): Table = {
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("basePath", store.dataPath))
    val paths = m.files.fold(Seq(store.dataPath))(_.map(fp => s"${store.root}/$fp"))
    new SnapshotTable(ident.toString, ParquetTable(ident.toString, spark,
      opts, paths, m.dataSchema, classOf[ParquetFileFormat]))
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"GridCatalog tables are read-only through SQL; $what must go " +
        "through the graft.sources.GriddedStore write paths (claim -> " +
        "write -> manifest swap) so the snapshot invariants hold")

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    unsupported("CREATE TABLE")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    unsupported("ALTER TABLE")
  override def dropTable(ident: Identifier): Boolean =
    unsupported("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    unsupported("RENAME TABLE")

  // ---- namespaces: directories under the warehouse ----------------------

  override def listNamespaces(): Array[Array[String]] = {
    val dir = new Path(warehouse)
    val f = fs(dir)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => f.exists(new Path(p, "_descriptor.json")))
      .map(p => Array(p.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      fs(new Path(warehouse)).exists(
        new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    java.util.Map.of()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    fs(new Path(warehouse)).mkdirs(
      new Path((warehouse +: namespace.toSeq).mkString("/")))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    unsupported("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    unsupported("DROP NAMESPACE")
}

object GridCatalog {
  /** `$history`: one row per manifest version. */
  val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("update_in_progress", BooleanType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("date_start_us", LongType, nullable = true),
    StructField("date_end_us", LongType, nullable = true)))

  /** `$files`: one row per pinned data file. */
  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("time_bucket", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("modified_at", TimestampType, nullable = false)))
}

/** In-memory DSv2 table serving a metadata table's rows (`$history`,
  * `$files`) — metadata-sized, one partition. */
private[catalog] class MetaTable(ident: String, rowSchema: StructType, rows: Seq[InternalRow])
    extends Table with SupportsRead with ScanBuilder with Scan with Batch {
  override def name(): String = ident
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = this
  override def build(): Scan = this
  override def readSchema(): StructType = rowSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = Array(MetaPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory = MetaReaderFactory
}

private[catalog] case class MetaPartition(rows: Seq[InternalRow]) extends InputPartition

private[catalog] object MetaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[MetaPartition].rows.iterator
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
}

/** Read-only veneer over the stock DSv2 parquet table: same scans (all
  * pushdown intact), NO write capability — see [[GridCatalog]]'s
  * rationale for refusing direct DML. */
private[catalog] class SnapshotTable(ident: String, underlying: ParquetTable)
    extends Table with SupportsRead {
  override def name(): String = ident
  override def schema(): StructType = underlying.schema
  override def partitioning(): Array[Transform] = underlying.partitioning()
  override def properties(): util.Map[String, String] = underlying.properties()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    underlying.newScanBuilder(options)
}
