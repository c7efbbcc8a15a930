package graft.catalog

import graft.model.DatasetDescriptor
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** STAC-shaped JSON catalog (SURVEY §2.11, `utils/metadata.py:60-551`):
  * root catalog → collection (bbox + temporal extent) → items with a
  * `prev` link chain giving dataset version history
  * (`register_stac_item`, `metadata.py:447-525`).
  *
  * Extents come from distributed aggregations (§2.6); everything else is
  * driver-side JSON bookkeeping, exactly like the reference.
  */
class StacCatalog(val root: String, spark: SparkSession) {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash-safe JSON write: stage to a sibling tmp file, then
    * rename-with-OVERWRITE (the GriddedStore pointer discipline) — an
    * in-place `fs.create(p, true)` would truncate first, so a crash
    * mid-write leaves a torn file that wedges every later read of the
    * catalog with a parse error. */
  private def sidecar(p: Path) = new Path(p.getParent, p.getName + ".sha256")

  private def staged(p: Path, bytes: Array[Byte]): Unit = {
    // unique tmp + true atomic move on file:// — the GriddedStore
    // pointer lessons (StoreConcurrencySpec): a SHARED tmp name lets
    // concurrent swaps clobber each other, and Hadoop's local
    // AbstractFileSystem emulates rename-overwrite as delete-then-
    // rename (a no-file window). The raw fs skips Hadoop crc sidecars
    // (integrity is the .sha256 sidecar + read retry).
    val rfs = graft.sources.ManifestIO.raw(fs)
    val tmp = new Path(p.getParent,
      p.getName + ".tmp." + java.util.UUID.randomUUID().toString)
    val out = rfs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if ("file" == Option(fs.getUri.getScheme).getOrElse("")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Serialize catalog MUTATIONS behind a short-lived exclusive lock:
    * every public write is a read-modify-write of shared JSON (root
    * links, collection extents/links, item prev chains), so two
    * concurrent publishers would silently lose each other's link or
    * extent updates. Mutations are millisecond-fast driver JSON work —
    * waiting is the right policy (bounded; loud after the deadline).
    * The lock uses the same O_EXCL primitive as the store claims. */
  private def withCatalogLock[T](f: => T): T = {
    val lock = new Path(root, "_catalog.lock")
    fs.mkdirs(new Path(root))
    val commits = new graft.sources.HadoopAtomicCommits(
      fs, spark.sparkContext.hadoopConfiguration)
    val start = System.nanoTime()
    val deadline = start + 60L * 1000000000L
    var held = false
    while (!held) {
      try { commits.putIfAbsent(lock, Array.emptyByteArray); held = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"could not acquire $lock in 60s — live contention, or a " +
                "crashed publisher left it: verify and delete the lock", e)
          // Anti-starvation: uniform 20–80 ms polling is UNFAIR — the
          // winner of each handoff is whichever waiter happens to poll
          // first, so one publisher can lose hundreds of consecutive
          // races (32 writers × ~22 ms holds, StacConcurrencySpec's load:
          // p50 27 ms but max 27 s against the 60 s deadline — a
          // 64-publisher deployment would hit spurious timeouts). A
          // waiter past 10 s switches to 5–15 ms polls: its win
          // probability per handoff rises ~6×, bounding the tail,
          // while fresh waiters keep the cheap slow poll so the
          // filesystem isn't hammered in the common case. Threshold
          // MEASURED at 32 writers × 40 muts: unfixed max wait 27 s
          // (p90 40 ms); 10 s threshold → max 11.7 s, p90 36 ms; 3 s
          // threshold → max ~11 s but p90 degrades to ~2.9 s (the
          // fast-poll crowd competes with itself and squeezes the
          // bulk). 10 s is the operating point: the tail stays a
          // safe 5× under the 60 s deadline and the common case is
          // untouched. True FIFO needs a ticket-queue protocol whose
          // crashed-waiter cleanup costs more than this buys.
          val starved = System.nanoTime() - start > 10L * 1000000000L
          val (base, span) = if (starved) (5, 10) else (20, 60)
          Thread.sleep(base + scala.util.Random.nextInt(span))
      }
    }
    try f finally fs.delete(lock, false)
  }

  /** Crash-safe JSON write: stage to a sibling tmp file, then
    * rename-with-OVERWRITE (the GriddedStore pointer discipline) — an
    * in-place `fs.create(p, true)` would truncate first, so a crash
    * mid-write leaves a torn file that wedges every later read of the
    * catalog with a parse error. The content digest lives in a `.sha256`
    * SIDECAR (a trailer would make the file non-JSON for external STAC
    * consumers), written AFTER the main swap: a crash between the two
    * leaves a stale sidecar and the next read fails LOUDLY
    * (conservative — recompute the sidecar after verifying the JSON),
    * never silently serves corrupted metadata. */
  private def write(p: Path, j: JValue): Unit = {
    fs.mkdirs(p.getParent)
    val bytes = JsonMethods.pretty(JsonMethods.render(j)).getBytes("UTF-8")
    staged(p, bytes)
    staged(sidecar(p),
      graft.sources.ManifestIO.sha256Hex(bytes).getBytes("UTF-8"))
  }

  /** Verified read. The writer swaps the JSON and its sidecar as two
    * separate renames, so a reader racing a HEALTHY update can observe
    * new JSON + stale sidecar for an instant; one re-read of both files
    * resolves that transient (the second rename has then landed —
    * old-consistent or new-consistent either way), so only genuine
    * corruption or a crashed writer surfaces as an error. */
  private def readJson(p: Path): Option[JValue] = {
    def readBoth(): Option[(String, Option[String])] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val expected =
          if (!fs.exists(sidecar(p))) None
          else {
            val sin = fs.open(sidecar(p))
            try Some(scala.io.Source.fromInputStream(sin, "UTF-8").mkString.trim)
            finally sin.close()
          }
        Some((text, expected))
      }
    def verified(r: (String, Option[String])): Boolean = r match {
      case (text, expected) => expected.forall(
        _ == graft.sources.ManifestIO.sha256Hex(text.getBytes("UTF-8")))
    }
    readBoth() match {
      case None => None
      case Some(r) if verified(r) => Some(JsonMethods.parse(r._1))
      case Some(_) => readBoth() match { // transient mid-swap window
        case None => None
        case Some(r) if verified(r) => Some(JsonMethods.parse(r._1))
        case Some((text, expected)) =>
          val actual = graft.sources.ManifestIO.sha256Hex(text.getBytes("UTF-8"))
          throw new IllegalStateException(
            s"$p failed its sha256 integrity check twice " +
              s"(sidecar ${expected.getOrElse("?")}, computed $actual): " +
              "catalog file corrupted or a crash interrupted the write — " +
              "verify the JSON and recompute the sidecar")
      }
    }
  }

  def rootPath = new Path(root, "catalog.json")
  def collectionPath(name: String) = new Path(root, s"collections/$name.json")
  def itemPath(name: String, version: String) = new Path(root, s"items/$name/$version.json")

  /** `create_root_stac_catalog` (`metadata.py:236-262`): bootstrap once. */
  def ensureRootCatalog(org: String): Unit = withCatalogLock {
    if (!fs.exists(rootPath))
      write(rootPath, JObject(List(
        "type" -> JString("Catalog"),
        "stac_version" -> JString("1.0.0"),
        "id" -> JString(org),
        "description" -> JString(s"$org root catalog"),
        "links" -> JArray(Nil))))
  }

  /** Spatio-temporal extent of a gridded frame: one distributed agg.
    * Spatial bounds need BOTH latitude and longitude columns (a frame
    * with only one falls back to the global bbox); an empty frame has
    * no extent and fails loudly instead of NPE-ing on null aggregates. */
  def extent(df: DataFrame, timeDim: String): (Array[Double], (Long, Long)) = {
    val hasSpace = df.columns.contains("latitude") &&
      df.columns.contains("longitude")
    val r =
      if (hasSpace)
        df.agg(min("latitude"), max("latitude"), min("longitude"), max("longitude"),
          min(timeDim), max(timeDim)).collect()(0)
      else df.agg(min(timeDim), max(timeDim)).collect()(0)
    require(!r.isNullAt(if (hasSpace) 4 else 0),
      "cannot compute a STAC extent of an empty dataset")
    if (hasSpace)
      (Array(r.getDouble(2), r.getDouble(0), r.getDouble(3), r.getDouble(1)),
        (r.getLong(4), r.getLong(5)))
    else (Array(-180, -90, 180, 90), (r.getLong(0), r.getLong(1)))
  }

  /** Append a (rel, href) link to the `links` array of a catalog JSON
    * file, deduplicating on the pair — the hierarchy-maintenance step of
    * `register_stac_item` (`metadata.py:447-525`). No-op if the file
    * does not exist yet. */
  private def addLink(p: Path, rel: String, href: String): Unit =
    readJson(p).foreach { j =>
      val existing = (j \ "links") match {
        case JArray(ls) => ls
        case _ => Nil
      }
      val already = existing.exists(l =>
        (l \ "rel").values.toString == rel && (l \ "href").values.toString == href)
      if (!already) {
        val link = JObject(List("rel" -> JString(rel), "href" -> JString(href)))
        val updated = j match {
          case JObject(fields) => JObject(fields.filterNot(_._1 == "links") :+
            ("links" -> (JArray(existing :+ link): JValue)))
          case other => other
        }
        write(p, updated)
      }
    }

  /** `create_stac_collection` + `update_stac_collection`
    * (`metadata.py:264-340,527-551`): create or widen extent. Existing
    * `links` (registered items) are preserved across upserts, and the
    * collection is linked into the root catalog as a `child` so the
    * tree is walkable root → collection → items. */
  def upsertCollection(name: String, bbox: Array[Double], interval: (Long, Long)): Unit = withCatalogLock {
    val p = collectionPath(name)
    val prior = readJson(p)
    val links: List[JValue] = prior.map(j => (j \ "links") match {
      case JArray(ls) => ls
      case _ => Nil
    }).getOrElse(Nil)
    val merged = prior match {
      case Some(j) =>
        val old = (j \ "extent" \ "spatial" \ "bbox") match {
          case JArray(List(JArray(vs))) => vs.map(_.values.toString.toDouble).toArray
          case _ => bbox
        }
        val oldIv = (j \ "extent" \ "temporal" \ "interval") match {
          case JArray(List(JArray(List(a, b)))) =>
            (a.values.toString.toLong, b.values.toString.toLong)
          case _ => interval
        }
        // element-wise min/max fold, `metadata.py:540-542`
        (Array(math.min(old(0), bbox(0)), math.min(old(1), bbox(1)),
          math.max(old(2), bbox(2)), math.max(old(3), bbox(3))),
          (math.min(oldIv._1, interval._1), math.max(oldIv._2, interval._2)))
      case None => (bbox, interval)
    }
    write(p, JObject(List(
      "type" -> JString("Collection"),
      "stac_version" -> JString("1.0.0"),
      "id" -> JString(name),
      "extent" -> JObject(List(
        "spatial" -> JObject(List("bbox" -> JArray(List(JArray(
          merged._1.toList.map(JDouble(_))))))),
        "temporal" -> JObject(List("interval" -> JArray(List(JArray(List(
          JLong(merged._2._1), JLong(merged._2._2))))))))),
      "links" -> JArray(links))))
    addLink(rootPath, "child", p.toString)
  }

  /** `create_stac_item` + `register_stac_item` (`metadata.py:342-525`):
    * flatten descriptor attrs to properties; link `prev` to the prior
    * version for history. Returns the version id written. */
  def registerItem(d: DatasetDescriptor, bbox: Array[Double],
                   interval: (Long, Long), version: String): String = withCatalogLock {
    val prev = latestVersion(d.name)
    val props: List[(String, JValue)] =
      d.attrs.toList.map { case (k, v) => k -> (JString(v): JValue) } ++ List(
        "dataset_name" -> JString(d.name),
        "data_var" -> JString(d.dataVar),
        "category" -> JString(d.category.name),
        "start_us" -> JLong(interval._1),
        "end_us" -> JLong(interval._2),
        "update_is_append_only" -> d.updateIsAppendOnly.map(JBool(_)).getOrElse(JNull))
    write(itemPath(d.name, version), JObject(List(
      "type" -> JString("Feature"),
      "stac_version" -> JString("1.0.0"),
      "id" -> JString(s"${d.name}-$version"),
      "bbox" -> JArray(bbox.toList.map(JDouble(_))),
      "properties" -> JObject(props),
      "links" -> JArray(prev.toList.map(v => JObject(List(
        "rel" -> JString("prev"),
        "href" -> JString(itemPath(d.name, v).toString))))))))
    // hierarchy maintenance (`metadata.py:447-525`): the item becomes
    // reachable from its collection, so the catalog tree is walkable
    // root -> collection -> item -> prev chain
    addLink(collectionPath(d.name), "item", itemPath(d.name, version).toString)
    write(new Path(root, s"items/${d.name}/_latest.json"),
      JObject(List("version" -> JString(version))))
    version
  }

  def readCollection(name: String): Option[JValue] = readJson(collectionPath(name))
  def readRoot(): Option[JValue] = readJson(rootPath)

  /** All (rel, href) links of a catalog JSON node. */
  def links(j: JValue): Seq[(String, String)] = (j \ "links") match {
    case JArray(ls) => ls.map(l =>
      ((l \ "rel").values.toString, (l \ "href").values.toString))
    case _ => Nil
  }

  def latestVersion(name: String): Option[String] =
    readJson(new Path(root, s"items/$name/_latest.json")).map(j =>
      (j \ "version").values.toString)

  def readItem(name: String, version: String): Option[JValue] =
    readJson(itemPath(name, version))
}
