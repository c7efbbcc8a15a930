package graft.etl

import graft.model.DatasetDescriptor
import graft.operators.Normalize
import graft.qc.QualityChecks
import graft.sources.GriddedStore
import graft.catalog.StacCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Orchestration entry point — the `DatasetManager.parse` analog
  * (`dataset_manager.py:24`, `utils/publish.py:34-98`): route
  * initial-vs-update-vs-forbidden, run QC gates around the write, then
  * publish catalog metadata. Concrete ETLs supply a descriptor plus a
  * normalized update frame (the post-`transform` state).
  *
  * A registry maps dataset names to managers
  * (`get_subclasses`, `dataset_manager.py:391-420`).
  */
class DatasetManager(
    val descriptor: DatasetDescriptor,
    storeRoot: String,
    catalogRoot: String,
    spark: SparkSession,
    allowOverwrite: Boolean = true,
    dryRun: Boolean = false,
    extremeBounds: Option[(Double, Double)] = None,
    expectedMissingFrequency: Option[Double] = None) {

  val store = new GriddedStore(storeRoot, spark)
  val catalog = new StacCatalog(catalogRoot, spark)

  /** Scan-time normalization (`transform` in-memory half): sentinel →
    * null, longitude wrap, declared column order. */
  def normalize(raw: DataFrame, renameFrom: Option[String] = None): DataFrame = {
    val renamed = renameFrom.map(f =>
      Normalize.renameDataVar(raw, f, descriptor.dataVar)).getOrElse(raw)
    val withNull = descriptor.missingValue match {
      case Some(mv) => Normalize.sentinelToNull(renamed, descriptor.dataVar, lit(mv))
      case None => renamed
    }
    val wrapped =
      if (withNull.columns.contains("longitude"))
        withNull.withColumn("longitude", Normalize.wrapLongitude(col("longitude")))
      else withNull
    wrapped.select((descriptor.dims :+ descriptor.dataVar).map(col): _*)
  }

  /** `pre_parse_quality_check` (`publish.py:499-539`): schema/dtype
    * assert, time contiguity at declared cadence, extreme-value bounds,
    * missing-frequency binomial. Throws on violation. The three row
    * checks share ONE aggregate pass (row count, out-of-bounds count,
    * missing count); the interval is computed on the driver from the
    * counts. */
  def preParseQualityCheck(update: DataFrame): Unit = {
    val t = descriptor.timeDim
    val v = col(descriptor.dataVar)
    // (3) encoding dtype == declared (`publish.py:527-532`)
    val schema = update.schema
    require(schema.fieldNames.contains(descriptor.dataVar),
      s"update missing data var ${descriptor.dataVar}")
    val r = update.select(col(t), v).agg(
      count(lit(1)),
      extremeBounds.fold(lit(0L)) { case (lo, hi) => count(when(v < lo || v > hi, lit(1))) },
      count(when(v.isNull, lit(1)))).collect()(0)
    val (n, nBad, nMissing) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // (1) the update's time axis must be non-empty — a plain existence
    // check, NOT a contiguity pass: gap-freedom/cadence of the APPEND
    // portion is enforced by GriddedStore.update's append guard (a
    // gapped update is legal when the gaps are insert islands, like the
    // reference's complex-update fixture), so running the full
    // gaps-and-islands window here would be a single-task global sort
    // that can only ever confirm non-emptiness. `publish.py:654-696`.
    require(n > 0, "update has no times")
    // (2) extreme values (`publish.py:567-575`)
    extremeBounds.foreach { case (lo, hi) =>
      require(nBad == 0, s"update contains values outside [$lo, $hi]")
    }
    // (4) missing-frequency binomial vs expectation (`publish.py:577-602`)
    expectedMissingFrequency.foreach { exp =>
      val (ciLo, ciHi) = QualityChecks.wilson(nMissing, n, QualityChecks.Z_ALPHA_1E5)
      if (exp < ciLo || exp > ciHi)
        throw new graft.qc.NanFrequencyMismatchException(
          f"expected missing frequency $exp%.6f outside observed CI " +
            f"[$ciLo%.6f, $ciHi%.6f]")
    }
  }

  /** `post_parse_quality_check` (`publish.py:698-743`): read back a
    * sample of written cells and compare against the source update with
    * tolerance 1e-4 (`TWENTY_MINUTES` budget replaced by a row budget),
    * flagging drifted values, null-vs-value cells and cells never
    * written ([[QualityChecks.valueCompare]]'s rule). Reads back only
    * what the sample can match: the store pruned to the sampled times'
    * buckets and times, streamed past the broadcast sample — the cost
    * follows `checks`, not the store. */
  def postParseQualityCheck(update: DataFrame, checks: Int = 100): Unit = {
    // Deterministic uniform sample via top-k on a content hash:
    // TakeOrderedAndProject keeps `checks` rows per partition then
    // merges — O(N) scan, no full sort/shuffle, and (unlike
    // sample().limit(), which drains the first partitions) the winners
    // are spread uniformly over the whole update. Collected: at most
    // `checks` rows, and the driver needs their times to prune.
    val keys = descriptor.dims
    val picked = update
      .orderBy(xxhash64(keys.map(col): _*))
      .limit(checks)
      .select((keys :+ descriptor.dataVar).map(col): _*)
    val rows = picked.collect()
    val sample = spark.createDataFrame(java.util.Arrays.asList(rows: _*), picked.schema)
    val t = keys.indexOf(descriptor.timeDim)
    val times = rows.collect { case r if !r.isNullAt(t) =>
      r.get(t).asInstanceOf[Number].longValue }
    val mismatches = QualityChecks.sampleMismatches(
      sample, store.readTimes(times.toSeq), keys, descriptor.dataVar, 1e-4)
    require(mismatches == 0, s"$mismatches written cells differ from source")
  }

  /** `parse` (`publish.py:34-98`): route and execute, with the dry-run
    * gate (`publish.py:149-151`) and catalog publish
    * (`publish_metadata`, `publish.py:100-122`). */
  def parse(update: DataFrame, rebuild: Boolean = false): Option[DatasetDescriptor] = {
    preParseQualityCheck(update)
    if (dryRun) return None
    val committed =
      if (!store.hasExisting || (rebuild && allowOverwrite))
        store.writeInitial(update, descriptor)
      else if (rebuild)
        throw new IllegalStateException("overwrite forbidden") // dataset_manager.py:352-357
      else
        store.update(update, allowOverwrite)
    postParseQualityCheck(update)
    publishMetadata(committed)
    Some(committed)
  }

  /** `publish_metadata` (`publish.py:100-122`): the extent is the
    * committed manifest's bbox and date range, so publishing reads no
    * data; a manifest without a bbox (written before the field) falls
    * back to one aggregate over the store. */
  def publishMetadata(d: DatasetDescriptor): Unit = {
    catalog.ensureRootCatalog("graft")
    val (bbox, interval) = store.committedExtent()
      .map { case (b, iv) => (b.toArray, iv) }
      .getOrElse(catalog.extent(store.read(), d.timeDim))
    catalog.upsertCollection(d.name, bbox, interval)
    // the store's manifest version disambiguates commits whose extent
    // AND previous-end are identical (e.g. consecutive insert-only
    // corrections) — without it the second item would reuse the first's
    // UUID, overwrite its file, and link `prev` to itself
    catalog.registerItem(d, bbox, interval,
      version = java.util.UUID.nameUUIDFromBytes(
        (s"${d.name}-${interval._1}-${interval._2}-${d.updatePreviousEndUs}" +
          s"-v${store.latestVersionNumber()}").getBytes)
        .toString)
  }
}

object DatasetManager {
  /** Subclass registry analog (`dataset_manager.py:391-420`). */
  private val registry = scala.collection.concurrent.TrieMap.empty[String, DatasetManager]
  def register(m: DatasetManager): Unit = registry.put(m.descriptor.name, m)
  def forName(name: String): Option[DatasetManager] = registry.get(name)
  def all: Seq[String] = registry.keys.toSeq.sorted
}
