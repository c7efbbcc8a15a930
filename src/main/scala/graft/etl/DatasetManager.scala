package graft.etl

import graft.model.DatasetDescriptor
import graft.operators.{Concurrent, Normalize, UpdatePlanner}
import graft.qc.QualityChecks
import graft.sources.{GriddedStore, UpdateProfile}
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

  /** The most distinct times an update may carry, initial writes
    * included (see [[UpdateProfile.of]]); a subclass may lower it. */
  private[etl] def maxAxis: Long = UpdatePlanner.DefaultMaxAxis

  /** `pre_parse_quality_check` (`publish.py:499-539`): schema/dtype
    * assert, non-empty time axis, extreme-value bounds, missing-frequency
    * binomial. Throws on violation. The row checks read the update's
    * [[UpdateProfile]] — one aggregate grouped by time, whose per-time
    * row, out-of-bounds and missing counts are summed on the driver, and
    * the interval is computed there from the sums. `parse` takes that
    * profile once over its pinned update and also plans and commits the
    * write from it; this entry point profiles `update` for itself. */
  def preParseQualityCheck(update: DataFrame): Unit = {
    requireDataVar(update)
    check(profile(update))
  }

  // (3) encoding dtype == declared (`publish.py:527-532`)
  private def requireDataVar(update: DataFrame): Unit =
    require(update.schema.fieldNames.contains(descriptor.dataVar),
      s"update missing data var ${descriptor.dataVar}")

  private def profile(update: DataFrame): UpdateProfile =
    UpdateProfile.of(update, descriptor, extremeBounds, maxAxis)

  private def check(p: UpdateProfile): Unit = {
    // (1) the update's time axis must be non-empty — a plain existence
    // check, NOT a contiguity pass: gap-freedom/cadence of the APPEND
    // portion is enforced by GriddedStore.update's append guard (a
    // gapped update is legal when the gaps are insert islands, like the
    // reference's complex-update fixture), so running the full
    // gaps-and-islands window here would be a single-task global sort
    // that can only ever confirm non-emptiness. `publish.py:654-696`.
    require(p.rows > 0, "update has no times")
    // (2) extreme values (`publish.py:567-575`)
    extremeBounds.foreach { case (lo, hi) =>
      require(p.outOfBounds == 0, s"update contains values outside [$lo, $hi]")
    }
    // (4) missing-frequency binomial vs expectation (`publish.py:577-602`)
    expectedMissingFrequency.foreach { exp =>
      val (ciLo, ciHi) = QualityChecks.wilson(p.nulls, p.rows, QualityChecks.Z_ALPHA_1E5)
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
  def postParseQualityCheck(update: DataFrame,
                            checks: Int = DatasetManager.DefaultChecks): Unit =
    readBack(sample(update, checks))

  /** The cells the post-parse check reads back, as a local frame.
    * Deterministic uniform sample via top-k on a content hash:
    * TakeOrderedAndProject keeps `checks` rows per partition then merges
    * — O(N) scan, no full sort/shuffle, and (unlike sample().limit(),
    * which drains the first partitions) the winners are spread uniformly
    * over the whole update. Collected: at most `checks` rows, and the
    * driver needs their times to prune. It depends only on the update,
    * so `parse` collects it beside the write. */
  private def sample(update: DataFrame, checks: Int): DataFrame = {
    val picked = update
      .orderBy(xxhash64(descriptor.dims.map(col): _*))
      .limit(checks)
      .select((descriptor.dims :+ descriptor.dataVar).map(col): _*)
    spark.createDataFrame(java.util.Arrays.asList(picked.collect(): _*), picked.schema)
  }

  /** The read-back of a collected [[sample]] against the committed store:
    * the one post-parse step that must follow the commit. */
  private[etl] def readBack(sample: DataFrame): Unit = {
    val times = sample.select(col(descriptor.timeDim)).collect().collect {
      case r if !r.isNullAt(0) => r.get(0).asInstanceOf[Number].longValue }
    val mismatches = QualityChecks.sampleMismatches(
      sample, store.readTimes(times.toSeq), descriptor.dims, descriptor.dataVar, 1e-4)
    require(mismatches == 0, s"$mismatches written cells differ from source")
  }

  /** `parse` (`publish.py:34-98`): route and execute, with the dry-run
    * gate (`publish.py:149-151`) and catalog publish
    * (`publish_metadata`, `publish.py:100-122`).
    *
    * Like the reference, which loads the update once and gates, plans
    * and samples that one in-memory dataset, the update is pinned once
    * for the call and freed when it ends. The pass that loads the pin
    * gives its [[UpdateProfile]] — the pre-parse checks, then the update
    * plan or the initial write's date range and bbox. The post-parse
    * sample is collected from the loaded pin beside the write, so only
    * its read-back adds a step after the commit. */
  def parse(update: DataFrame, rebuild: Boolean = false): Option[DatasetDescriptor] = {
    requireDataVar(update)
    val pin = update.select((descriptor.dims :+ descriptor.dataVar).map(col): _*).cache()
    try {
      val profiled = profile(pin)
      check(profiled)
      if (dryRun) return None
      val initial = !store.hasExisting || (rebuild && allowOverwrite)
      if (rebuild && !initial)
        throw new IllegalStateException("overwrite forbidden") // dataset_manager.py:352-357
      val (committed, picked) = Concurrent.both(
        if (initial) store.writeInitial(pin, descriptor, profiled)
        else store.update(pin, allowOverwrite, Some(profiled)),
        sample(pin, DatasetManager.DefaultChecks))
      readBack(picked)
      publishMetadata(committed)
      Some(committed)
    } finally pin.unpersist()
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
  /** Cells the post-parse check reads back (the reference checks up to
    * 100, `publish.py:698-743`). */
  val DefaultChecks = 100

  /** Subclass registry analog (`dataset_manager.py:391-420`). */
  private val registry = scala.collection.concurrent.TrieMap.empty[String, DatasetManager]
  def register(m: DatasetManager): Unit = registry.put(m.descriptor.name, m)
  def forName(name: String): Option[DatasetManager] = registry.get(name)
  def all: Seq[String] = registry.keys.toSeq.sorted
}
