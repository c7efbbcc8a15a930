package graft.sources

import graft.model.DatasetDescriptor
import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._

/** Coordinate-encoding surgery on a committed store — the analog of
  * `update_array_encoding` / `_modify_array_encoding`
  * (`utils/metadata.py:835-946`): rewrite ONE coordinate column of a
  * production dataset (e.g. re-scale latitudes, change units) while
  * refusing to touch the data variable, then recommit the descriptor.
  *
  * The reference recreates one small Zarr coordinate array in place; the
  * tall-layout equivalent must rewrite the rows (the coordinate is a
  * column), so this is a full-store map — but a pure narrow map: no
  * shuffle, partition layout preserved by writing bucket-by-bucket
  * metadata-compatible output.
  */
object EncodingSurgery {

  def rewriteCoordinate(store: GriddedStore, coord: String,
                        f: Column => Column): DatasetDescriptor = {
    val pm = store.manifest().getOrElse(
      throw new IllegalStateException("no dataset to modify"))
    if (pm.descriptor.updateInProgress)
      throw new IllegalStateException(
        "store has an update in progress (crashed writer?); repair first")

    // fixed-base two-phase commit (see GriddedStore.commitAt): a
    // concurrent mutation collides on the claim file and exactly one
    // wins. Snapshot BOTH the data and the descriptor from the version
    // ladder, not the (possibly lagging) pointer — a surgery racing a
    // just-committed update must not recommit that update's rows under
    // the pre-update metadata (e.g. a stale dateRange). Same anchoring
    // as update()/compact() (see GriddedStore.latestCommittedVersion).
    val base = store.latestVersionNumber()
    val a = store.anchor(base, pm)
    val d = a.descriptor
    require(coord != d.dataVar,
      s"refusing to modify data variable ${d.dataVar}") // metadata.py:858-866
    require(d.dims.contains(coord), s"unknown coordinate $coord")
    // Rewriting the time axis would desynchronize time_bucket (the
    // directory partitions derive from it) and the committed dateRange —
    // that's an update/rebuild, not encoding surgery.
    require(coord != d.timeDim,
      s"refusing to rewrite the time dimension ${d.timeDim}; " +
        "use update()/rebuild for time-axis changes")
    val rewritten = a.scan().withColumn(coord, f(col(coord)))
    store.commitAt(base + 1, a.claim)
    // A full-store rewrite under the manifest protocol: write the
    // rewritten rows as NEW files next to the old ones (via writeBuckets,
    // so the surgered store keeps the sorted row-group min/max skipping
    // property), then commit a manifest pinning ONLY the new files. A
    // crash never leaves a half-rewritten store visible — readers stay on
    // the old manifest — and the old files are retired by vacuum().
    val fresh = store.writeBuckets(rewritten, d)
    val committed = d.copy(updateInProgress = false)
    // `f` may change the coordinate's type: the commit records the
    // rewritten frame's schema rather than carrying the old one forward,
    // and a rewritten latitude or longitude moves the bbox, so it is
    // recomputed from the rewritten frame
    store.commitAt(base + 2, GridManifest(committed, Some(fresh),
      store.pinSchema(rewritten, fresh), GriddedStore.bboxOf(rewritten)))
    committed
  }
}
