package graft.sources

import org.apache.hadoop.fs.Path

/** Reproduces the on-disk state a writer leaves when it dies between
  * its two commit phases, so crash RECOVERY can be driven end-to-end
  * from outside this package (the driver-gated q145 and recovery
  * drills) without widening [[GriddedStore]]'s mutation API.
  *
  * The simulated crash is byte-faithful to the real failure mode
  * (reference analog: the stuck `update_in_progress` flag of
  * `utils/publish.py:152-180`): the first-phase `commitAt` has already
  * claimed version `base+1` and swapped the pointer to the in-progress
  * manifest, some data files of the doomed attempt may already be on
  * disk, and the second-phase `commitAt(base+2, ...)` never ran —
  * exactly where update()/compact() die if the JVM is killed mid-write.
  *
  * `private[graft]` on purpose (the reference keeps its failure drills
  * in tests, `tests/system/test_chirps.py`): these methods wedge a
  * committed store into the in-progress state, so only the gate driver
  * (q145) and the specs may invoke them — never a production caller.
  */
object StoreCrashDrill {

  /** Phase-1 claim with no phase-2 commit: after this, the pointer
    * shows `updateInProgress = true`, mutations refuse, readers still
    * see the last committed pin, and `repair()` is the documented way
    * out. Requires a clean committed store (like a real mutation). */
  private[graft] def claimWithoutCommit(store: GriddedStore): Unit = {
    val pm = store.manifest().getOrElse(throw new IllegalStateException(
      s"no existing dataset at ${store.root}"))
    require(!pm.descriptor.updateInProgress,
      "store already carries an in-progress flag — nothing to simulate")
    store.commitAt(store.latestVersionNumber() + 1, pm.inProgress)
  }

  /** Stage an orphan data file, as the crashed writer's half-finished
    * bucket write: a copy of one pinned file under a fresh name inside
    * its bucket directory. No manifest pins it, so reads must never
    * surface it (and `vacuum` may reclaim it). Returns the staged
    * root-relative name. */
  private[graft] def stageOrphan(store: GriddedStore): String = {
    val pinned = store.snapshotFiles().getOrElse(Nil)
    require(pinned.nonEmpty, "need at least one committed data file to clone")
    val src = pinned.head
    val orphan = {
      val i = src.lastIndexOf('/')
      s"${src.substring(0, i)}/orphan-${src.substring(i + 1)}"
    }
    val fs = store.fs
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(s"${store.root}/$src"),
      fs, new Path(s"${store.root}/$orphan"),
      false, store.spark.sparkContext.hadoopConfiguration)
    orphan
  }
}
