package gridbench

import graft.etl.{CorpusManager, IngestReport}
import org.apache.hadoop.fs.Path

/** `CorpusManager.ingestInitial` on `initialDocs` seeded documents, then
  * `ingestShard` calls on disjoint seeded shards of `shardDocs`. The
  * documents follow the `documents` table's shape ([[Docs]]): 5% of
  * them near-duplicates and 0.2% exact copies of initial documents. */
final class CorpusIngest(ctx: Ctx, dir: String, initialDocs: Int, shardDocs: Int)
    extends Workload {
  private val docs = Docs(ctx.seed, pool = initialDocs)
  private var cm: CorpusManager = _
  private var root = ""
  private var nDocs = 0L
  private var shards = 0

  private def checkCorpus(expected: Long): Unit = {
    val man = cm.readManifest().getOrElse(throw new CheckFailed("no corpus manifest"))
    val rows = cm.corpus().count()
    ctx.check(man.nDocs == rows && rows == expected,
      s"manifest nDocs ${man.nDocs}, corpus rows $rows, expected $expected")
  }

  def setup(k: Int): Unit = {
    root = s"$dir/corpus_$k"
    cm = new CorpusManager(s"corpus$k", root, ctx.spark, numBuckets = 4)
    val (input, dups) = docs.batch(ctx.spark, 0, initialDocs)
    ctx.op("setup")(ctx.rec.layer("etl.corpus.ingest_initial")(_ =>
        cm.ingestInitial(input))) { (r, _) =>
      ctx.check(r == IngestReport(initialDocs, 0, dups, initialDocs - dups, Nil),
        s"initial ingest $r, expected $dups duplicates")
      nDocs = initialDocs - dups; shards = 0
      checkCorpus(nDocs)
    }
  }

  private def ingest(kind: String): Unit = {
    val lo = initialDocs + shards.toLong * shardDocs
    val (input, dups) = docs.batch(ctx.spark, lo, lo + shardDocs)
    ctx.op(kind)(ctx.rec.layer("etl.corpus.ingest_shard")(_ =>
        cm.ingestShard(input))) { (r, span) =>
      ctx.check(r.input == shardDocs && r.rejected == 0 && r.duplicates == dups &&
        r.ingested == shardDocs - dups, s"shard ingest $r, expected $dups duplicates")
      shards += 1; nDocs += r.ingested
      checkCorpus(nDocs)
      span.attrs ++= layout()
      span.attrs("live_items") = nDocs.toDouble
    }
  }

  /** Files the committed corpus manifest pins, their bytes, the
    * manifest's bytes and its generation. */
  private def layout(): Map[String, Double] = {
    val f = cm.snapshotFiles().getOrElse(throw new CheckFailed("no corpus files"))
    val fs = new Path(root).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val files = f.docs ++ f.sigs ++ f.hashes ++ f.sketch ++ f.bands ++ f.vecs ++
      f.media ++ f.mediaBlocks
    Map(
      "files_pinned" -> files.size.toDouble,
      "pinned_bytes" -> files.map(p => fs.getFileStatus(new Path(s"$root/$p")).getLen)
        .sum.toDouble,
      "manifest_bytes" -> fs.getFileStatus(new Path(root, "_corpus.json")).getLen.toDouble,
      "versions" -> cm.readManifest().fold(0L)(_.generation).toDouble)
  }

  def warmup(): Unit = ingest("warmup")
  def step(i: Int): Unit = ingest("shard")

  def finish(): Unit = ctx.op("final_check", layers = false)(()) { (_, _) =>
    val ids = cm.corpus().select("doc_id").distinct().count()
    ctx.check(ids == nDocs, s"corpus has $ids distinct ids, expected $nDocs")
  }

  def facts: Map[String, Double] =
    Map("initial_docs" -> initialDocs.toDouble, "live_items" -> nDocs.toDouble) ++ layout()
}
