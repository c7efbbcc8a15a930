package graft.etl

import graft.SparkSpec
import graft.functions.DedupPipeline
import graft.obs.{Compiles, JobLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, md5}

/** A shard ingest runs each dedup stage once: its Spark jobs, SQL
  * executions and serial steps are priced by [[JobLog]], bounded, and
  * the same for the 2nd and the 5th shard of equal size. A shard after
  * the first reuses the generated classes the first compiled
  * ([[Compiles]]): a codegen cache smaller than an ingest's working set
  * recompiles about 190 classes per shard. The committed
  * artifacts equal what the committed docs recompute to, and a failed
  * append leaves the corpus, the generation and the lock as they were. */
class ShardIngestCostFenceSpec extends SparkSpec {

  /** `jobs` Spark jobs in `executions` SQL executions (jobs outside any
    * execution count as their own) that ran in `steps` serial steps:
    * groups of executions whose job intervals overlap. `unscoped` holds
    * the call sites of the jobs outside any execution (a parquet
    * footer-inference job is one: `parquet at <file>:<line>`).
    * `compiled` counts the generated classes compiled meanwhile. */
  private case class Cost(jobs: Int, executions: Int, steps: Int, unscoped: Seq[String],
                          compiled: Long) {
    override def toString: String =
      s"Cost($jobs jobs, $executions executions, $steps steps, $compiled compiles)"
  }

  /** The [[Cost]] of `body` and the threads it starts. A job that
    * has not ended closes no step. */
  private def cost(body: => Unit): Cost = {
    val ((_, jobs), compiles) = Compiles.measure(JobLog.measure(spark)(body))
    val runs = jobs.groupBy(j => j.execution.getOrElse(s"job-${j.id}")).values
      .map(js => (js.map(_.startMs).min, js.map(_.endMs.getOrElse(Long.MaxValue)).max))
      .toSeq.sortBy(_._1)
    val steps = runs.foldLeft((0, Long.MinValue)) { case ((n, end), (s, e)) =>
      if (s > end) (n + 1, e) else (n, math.max(end, e))
    }._1
    Cost(jobs.size, runs.size, steps, jobs.filter(_.execution.isEmpty).map(_.site),
      compiles.classes)
  }

  /** 12 words drawn from a 1,000-word vocabulary by a hash of (i, j):
    * two docs share almost no 3-word shingle. */
  private def text(i: Int): String =
    (0 until 12).map(j => s"w${math.floorMod(
      scala.util.hashing.MurmurHash3.productHash((i, j)), 1000)}").mkString(" ")

  /** Near copy: the last word changed. */
  private def near(i: Int): String = text(i).split(" ").dropRight(1).mkString(" ") + " zzz"

  private def docs(rows: Seq[(Long, String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private val initialDocs = 8
  private val shardDocs = 4

  /** Shard `k` (from 1): fresh docs, one near copy and one exact copy
    * of initial docs — two duplicates. */
  private def shard(k: Int): DataFrame = {
    val lo = 1000 * k
    docs((0 until shardDocs - 2).map(i => ((lo + i).toLong, text(lo + i), s"s${i % 2}")) ++
      Seq(((lo + 900).toLong, near(k % initialDocs), "s0"),
        ((lo + 901).toLong, text((k + 3) % initialDocs), "s1")))
  }

  private def initialized(label: String): CorpusManager = {
    val m = new CorpusManager(s"fence_$label", tmpDir(s"fence-$label"), spark,
      numBuckets = 4, minTokens = 2)
    m.ingestInitial(docs((0 until initialDocs).map(i => (i.toLong, text(i), s"s${i % 2}"))))
    m
  }

  private def ingest(m: CorpusManager, k: Int): Cost = {
    var report: IngestReport = null
    val c = cost { report = m.ingestShard(shard(k)) }
    assert(report.duplicates == 2 && report.ingested == shardDocs - 2, report.toString)
    c
  }

  test("a shard ingest runs a bounded number of jobs and executions, " +
      "the same for the 2nd and the 5th shard") {
    val m = initialized("cost")
    val costs = (1 to 5).map(k => ingest(m, k))
    // steps depend on how the concurrent groups happen to overlap in
    // time, so they are reported, not bounded
    info(s"per-shard costs: ${costs.mkString(", ")}")
    val (second, fifth) = (costs(1), costs(4))
    assert(second.jobs == fifth.jobs && second.executions == fifth.executions,
      s"2nd shard $second, 5th shard $fifth")
    // the committed scans take the manifest's schemas: no shard runs a
    // footer-inference job
    costs.foreach(c => assert(!c.unscoped.exists(_.startsWith("parquet at")),
      c.unscoped.mkString("jobs outside any execution: ", ", ", "")))
    assert(second.jobs <= 43, s"$second")
    assert(second.executions <= 18, s"$second")
    costs.drop(1).foreach(c => assert(c.compiled == 0,
      s"shards 2-5 recompiled generated classes: ${costs.mkString(", ")}"))
  }

  test("committed artifacts equal the values recomputed from the committed docs") {
    val m = initialized("parity")
    Seq(1, 2).foreach(k => ingest(m, k))
    val root = m.docsPath.stripSuffix("/docs")
    val files = m.snapshotFiles().get
    def read(fs: Seq[String]) = spark.read.parquet(fs.map(f => s"$root/$f"): _*)
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    val corpus = m.corpus()
    assert(corpus.count() == initialDocs + 2 * (shardDocs - 2))
    val (sigs, bands) = DedupPipeline.signatureTables(corpus, "doc_id", "text",
      DedupPipeline.Params())
    assert(rows(read(files.sigs)) == rows(sigs))
    assert(rows(spark.table(s"${m.name}_bands_v1").select("doc_id", "band", "bk")) ==
      rows(bands))
    assert(rows(read(files.hashes)) == rows(corpus.select(col("doc_id"), md5(col("text")).as("h"))))
    def sketch(df: DataFrame): Map[String, List[Long]] =
      df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList.sorted).toMap
    assert(sketch(read(files.sketch).select("source", "minima")) ==
      sketch(m.vocabSketch(corpus).select("source", "minima")))
  }

  test("a failed append leaves the corpus, the generation and the lock as they were; " +
      "vacuum reclaims the other appends") {
    val m = initialized("fail")
    ingest(m, 1)
    val root = m.docsPath.stripSuffix("/docs")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listed(dir: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$dir")).map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).map(n => s"$dir/$n").toSet
    val dirs = Seq("docs", "dedup/sigs", "dedup/bands_v1", "sketch")
    val before = dirs.flatMap(listed).toSet
    val (gen, ids) = (m.readManifest().get.generation, m.corpus().collect().toSet)
    // the hashes append cannot stage its output: its _temporary is a file
    val blocker = new org.apache.hadoop.fs.Path(m.hashesPath, "_temporary")
    fs.create(blocker, false).close()
    intercept[Exception](m.ingestShard(shard(2)))
    assert(m.readManifest().get.generation == gen)
    assert(m.corpus().collect().toSet == ids)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_ingest.lock")))
    // the other appends ran to their end: their files are orphans
    val orphans = dirs.flatMap(listed).toSet -- before
    dirs.foreach(d => assert(orphans.exists(_.startsWith(s"$d/")), s"no orphan in $d"))
    fs.delete(blocker, false)
    val removed = m.vacuum(retainLast = 1).toSet
    assert(orphans.subsetOf(removed), s"not reclaimed: ${orphans -- removed}")
    assert(m.corpus().collect().toSet == ids)
    assert(m.ingestShard(shard(2)).ingested == shardDocs - 2)
  }
}
