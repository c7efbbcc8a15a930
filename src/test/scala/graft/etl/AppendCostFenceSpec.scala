package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.obs.{Compiles, JobLog}
import org.apache.spark.sql.DataFrame

/** An append costs O(update), not O(store): the same 1-day append is
  * parsed onto a 5-day and a 15-day store, and the whole parse, its
  * post-parse read-back and its STAC publish are priced by [[JobLog]]
  * (Spark jobs and task input records). A full-store read creeping back
  * into either step makes the two stores' counts differ. The next day's
  * append reuses the generated classes of the last one ([[Compiles]]),
  * except those whose code holds the day itself, even when a corpus
  * shard ingest ran in between. */
class AppendCostFenceSpec extends SparkSpec {

  private val d = DatasetDescriptor("fence", "precip", Category.Observation,
    None, DAY_US, ChunkGrid(10 * DAY_US, 100000))

  /** Spark jobs and task input records of `body`. A nested call's jobs
    * count for the enclosing call too (its scope nests in the caller's),
    * so the whole parse counts its read-back and publish. */
  private def cost(body: => Unit): (Int, Long) = {
    val (_, jobs) = JobLog.measure(spark)(body)
    (jobs.size, jobs.map(_.recordsRead).sum)
  }

  /** A manager whose parse prices its read-back and its publish. */
  private final class Priced(storeRoot: String, catalogRoot: String)
      extends DatasetManager(d, storeRoot, catalogRoot, spark) {
    var postQc: (Int, Long) = (-1, -1L)
    var postQcCompiles: Compiles = Compiles(-1L, -1L)
    var publish: (Int, Long) = (-1, -1L)
    var parsed: (Int, Long) = (-1, -1L)
    override private[etl] def readBack(sample: DataFrame): Unit = {
      val (c, compiles) = Compiles.measure(cost(super.readBack(sample)))
      postQc = c
      postQcCompiles = compiles
    }
    override def publishMetadata(c: DatasetDescriptor): Unit =
      publish = cost(super.publishMetadata(c))
  }

  private val nLat = 6
  private val nLon = 6

  /** Parses day 5 onto a store of `storeDays` days ending on day 4. */
  private def appendOnto(storeDays: Int): Priced = {
    val m = new Priced(tmpDir(s"fence-store-$storeDays"), tmpDir(s"fence-cat-$storeDays"))
    m.parse(cube(storeDays, nLat, nLon, startDay = 5L - storeDays))
    m.parsed = cost(m.parse(cube(1, nLat, nLon, startDay = 5)))
    m
  }

  test("a 1-day append reads back and publishes the same on a 5-day and a 15-day store") {
    val small = appendOnto(5)
    val large = appendOnto(15)
    assert(large.store.read().count() == 16L * nLat * nLon)
    val updateRows = nLat * nLon
    val (_, smallRecords) = small.postQc
    val (_, largeRecords) = large.postQc
    assert(smallRecords > 0, "the listener saw no read-back input")
    assert(smallRecords == largeRecords,
      s"post-QC read $smallRecords records on the 5-day store, $largeRecords on the 15-day one")
    assert(smallRecords <= updateRows, s"post-QC read $smallRecords > $updateRows update rows")
    assert(small.store.committedExtent().isDefined && large.store.committedExtent().isDefined)
    assert(small.publish._1 == 0 && large.publish._1 == 0,
      s"publishMetadata ran ${small.publish._1} and ${large.publish._1} Spark jobs")
    // pin + profile 3, bucket write 3 with the sample 1 beside it,
    // read-back 2: 11 when the pre-parse aggregate, the update's pin and
    // axis aggregate and the sample ran one after another
    assert(small.parsed._1 == 9 && large.parsed._1 == 9,
      s"the 1-day parse ran ${small.parsed._1} and ${large.parsed._1} Spark jobs")
  }

  /** The classes of the read-back's scan (`GriddedStore.readTimes`):
    * its `time IN (...)` filter inlines the sampled times, so each
    * append's read-back compiles them afresh. */
  private val ReadTimesClasses = 3

  test("a 1-day parse after a shard ingest compiles only the classes that embed its own time") {
    // one session serving both pipelines: the corpus ingest's classes,
    // compiled between two appends, must not evict the append's
    val m = appendOnto(5)
    val s = spark
    import s.implicits._
    def docs(ids: Range) = ids.map(i => (i.toLong,
      (0 until 8).map(j => s"w${i * 8 + j}").mkString(" "), "s0")).toDF("doc_id", "text", "source")
    val corpus = new CorpusManager("fence_append_corpus", tmpDir("fence-corpus"), spark,
      numBuckets = 2, minTokens = 2)
    corpus.ingestInitial(docs(0 until 8))
    corpus.ingestShard(docs(8 until 12))
    val (_, compiles) = Compiles.measure(m.parse(cube(1, nLat, nLon, startDay = 6)))
    assert(compiles.classes == m.postQcCompiles.classes,
      s"the repeated 1-day parse compiled $compiles, its read-back ${m.postQcCompiles}")
    assert(compiles.classes <= ReadTimesClasses,
      s"the repeated 1-day parse compiled $compiles")
  }
}
