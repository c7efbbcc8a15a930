package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import graft.obs.JobLog
import org.apache.spark.sql.DataFrame

/** An append costs O(update), not O(store): the same 1-day append is
  * parsed onto a 5-day and a 15-day store, and the whole parse, its
  * post-parse read-back and its STAC publish are priced by [[JobLog]]
  * (Spark jobs and task input records). A full-store read creeping back
  * into either step makes the two stores' counts differ. */
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
    var publish: (Int, Long) = (-1, -1L)
    var parsed: (Int, Long) = (-1, -1L)
    override private[etl] def readBack(sample: DataFrame): Unit =
      postQc = cost(super.readBack(sample))
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
}
