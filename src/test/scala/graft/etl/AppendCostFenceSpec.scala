package graft.etl

import graft.SparkSpec
import graft.model.{Category, ChunkGrid, DatasetDescriptor}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** An append costs O(update), not O(store): the same 1-day append is
  * parsed onto a 5-day and a 15-day store, and the whole parse, its
  * post-parse read-back and its STAC publish are priced by a listener
  * (Spark jobs and task input records). A full-store read creeping back
  * into either step makes the two stores' counts differ. */
class AppendCostFenceSpec extends SparkSpec {

  private val d = DatasetDescriptor("fence", "precip", Category.Observation,
    None, DAY_US, ChunkGrid(10 * DAY_US, 100000))

  /** Spark jobs and task input records launched by `body` on this thread
    * (async broadcast jobs and the pool threads of a concurrent step
    * inherit its job group). A nested call prices its part under a group
    * that extends the enclosing one, so the enclosing call counts it too.
    * Listener events are delivered in order, so once a marker job
    * submitted after `body` has been seen, every task `body` ran has been
    * seen too. */
  private def cost(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val id = java.util.UUID.randomUUID()
    val group = outer.fold(s"fence-$id")(g => s"$g/$id")
    val marker = s"marker-$id"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val records = new AtomicLong
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == group || g.startsWith(s"$group/") =>
            jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some(`marker`) => markerSeen = true
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "priced")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      (jobs.get, records.get)
    } finally {
      sc.removeSparkListener(listener)
      outer.foreach(sc.setJobGroup(_, "priced"))
    }
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
