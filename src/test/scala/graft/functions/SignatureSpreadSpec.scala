package graft.functions

import graft.SparkSpec
import graft.obs.JobLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Signatures.spread` decides whether to repartition a signature
  * pass's input without running it: over a plan with an exchange, the
  * old partition count query executed every shuffle stage once just to
  * read a number, and the signature pass then ran them again. */
class SignatureSpreadSpec extends SparkSpec {

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (1L to 300L).map(i => (i, s"w${i % 7} w${i % 11} w${i % 13} w$i w${i % 5}"))
      .toDF("doc_id", "text")
  }

  private def sigs(df: DataFrame): Map[Long, Seq[Long]] =
    Signatures.minhash(df, "doc_id", "text", 3, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("spread over a frame with an exchange runs no job; minhash output is unchanged") {
    // an aggregate puts a shuffle (and an adaptive plan) under the input
    val shuffled = docs.groupBy("doc_id").agg(first("text").as("text"))
    assert(shuffled.queryExecution.executedPlan.toString.contains("Exchange"))
    val (spreadOut, jobs) = JobLog.measure(spark)(Signatures.spread(shuffled))
    assert(jobs.size == 0, s"spread ran ${jobs.size} Spark jobs over an exchange")
    assert(spreadOut.count() == 300)
    // a pinned single-partition input is spread, also without a job
    val pinned = docs.coalesce(1).localCheckpoint()
    val (spreadPinned, pinnedJobs) = JobLog.measure(spark)(Signatures.spread(pinned))
    assert(pinnedJobs.size == 0)
    assert(spreadPinned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val want = sigs(pinned)
    assert(want.size == 300)
    assert(sigs(shuffled) == want && sigs(docs) == want)
  }
}
