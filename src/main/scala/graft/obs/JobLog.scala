package graft.obs

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The Spark jobs a piece of driver code started, on its own thread and
  * on every thread it started: [[JobLog.measure]] runs the code and
  * returns them.
  *
  * '''Scope.''' A job belongs to a measured call when it carries the
  * call's scope in the [[JobLog.ScopeProp]] local property, or a scope
  * nested in it. Local properties are inherited the way the job group
  * is: by AQE's async broadcast and subquery jobs (captured with the
  * submitting thread's properties), by the pool threads of
  * `Concurrent.allOf` (created by the caller) and by a streaming
  * query's thread (created by `start()`). The job group itself will not
  * do: `StreamExecution.runStream` sets a group of its own (the query's
  * run id) on the stream thread, so a group-scoped count loses every
  * job of a streaming query started inside the call. Nothing but this
  * recorder sets its property. A nested call opens `<outer>/<id>`, so
  * the enclosing call counts the nested call's jobs too.
  *
  * '''Completeness.''' After the body returns, a marker job runs under
  * a scope of its own (outside every measured scope, so no enclosing
  * call counts it), and `measure` waits until the listener sees it. The
  * listener bus delivers events in the order they were posted, and the
  * scheduler posts a job's start after the start, task ends and end of
  * every job submitted and finished before it. So once the marker's
  * start has arrived, every job the body ran to its end has arrived
  * with its tasks. A job the body left running may arrive without its
  * end (`endMs` None) or not at all. */
final class JobLog private (scope: String, marker: String) extends SparkListener {
  import JobLog.{Job, ScopeProp}

  private val started = mutable.LinkedHashMap[Int, Job]()
  private val ends = mutable.HashMap[Int, Long]()
  private val records = mutable.HashMap[Int, Long]()
  // each stage's tasks count for the first job that listed the stage: a
  // stage shared with a later job (reused shuffle output) runs its tasks once
  private val stageJob = mutable.HashMap[Int, Int]()
  private val markerSeen = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(ScopeProp) match {
      case Some(s) if s == scope || s.startsWith(s"$scope/") =>
        // the RESULT stage, created last, names the action's call site
        // ("count at CorpusManager.scala:1024")
        val stages = e.stageInfos.sortBy(_.stageId)
        val job = Job(e.jobId,
          prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")),
          stages.lastOption.fold("?")(_.name), stages.map(s => (s.name, s.numTasks)),
          e.time, None, 0L)
        synchronized {
          started(e.jobId) = job
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
        }
      case Some(`marker`) => markerSeen.countDown()
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (started.contains(e.jobId)) ends(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageJob.get(e.stageId); m <- Option(e.taskMetrics))
      records(id) = records.getOrElse(id, 0L) + m.inputMetrics.recordsRead
  }

  private def jobs: Seq[Job] = synchronized {
    started.values.map(j => j.copy(endMs = ends.get(j.id),
      recordsRead = records.getOrElse(j.id, 0L))).toList
  }
}

object JobLog {

  /** The local property holding the measured scope. */
  val ScopeProp = "graft.obs.scope"

  private val MarkerTimeoutS = 30L

  /** One job: its SQL execution (`spark.sql.execution.root.id`, else
    * `spark.sql.execution.id`; None outside any execution), the call
    * site of its result stage, its stages' names and task counts in
    * stage order, its start and end times from the scheduler's events
    * (ms since the epoch), and the input records its tasks read. */
  final case class Job(id: Int, execution: Option[String], site: String,
                       stages: Seq[(String, Int)], startMs: Long,
                       endMs: Option[Long], recordsRead: Long) {
    /** Wall time, 0 for a job whose end was not seen. */
    def ms: Long = endMs.fold(0L)(_ - startMs)
  }

  /** Runs `body` in a fresh scope nested in the caller's, and returns
    * its result and the jobs started in that scope, in start order. The
    * caller's scope is restored and the listener removed on return and
    * on throw. Throws IllegalStateException when the marker job has not
    * reached the listener within 30 s. */
  def measure[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val outer = Option(sc.getLocalProperty(ScopeProp))
    val id = UUID.randomUUID().toString
    val scope = outer.fold(id)(o => s"$o/$id")
    val marker = s"marker-$id"
    def in[A](s: String)(f: => A): A = {
      sc.setLocalProperty(ScopeProp, s)
      try f finally sc.setLocalProperty(ScopeProp, outer.orNull)
    }
    val log = new JobLog(scope, marker)
    sc.addSparkListener(log)
    try {
      val out = in(scope)(body)
      in(marker)(sc.parallelize(Seq(1), 1).count())
      if (!log.markerSeen.await(MarkerTimeoutS, TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"marker job never reached the listener in $MarkerTimeoutS s")
      (out, log.jobs)
    } finally sc.removeSparkListener(log)
  }
}
