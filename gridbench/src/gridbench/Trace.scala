package gridbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.json4s._

import scala.collection.mutable

/** File-system call counts; a snapshot at both ends of a span gives the
  * span's calls. */
final case class FsStats(readOps: Long, writeOps: Long) {
  def -(o: FsStats): FsStats = FsStats(readOps - o.readOps, writeOps - o.writeOps)
}

object FsStats {
  def now(): FsStats = FsStats(CountingLocalFileSystem.reads.get,
    CountingLocalFileSystem.writes.get)
}

/** One timed call. `op` groups the spans of one workload operation;
  * `parent` is -1 for an operation's root span. Times are epoch
  * microseconds read from a monotonic clock, so they line up with the
  * millisecond timestamps of Spark's job events. `attrs` carries counts
  * the caller knows about the call (rows, files, bytes). */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int,
                 val startUs: Long, val fsStart: FsStats) {
  var endUs: Long = -1
  var fs: FsStats = FsStats(0, 0)
  /** CPU time of the whole JVM and of the client thread over the span. */
  var processCpuNs, clientCpuNs = 0L
  var ok: Boolean = true
  var traced: Boolean = false
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** In-memory span recorder for the single client thread. Operation
  * spans (`op`) are always recorded, since they are the end-to-end
  * timings; layer spans (`layer`) only when tracing is on. The current
  * span id rides on the `gridbench.span` Spark local property, so every
  * job a call submits names the span that caused it. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = offsetUs + System.nanoTime() / 1000L

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var opCount = 0
  private var layersOn = false

  private def run[T](name: String, op: Int)(f: Span => T): T = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, op,
      nowUs(), FsStats.now())
    s.traced = layersOn
    val (cpu0, client0) = (Recorder.processCpuNs(), Recorder.threads.getCurrentThreadCpuTime)
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(Recorder.SpanProp, s.id.toString)
    try f(s)
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.endUs = nowUs()
      s.fs = FsStats.now() - s.fsStart
      s.processCpuNs = Recorder.processCpuNs() - cpu0
      s.clientCpuNs = Recorder.threads.getCurrentThreadCpuTime - client0
      stack = stack.tail
      spark.sparkContext.setLocalProperty(Recorder.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** True inside an operation whose layers are being traced. */
  def tracing: Boolean = layersOn

  /** A workload operation of the given kind: the unit of the
    * end-to-end latency samples. Its layer calls are traced when the
    * run is traced and `layers` is set. */
  def op[T](kind: String, layers: Boolean)(f: Span => T): T = {
    require(stack.isEmpty, s"operation $kind started inside ${stack.head.name}")
    opCount += 1
    layersOn = traced && layers
    try run(kind, opCount)(f) finally layersOn = false
  }

  /** A call into one layer, recorded only inside a traced operation. */
  def layer[T](name: String)(f: Option[Span] => T): T =
    if (!layersOn) f(None)
    else run(name, stack.head.op)(s => f(Some(s)))

  def toJson: JValue = JArray(spans.toList.map { s =>
    JObject(List(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
      "op" -> JInt(s.op), "traced" -> JBool(s.traced), "start_us" -> JLong(s.startUs),
      "end_us" -> JLong(s.endUs), "ok" -> JBool(s.ok),
      "process_cpu_ns" -> JLong(s.processCpuNs),
      "client_cpu_ns" -> JLong(s.clientCpuNs),
      "fs_read_ops" -> JLong(s.fs.readOps),
      "fs_write_ops" -> JLong(s.fs.writeOps),
      "attrs" -> JObject(s.attrs.toList.map { case (k, v) => k -> JDouble(v) })))
  })
}

object Recorder {
  val SpanProp = "gridbench.span"
  val threads: java.lang.management.ThreadMXBean =
    java.lang.management.ManagementFactory.getThreadMXBean
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Spark listener that keeps one record per job: its interval, the span
  * that submitted it (-1 when the submitting thread did not inherit the
  * span property; such jobs are attributed by time afterwards) and the
  * task counters summed over its stages. It also tracks the bytes of
  * cached RDD blocks, and the peak of that total under each span.
  * Read it only after the listener bus has drained (after
  * `SparkContext.stop`). */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val startMs: Long) {
    var endMs: Long = -1
    var succeeded = false
    var tasks, cpuNs, inBytes, inRecords, shuffleRead, shuffleWrite,
      outBytes, outRecords, spillBytes = 0L
  }
  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap.empty
  private val stageToJob = mutable.HashMap.empty[Int, Job]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var pinnedBytes = 0L
  private var lastSpan = -1
  val pinnedPeak: mutable.HashMap[Int, Long] = mutable.HashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.SpanProp))).map(_.toInt).getOrElse(-1)
    val j = new Job(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageToJob(_) = j)
    if (span >= 0) lastSpan = span
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRecords += m.outputMetrics.recordsWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val old = blocks.getOrElse(info.blockId.name, 0L)
      if (info.storageLevel.isValid && size > 0) blocks(info.blockId.name) = size
      else blocks.remove(info.blockId.name)
      pinnedBytes += blocks.getOrElse(info.blockId.name, 0L) - old
      if (lastSpan >= 0)
        pinnedPeak(lastSpan) = math.max(pinnedPeak.getOrElse(lastSpan, 0L), pinnedBytes)
    }
  }

  // unpersist drops an RDD's blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList.foreach { b =>
      pinnedBytes -= blocks.remove(b).getOrElse(0L)
    }
  }

  def toJson: JValue = synchronized {
    JArray(jobs.values.toList.map { j =>
      JObject(List(
        "id" -> JInt(j.id), "span" -> JInt(j.span),
        "start_ms" -> JLong(j.startMs), "end_ms" -> JLong(j.endMs),
        "ok" -> JBool(j.succeeded), "tasks" -> JLong(j.tasks),
        "cpu_ns" -> JLong(j.cpuNs), "input_bytes" -> JLong(j.inBytes),
        "input_records" -> JLong(j.inRecords),
        "shuffle_read_bytes" -> JLong(j.shuffleRead),
        "shuffle_write_bytes" -> JLong(j.shuffleWrite),
        "output_bytes" -> JLong(j.outBytes),
        "output_records" -> JLong(j.outRecords),
        "spill_bytes" -> JLong(j.spillBytes)))
    })
  }
}
