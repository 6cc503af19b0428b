package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of benchmark code around a call into an engine
  * layer. `op` is shared by every span of one op (-1 outside ops);
  * `parent` is the enclosing span's id (-1 at top level). Times are
  * epoch milliseconds with sub-millisecond precision, so they compare
  * directly with Spark listener event times. */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    op: Int, startMs: Double, endMs: Double) {
  def dur: Double = (endMs - startMs) / 1000.0
}

/** Spark job as seen by the listener: its wall interval. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1
}

/** The benchmark's measurement state: op latencies (always), and — only
  * while `recording` is on — spans, Spark listener totals, streaming
  * progress, file-system counters and GC deltas. Spans wrap the
  * benchmark's own calls into the engine; the listeners are Spark's
  * public listener interfaces; the engine's code is not instrumented. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  @volatile var recording = false

  // ---- spans -------------------------------------------------------
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1
  private var nextOp = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, layer, name, parent, curOp, t0, nowMs)
      }
    }

  /** Run one op: its latency is always recorded; while recording it is
    * also the `op` span every inner span hangs off. */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val prev = curOp
    curOp = nextOp; nextOp += 1
    try {
      val r = span("op", kind)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally curOp = prev
  }

  // ---- Spark execution ----------------------------------------------
  val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]
  var stagesDone = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized {
        if (recording) {
          val j = new JobRec(e.jobId, e.time)
          jobs += j; jobById(e.jobId) = j
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobById.remove(e.jobId).foreach(_.endMs = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized { if (recording) stagesDone += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Recorder.this.synchronized {
        val m = e.taskMetrics
        if (recording && m != null) {
          tasks += 1
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  // ---- streaming (CDC follower micro-batches) -----------------------
  val batchMs = ArrayBuffer.empty[Long]
  var batchRows = 0L

  private object streamListener extends StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
        : Unit = Recorder.this.synchronized {
      if (recording && e.progress.numInputRows > 0) {
        batchMs += e.progress.batchDuration
        batchRows += e.progress.numInputRows
      }
    }
  }

  if (traced) {
    CountingFs.install(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until Spark has delivered every event posted so far, so
    * totals read after a traced section are complete. */
  def drain(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Thread.sleep(50) // the streaming listener bus forwards asynchronously
  }

  // ---- file system and GC -------------------------------------------
  /** (read ops, list ops, write ops, bytes read, bytes written): op
    * counts from [[CountingFs]], bytes from every `file`-scheme
    * FileSystem.Statistics instance. */
  def fsCounters(): Array[Long] = {
    val ops = CountingFs.counters()
    val out = Array(ops(0), ops(2), ops(1), 0L, 0L)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").foreach { s =>
        out(3) += s.getBytesRead; out(4) += s.getBytesWritten
      }
    out
  }

  def gcCounters(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount max 0L).sum,
      beans.map(_.getCollectionTime max 0L).sum)
  }
}

object Recorder {
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    // nearest-rank: the smallest sample with at least p% at or below it
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1).min(s.size)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
