package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.Engine
import graft.operators.SnapshotTable

/** Per-run state shared by the harness and the workload. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long) {
  /** Latencies of the ops of timed rounds. */
  val latencies = ArrayBuffer.empty[Double]
  /** Latencies of mirror catch-up calls of timed rounds. */
  val lags = ArrayBuffer.empty[Double]
  var timed = false
  var attempted = 0L
  var failed = 0L
  /** Rows the ops landed, changed or returned (timed rounds only). */
  var rows = 0L
  /** Trace-only tallies, keyed by metric name. */
  val tally = scala.collection.mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)

  def add(key: String, v: Double): Unit = if (rec.recording) tally(key) += v

  def op(kind: String)(body: => Unit): Unit = {
    val rows0 = rows
    if (timed) attempted += 1
    try {
      val (_, s) = rec.op(kind)(body)
      if (timed) latencies += s else rows = rows0
    } catch {
      case e: Exception =>
        if (timed) failed += 1
        rows = rows0
        System.err.println(s"[perfbench] op $kind failed: $e")
        e.printStackTrace()
    }
  }

  /** A mirror catch-up: timed like an op, reported as replication lag. */
  def lagged(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Exception =>
        if (timed) failed += 1
        System.err.println(s"[perfbench] follow failed: $e")
        e.printStackTrace()
        return
    }
    if (timed) lags += (System.nanoTime() - t0) / 1e9
  }
}

/** The lakehouse benchmark: one workload, one seed, a closed loop with
  * one client for about `--seconds` of timed wall. See
  * perfbench/README.md for the workloads, the metrics and how to run it.
  *
  * Args: --workload ingest|change|read --seed N --seconds S --trace 0|1
  * --t0 <epoch ms the benchmark process started> --out <dir for spans>.
  * Prints human-readable lines, then one JSON result line last. Exits
  * 1 when a correctness check or an op failed. */
object LakeBench {
  /** Fixture builds per run; set-up reports their median. */
  val Builds = 3
  /** Nearest-rank percentile reported as `op_tail_s`. A timed round holds
    * 4 to 14 ops, too few for a percentile with ten samples beyond it. */
  val TailPct = 75.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val t0Ms = args("t0").toLong
    val outDir = args("out")

    val spark = Engine.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, rec, seed)
    val w: Workload = workload match {
      case "ingest" => new Ingest(ctx)
      case "change" => new Change(ctx)
      case "read"   => new Read(ctx)
      case other    => sys.error(s"unknown workload $other")
    }

    // ---- set-up: fixtures built several times, then a warmup round ----
    val buildS = (0 until Builds).map { i =>
      val t = System.nanoTime()
      w.build(s"fixtures$i")
      (System.nanoTime() - t) / 1e9
    }
    val problems = ArrayBuffer.empty[String]
    val tw = System.nanoTime()
    w.prepare(0)
    w.round(0)
    problems ++= w.check(0)
    w.cleanup(0)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Recorder.median(buildS) + warmS

    // ---- timed rounds --------------------------------------------------
    ctx.timed = true
    val roundWall = ArrayBuffer.empty[(Boolean, Double)]
    val tracedOps = ArrayBuffer.empty[Int]
    var fs0 = Array.empty[Long]
    var gc0 = (0L, 0L)
    val fsDelta = new Array[Long](5)
    var gcDelta = (0L, 0L)
    val tracedIntervals = ArrayBuffer.empty[(Double, Double)]
    var r = 1
    var done = false
    var heapMb = 0.0
    var spaceAmp = 0.0
    while (!done) {
      w.prepare(r)
      val isTraced = traced && r % 2 == 1
      val ops0 = ctx.latencies.size
      if (isTraced) {
        fs0 = rec.fsCounters(); gc0 = rec.gcCounters()
        rec.recording = true
      }
      val startMs = rec.nowMs
      val t = System.nanoTime()
      w.round(r)
      val dt = (System.nanoTime() - t) / 1e9
      if (isTraced) {
        rec.recording = false
        tracedIntervals += ((startMs, rec.nowMs))
        tracedOps += ctx.latencies.size - ops0
        val fs1 = rec.fsCounters(); val gc1 = rec.gcCounters()
        for (k <- fsDelta.indices) fsDelta(k) += fs1(k) - fs0(k)
        gcDelta = (gcDelta._1 + gc1._1 - gc0._1, gcDelta._2 + gc1._2 - gc0._2)
      }
      roundWall += ((isTraced, dt))
      val elapsed = roundWall.map(_._2).sum
      val mean = elapsed / roundWall.size
      // stop when another round would end further from `seconds` than
      // stopping now; trace runs alternate traced and untraced rounds, so
      // need both
      done = roundWall.size >= (if (traced) 2 else 1) &&
        elapsed + mean / 2 > seconds
      if (done) {
        ctx.timed = false
        heapMb = retainedHeapMb()
        problems ++= w.check(r)
        spaceAmp = spaceAmpOf(spark, w.tables(r))
        ctx.tally("snapshot.live_files_end") = w.tables(r).map { t =>
          SnapshotTable.manifest(spark, t,
            SnapshotTable.latestVersion(spark, t)).files.size
        }.sum.toDouble
      }
      w.cleanup(r)
      Engine.clearStaged(spark, blocking = true)
      r += 1
    }
    rec.drain()

    val wall = roundWall.map(_._2).sum
    val lat = ctx.latencies.toSeq
    val correct = problems.isEmpty && ctx.failed == 0
    problems.foreach(p => println(s"[perfbench] CHECK FAILED: $p"))

    val n = lat.size
    val beyond = n - math.ceil(TailPct / 100.0 * n).toInt
    println(f"[perfbench] workload=$workload seed=$seed rounds=${roundWall.size}" +
      f" ops=$n timed_wall_s=$wall%.3f tail=p$TailPct%.0f" +
      f" ($beyond samples beyond it)")
    println(f"[perfbench] setup: session_s=$sessionS%.3f build_s=" +
      buildS.map(b => f"$b%.3f").mkString("[", ",", "]") +
      f" warmup_s=$warmS%.3f")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val e2e = Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_s", Recorder.median(lat), "s"),
          ("op_tail_s", Recorder.percentile(lat, TailPct), "s"),
          ("ops_per_s", n / wall, "1/s"),
          ("rows_per_s", ctx.rows / wall, "rows/s"),
          ("space_amp", spaceAmp, "ratio"),
          ("retained_heap_mb", heapMb, "MB"))
        // reported on the human lines only: failed_op_share is the JSON's
        // failed/attempted, and only the change workload replicates
        val extra = Seq(("failed_op_share",
            ctx.failed.toDouble / math.max(ctx.attempted, 1L), "share")) ++
          (if (ctx.lags.nonEmpty)
            Seq(("replication_lag_p50_s", Recorder.median(ctx.lags.toSeq), "s"))
          else Nil)
        (e2e ++ extra).foreach { case (k, v, u) =>
          println(s"[perfbench] $k = $v $u")
        }
        e2e
      } else {
        val layer = new LayerMetrics(rec, ctx, w, roundWall.toSeq,
          tracedOps.sum, tracedIntervals.toSeq, fsDelta, gcDelta)
        writeSpans(outDir, workload, seed, rec.spans.toSeq)
        layer.metrics.foreach { case (k, v, u) =>
          println(s"[perfbench] $k = $v $u")
        }
        layer.metrics
      }

    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {$json}}""")
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  /** Heap in use after full collections, with pauses between them so
    * Spark's context cleaner can drop the blocks and broadcasts whose
    * handles the first collection freed. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes on disk under the tables over the bytes of their live
    * snapshot data files. */
  private def spaceAmpOf(spark: SparkSession, tables: Seq[String]): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    var onDisk = 0L
    var live = 0L
    tables.foreach { t =>
      val root = new Path(t)
      val fs = root.getFileSystem(conf)
      onDisk += fs.getContentSummary(root).getLength
      val v = SnapshotTable.latestVersion(spark, t)
      SnapshotTable.manifest(spark, t, v).files.foreach { f =>
        live += fs.getFileStatus(new Path(root, f)).getLen
      }
    }
    onDisk.toDouble / math.max(live, 1L)
  }

  private def writeSpans(outDir: String, workload: String, seed: Long,
      spans: Seq[Span]): Unit = {
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val f = new java.io.File(dir, s"spans-$workload-seed$seed.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": "${s.layer}.${s.name}", """ +
        s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""parent": ${s.parent}, "op": ${s.op}}""")
    } finally w.close()
    println(s"[perfbench] spans: ${spans.size} written to ${f.getPath}")
  }
}
