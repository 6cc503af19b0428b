package graft.perfbench

/** Per-layer metrics of a traced run, from the traced rounds only: the
  * benchmark's spans around layer calls, the Spark and streaming
  * listeners, Hadoop `file` statistics and JVM GC counters. Rates are
  * normalised per op (or per call of the layer), so runs of different
  * length compare. A metric a workload never exercises reads 0, except
  * the pipeline metrics, which only the ingest workload reports. */
final class LayerMetrics(rec: Recorder, ctx: Ctx, w: Workload,
    rounds: Seq[(Boolean, Double)], ops: Int,
    tracedIntervals: Seq[(Double, Double)], fs: Array[Long],
    gc: (Long, Long)) {
  import Recorder.{median, unionLength}

  private val spans = rec.spans.toSeq
  private val byId = spans.map(s => s.id -> s).toMap
  private val wall = rounds.filter(_._1).map(_._2).sum
  private val perOp = 1.0 / math.max(ops, 1)

  private def named(layer: String, names: String*): Seq[Span] =
    spans.filter(s => s.layer == layer && names.contains(s.name))
  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def meanDur(layer: String, names: String*): Double =
    mean(named(layer, names: _*).map(_.dur))
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  private def clip(iv: (Double, Double), to: (Double, Double)) =
    (math.max(iv._1, to._1), math.min(iv._2, to._2))

  private val jobIv: Seq[(Double, Double)] = rec.jobs.toSeq.map { j =>
    val end = if (j.endMs >= 0) j.endMs.toDouble else tracedIntervals
      .map(_._2).max
    (j.startMs.toDouble, end)
  }
  private def busyWithin(iv: (Double, Double)): Double =
    unionLength(jobIv.map(clip(_, iv))) / 1000.0
  private def jobsStartedIn(ss: Seq[Span]): Int =
    jobIv.count { case (s, _) => ss.exists(x => s >= x.startMs && s <= x.endMs) }

  private val busy = tracedIntervals.map(busyWithin).sum

  private val commitCalls = named("snapshot", "append", "merge_mor",
    "delete_where")
  private val commits = ctx.tally("commit.commits")
  private val allCommits = commits + ctx.tally("maintain.commits")
  private val follows = named("cdc", "follow")
  private val batches = rec.batchMs.size
  private val plans = named("scan", "plan")
  private val live = ctx.tally("scan.files_live")
  private val kept = ctx.tally("scan.files_kept")

  /** Self time: a span's duration minus its children's, summed per
    * layer (`op` = time inside ops outside every layer call). */
  private val self: Map[String, Double] = {
    val childSum = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.dur).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.dur - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Share of traced wall inside spans around layer calls: top-level
    * layer spans plus the layer spans directly under an op. */
  private val coverage: Double = ratio(spans.filter { s =>
    s.layer != "op" && s.layer != "trace" &&
      (s.parent < 0 || byId.get(s.parent).exists(_.layer == "op"))
  }.map(_.dur).sum, wall)

  private val overhead: Double = {
    val t = rounds.filter(_._1).map(_._2)
    val u = rounds.filterNot(_._1).map(_._2)
    if (t.isEmpty || u.isEmpty) 0.0 else mean(t) / mean(u) - 1.0
  }

  /** Pipeline metrics exist only where a workload drives the pipeline,
    * so runs of the other workloads report exactly the listed set. */
  private val pipeline: Seq[(String, Double, String)] =
    if (!w.isInstanceOf[Ingest]) Nil else Seq(
      ("pipeline.csv_land_s", meanDur("pipeline", "csv_land"), "s/call"),
      ("pipeline.bronze_write_s", meanDur("pipeline", "bronze_write"),
        "s/call"),
      ("pipeline.bronze_read_s", meanDur("pipeline", "bronze_read"), "s/call"),
      ("pipeline.bronze_files_read",
        ctx.tally("pipeline.bronze_files_read") * perOp, "files/op"),
      ("pipeline.silver_append_s", meanDur("snapshot", "append"), "s/call"),
      ("pipeline.gold_publish_s", meanDur("pipeline", "gold_publish"),
        "s/call"),
      ("pipeline.gold_read_s", meanDur("gold", "gold_read"), "s/call"),
      ("pipeline.gold_parts_republished",
        ctx.tally("pipeline.gold_parts_republished") * perOp, "parts/op"),
      ("self.pipeline_s", self.getOrElse("pipeline", 0.0) * perOp, "s/op"))

  val metrics: Seq[(String, Double, String)] = pipeline ++ Seq(
    ("fs.read_ops", fs(0) * perOp, "ops/op"),
    ("fs.write_ops", fs(2) * perOp, "ops/op"),
    ("fs.list_ops", fs(1) * perOp, "ops/op"),
    ("fs.bytes_read", fs(3) * perOp, "B/op"),
    ("fs.bytes_written", fs(4) * perOp, "B/op"),
    ("fs.write_amp", ratio(fs(4) * perOp, w.userBytesPerOp), "ratio"),
    ("snapshot.commits", allCommits * perOp, "commits/op"),
    ("snapshot.commit_s", mean(commitCalls.map(_.dur)), "s/call"),
    ("snapshot.commit_driver_s",
      mean(commitCalls.map(s => s.dur - busyWithin((s.startMs, s.endMs)))),
      "s/call"),
    ("snapshot.jobs_per_commit", ratio(jobsStartedIn(commitCalls), commits),
      "jobs/commit"),
    ("snapshot.files_added", ratio(ctx.tally("commit.files_added") +
      ctx.tally("maintain.files_added"), allCommits), "files/commit"),
    ("snapshot.files_removed", ratio(ctx.tally("commit.files_removed") +
      ctx.tally("maintain.files_removed"), allCommits), "files/commit"),
    ("snapshot.live_files_end", ctx.tally("snapshot.live_files_end"),
      "files"),
    ("snapshot.maintain_s", meanDur("snapshot", "maintain"), "s/call"),
    ("cdc.follow_s", mean(follows.map(_.dur)), "s/call"),
    ("cdc.replication_lag_p50_s",
      if (follows.isEmpty) 0.0 else median(follows.map(_.dur)), "s/call"),
    ("cdc.micro_batches", ratio(batches, follows.size), "batches/call"),
    ("cdc.rows_in", ratio(rec.batchRows.toDouble, follows.size),
      "rows/call"),
    ("cdc.batch_p50_s",
      if (batches == 0) 0.0 else median(rec.batchMs.toSeq.map(_ / 1000.0)),
      "s/batch"),
    ("cdc.jobs_per_batch", ratio(jobsStartedIn(follows), batches),
      "jobs/batch"),
    ("scan.plan_s", meanDur("scan", "plan"), "s/query"),
    ("scan.exec_s", meanDur("scan", "exec"), "s/query"),
    ("scan.files_live", ratio(live, plans.size), "files/query"),
    ("scan.files_kept", ratio(kept, plans.size), "files/query"),
    ("scan.kept_ratio", ratio(kept, live), "ratio"),
    ("gold.view_s", meanDur("gold", "view"), "s/query"),
    ("gold.dq_s", meanDur("gold", "dq"), "s/query"),
    ("spark.jobs", rec.jobs.size * perOp, "jobs/op"),
    ("spark.stages", rec.stagesDone * perOp, "stages/op"),
    ("spark.tasks", rec.tasks * perOp, "tasks/op"),
    ("spark.job_busy_s", busy * perOp, "s/op"),
    ("spark.executor_run_s", rec.runMs / 1000.0 * perOp, "s/op"),
    ("spark.executor_cpu_s", rec.cpuNs / 1e9 * perOp, "s/op"),
    ("spark.shuffle_read_bytes", rec.shuffleRead * perOp, "B/op"),
    ("spark.shuffle_write_bytes", rec.shuffleWrite * perOp, "B/op"),
    ("spark.spill_bytes", rec.spill * perOp, "B/op"),
    ("driver.gap_s", (wall - busy) * perOp, "s/op"),
    ("driver.gap_share", ratio(wall - busy, wall), "share"),
    ("jvm.gc_s", gc._2 / 1000.0 * perOp, "s/op"),
    ("jvm.gc_count", gc._1 * perOp, "count/op"),
    ("self.harness_s", self.getOrElse("op", 0.0) * perOp, "s/op"),
    ("self.snapshot_s", self.getOrElse("snapshot", 0.0) * perOp, "s/op"),
    ("self.cdc_s", self.getOrElse("cdc", 0.0) * perOp, "s/op"),
    ("self.scan_s", self.getOrElse("scan", 0.0) * perOp, "s/op"),
    ("self.gold_s", self.getOrElse("gold", 0.0) * perOp, "s/op"),
    ("self.trace_s", self.getOrElse("trace", 0.0) * perOp, "s/op"),
    ("trace.span_coverage", coverage, "share"),
    ("trace.overhead_share", overhead, "share"))
}
