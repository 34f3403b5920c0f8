package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's per-layer metrics, its span tree and the self-time
  * accounting of the timed wall time.
  */
object Layers {

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_commit" -> "count",
    "spark.tasks_per_commit" -> "count",
    "spark.exec_run_ms_per_commit" -> "ms",
    "spark.plan_ms_per_commit" -> "ms",
    "driver_ms_per_commit" -> "ms",
    "sources.fs_bytes_written_per_commit" -> "B",
    "sources.fs_write_ops_per_commit" -> "count",
    "sources.fs_list_ops_per_commit" -> "count",
    "streaming.files_scanned_per_read" -> "count",
    "sources.fs_bytes_read_per_read" -> "B",
    "streaming.asof_ms_p50" -> "ms",
    "streaming.diff_ms_p50" -> "ms",
    "stream.addBatch_ms_p50" -> "ms",
    "stream.queryPlanning_ms_p50" -> "ms",
    "stream.walCommit_ms_p50" -> "ms",
    "stream.latestOffset_ms_p50" -> "ms",
    "stream.commitOffsets_ms_p50" -> "ms",
    "stream.rows_per_trigger_p50" -> "count",
    "stream.backlog_files_max" -> "count",
    "cdc.dead_letter_rows" -> "count",
    "cdc.registry_versions" -> "count",
    "text.append_ms_p50" -> "ms",
    "sim.append_ms_p50" -> "ms",
    "text.probe_ms_p50" -> "ms",
    "sim.probe_ms_p50" -> "ms",
    "text.segments_at_probe_mean" -> "count",
    "sim.segments_at_probe_mean" -> "count",
    "text.folds" -> "count",
    "sim.folds" -> "count",
    "text.fold_ms_total" -> "ms",
    "sim.fold_ms_total" -> "ms",
    "text.fold_bytes_written" -> "B",
    "sim.fold_bytes_written" -> "B",
    "sim.train_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.spill_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B",
    "bench.gen_lag_ms_p90" -> "ms",
    "bench.traced_commit_ms_p50" -> "ms",
    "trace.accounted_share" -> "ratio",
    "trace.spans" -> "count")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(ctx: Ctx, res: Result): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val jl = tr.jobs.get
    val jobs = jl.jobs.asScala.toSeq
    val plans = tr.plans.get.plans.asScala.toSeq
    val commits = res.commitUnits.toSeq
    val reads = res.readUnits.toSeq
    def inside(w: Work)(t: Long) = t >= w.startUs && t <= w.endUs

    // ---- span tree: bench spans, trigger spans, one span per job ----
    // A job hangs under the innermost span open on its submitting thread
    // or under its streaming batch's `addBatch`; jobs the engine submits
    // from its own pool threads carry neither and hang under the
    // innermost span open when they started.
    val benchSpans = tr.spans.asScala.toSeq
    val byId = benchSpans.map(s => s.id -> s).toMap
    def innermostAt(t: Long): Long = benchSpans
      .filter(s => s.start <= t && t < s.end)
      .sortBy(s => (s.end - s.start, -s.id)).headOption.map(_.id)
      .getOrElse(0L)
    val jobSpan: Map[Int, Long] = jobs.map { j =>
      j.jobId -> (
        if (j.span > 0) j.span
        else res.jobParent.getOrElse(j.batch, innermostAt(j.startUs)))
    }.toMap
    val spans = benchSpans ++ jobs.map { j =>
      Span(tr.nextId(), jobSpan(j.jobId), jobSpan(j.jobId), "spark.job",
        j.startUs, j.endUs)
    }
    // per top-level operation: its jobs and their task totals
    val jobsByOp = jobs.groupBy(j =>
      byId.get(jobSpan(j.jobId)).map(_.op).getOrElse(0L))
    def tasks(op: Long): Seq[TaskTotals] = jobsByOp.getOrElse(op, Nil)
      .flatMap(j => Option(jl.totals.get(j.jobId)))

    val kids = spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Long]
    // self time = the span's time minus its children's; siblings that
    // overlap (concurrent jobs) are counted once, by the earlier one
    def walk(s: Span, lo: Long, hi: Long): Unit = {
      val a = math.max(s.start, lo)
      val b = math.min(s.end, hi)
      if (b > a) {
        var covered = 0L
        var reach = a
        kids.getOrElse(s.id, Nil).sortBy(_.start).foreach { k =>
          val ka = math.max(k.start, reach)
          val kb = math.min(k.end, b)
          if (kb > ka) {
            covered += kb - ka
            walk(k, ka, kb)
            reach = kb
          }
        }
        val label =
          if (s.name == "spark.job") s.name else s"driver:${s.name}"
        self(label) = self.getOrElse(label, 0L) + (b - a) - covered
      }
    }
    val roots = spans.filter(s => s.parent == 0L && s.name != "spark.job" &&
      (res.criticalRoot.isEmpty || res.criticalRoot.contains(s.name)))
    // top-level spans that overlap (a no-data trigger during a read) are
    // counted once too, by the earlier one
    var reach = res.startUs
    roots.sortBy(_.start).foreach { r =>
      walk(r, math.max(reach, res.startUs), res.endUs)
      reach = math.max(reach, r.end)
    }
    val wall = (res.endUs - res.startUs).toDouble
    val busy = Stats.unionLength(roots.map(r =>
      (math.max(r.start, res.startUs), math.min(r.end, res.endUs))))
    self("bench.idle_or_loop") = (wall - busy).toLong
    val accounted = self.values.sum.toDouble / wall
    // jobs that started while no span was open stay outside the tree
    println("# self_ms " + Json.value(self.map { case (k, v) =>
      k -> v / 1000.0 }.toMap + ("spark.job.outside_spans" ->
      Stats.unionLength(jobs.filter(j => jobSpan(j.jobId) == 0L).map(j =>
        (math.max(j.startUs, res.startUs), math.min(j.endUs, res.endUs))))
        / 1000.0)))
    writeTrace(ctx, spans)

    // ---- per-commit split ------------------------------------------
    val perCommit = commits.map { w =>
      val js = jobsByOp.getOrElse(w.op, Nil)
      val t = tasks(w.op)
      val jobUnion = Stats.unionLength(js.map(j =>
        (math.max(j.startUs, w.startUs), math.min(j.endUs, w.endUs))))
      val plan = plans.filter(p => inside(w)(p.startUs)).map(_.planMs).sum
      (js.size.toDouble, t.map(_.tasks.sum.toDouble).sum,
        t.map(_.runMs.sum.toDouble).sum, plan,
        w.wallMs - jobUnion / 1000.0)
    }
    val fsC = commits.flatMap(_.fs)
    val readFiles = reads.map(w =>
      plans.filter(p => inside(w)(p.startUs)).map(_.numFiles).sum.toDouble)
    val windowOps = (commits ++ reads).map(_.op).toSet ++
      tr.ops.asScala.filter(o => o.startUs >= res.startUs &&
        o.endUs <= res.endUs).map(_.id)
    val tot = windowOps.toSeq.flatMap(tasks)
    def p50(name: String) = res.samples.get(name)
      .map(s => Stats.median(s.toSeq)).getOrElse(0.0)

    val values: Map[String, Double] = Map(
      "spark.jobs_per_commit" -> mean(perCommit.map(_._1)),
      "spark.tasks_per_commit" -> mean(perCommit.map(_._2)),
      "spark.exec_run_ms_per_commit" -> mean(perCommit.map(_._3)),
      "spark.plan_ms_per_commit" -> mean(perCommit.map(_._4)),
      "driver_ms_per_commit" -> mean(perCommit.map(_._5)),
      "sources.fs_bytes_written_per_commit" ->
        mean(fsC.map(_.bytesWritten.toDouble)),
      "sources.fs_write_ops_per_commit" -> mean(fsC.map(_.writeOps.toDouble)),
      "sources.fs_list_ops_per_commit" -> mean(fsC.map(_.listOps.toDouble)),
      "streaming.files_scanned_per_read" -> mean(readFiles),
      "sources.fs_bytes_read_per_read" ->
        mean(reads.flatMap(_.fs).map(_.bytesRead.toDouble)),
      "text.segments_at_probe_mean" -> res.samples
        .get("text.segments_at_probe").map(s => mean(s)).getOrElse(0.0),
      "sim.segments_at_probe_mean" -> res.samples
        .get("sim.segments_at_probe").map(s => mean(s)).getOrElse(0.0),
      "text.folds" -> res.samples.get("text.fold_ms").map(_.size.toDouble)
        .getOrElse(0.0),
      "sim.folds" -> res.samples.get("sim.fold_ms").map(_.size.toDouble)
        .getOrElse(0.0),
      "text.fold_ms_total" -> res.samples.get("text.fold_ms").map(_.sum)
        .getOrElse(0.0),
      "sim.fold_ms_total" -> res.samples.get("sim.fold_ms").map(_.sum)
        .getOrElse(0.0),
      "text.fold_bytes_written" -> res.samples.get("text.fold_bytes")
        .map(_.sum).getOrElse(0.0),
      "sim.fold_bytes_written" -> res.samples.get("sim.fold_bytes")
        .map(_.sum).getOrElse(0.0),
      "sim.train_ms" -> p50("sim.train_ms"),
      "spark.gc_ms" -> tot.map(_.gcMs.sum.toDouble).sum,
      "spark.spill_bytes" -> tot.map(_.spillBytes.sum.toDouble).sum,
      "spark.shuffle_write_bytes" ->
        tot.map(_.shuffleWriteBytes.sum.toDouble).sum,
      "bench.gen_lag_ms_p90" -> res.samples.get("bench.gen_lag_ms")
        .map(s => Stats.quantile(s.toSeq, 0.9)).getOrElse(0.0),
      "bench.traced_commit_ms_p50" -> Stats.median(res.commitMs.toSeq),
      "trace.accounted_share" -> accounted,
      "trace.spans" -> spans.size.toDouble)
    PerLayer.map { case (name, unit) =>
      val v = values.get(name)
        .orElse(res.counts.get(name))
        .getOrElse(if (name.endsWith("_p50")) p50(name.stripSuffix("_p50"))
                   else 0.0)
      (name, v, unit)
    }
  }

  /** Spans stay in memory during the run and are written out here. */
  private def writeTrace(ctx: Ctx, spans: Seq[Span]): Unit = {
    val f = new File(ctx.outDir,
      s"trace-${ctx.workload}-seed${ctx.seed}.jsonl")
    Gen.write(f, spans.sortBy(_.start).map(s => Json.value(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_us" -> s.start, "end_us" -> s.end))))
  }
}
