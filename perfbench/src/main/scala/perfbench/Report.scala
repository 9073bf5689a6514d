package perfbench

import java.io.{File, PrintWriter}

/** Turns a run's calls, jobs and workload extras into the printed metrics. */
final class Report(ctx: Ctx, res: Result, view: TraceView, e2e: Seq[(String, M)],
                   layer: Seq[(String, M)], extras: Seq[(String, M)]) {
  private val calls = ctx.rec.calls.toSeq
  val attempted: Int = calls.size
  val failed: Int = calls.count(!_.ok)

  def resultLine: String = {
    val metrics = if (ctx.args.trace) layer else e2e
    val correct = failed == 0 && res.wrong == 0 && res.checks > 0
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${Json.metrics(metrics)}}"""
  }

  /** Every metric the workload has, including the ones that only it has. */
  def reportLine: String = {
    val all = if (ctx.args.trace) layer ++ extras else e2e ++ extras
    s"""{"report": ${Json.str(ctx.args.workload)}, "seed": ${ctx.args.seed}, "trace": ${ctx.args.trace}, """ +
      s""""generator": ${ctx.p.toJson}, "checks": ${res.checks}, "metrics": ${Json.metrics(all)}}"""
  }

  /** Spans of the traced calls, written once the run has ended. */
  def writeTrace(): Unit = if (ctx.args.trace) {
    val f = new File(ctx.work, s"trace-${ctx.args.workload}-${ctx.args.seed}.json")
    val w = new PrintWriter(f)
    try {
      w.println("[")
      w.println(view.spans.map { s =>
        s"""{"id": ${Json.str(s.id)}, "name": ${Json.str(s.name)}, "parent": ${Json.str(s.parent)}, """ +
          s""""start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
    System.err.println(s"perfbench: trace written to $f")
  }
}

object Report {
  val ReadOps = Set("query", "query_where", "query_ids", "query_bt", "get")
  val QueryOps = Set("query", "query_where", "query_ids", "query_bt")
  val WriteOps = Set("upsert", "delete", "vacuum")
  val Ops = Seq("query", "query_where", "query_ids", "query_bt", "get",
    "upsert", "delete", "vacuum", "save", "load")

  /** Job-span time outside the call span that is its parent, summed over
    * the spans as written.
    */
  def outsideMs(spans: Seq[Span]): Double = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(_.name == "spark.job").flatMap(j => byId.get(j.parent).map { c =>
      math.max(0.0, c.startMs - j.startMs) + math.max(0.0, j.endMs - c.endMs)
    }).sum
  }

  /** End-to-end metrics of a set of loop calls that took `loopS` seconds. */
  def endToEnd(ctx: Ctx, res: Result, calls: Seq[Call], loopS: Double): Seq[(String, M)] = {
    val reads = calls.filter(c => ReadOps(c.op)).map(_.wallMs)
    val queries = calls.filter(c => QueryOps(c.op) && c.ok)
    Seq(
      "setup_s" -> M(res.setupS, "s"),
      "query_p50_ms" -> M(Stats.pct(reads, 50), "ms"),
      "batch_qps" -> M(queries.map(_.vectors).sum / (queries.map(_.wallMs).sum / 1e3), "1/s"),
      "ops_per_s" -> M(calls.count(_.ok) / loopS, "1/s"),
      "recall_at_10" -> M(Stats.mean(res.recall.toSeq), "fraction"),
      "cache_mb" -> M(res.cacheMb, "MB"))
  }

  def build(ctx: Ctx, res: Result, jobs: Seq[JobRec]): Report = {
    val all = ctx.rec.calls.toSeq
    val view = new TraceView(all, jobs)
    val loopCalls = all.filter(c => c.parent != "build")
    val untraced = loopCalls.filter(!_.traced)
    val traced = loopCalls.filter(_.traced)
    val e2e = endToEnd(ctx, res, untraced, res.loopS)

    val writes = all.filter(c => WriteOps(c.op)).map(_.wallMs)
    val extras = Seq.newBuilder[(String, M)]
    extras += "calls_timed" -> M(untraced.size, "count")
    val reads = untraced.filter(c => ReadOps(c.op)).map(_.wallMs)
    extras += "query_calls_timed" -> M(reads.size, "count")
    extras += "query_p95_ms" -> M(Stats.pct(reads, 95), "ms")
    extras += "failed_ops_ratio" -> M(
      (all.count(!_.ok) + 0.0) / math.max(1, all.size), "ratio")
    if (writes.nonEmpty) {
      extras += "write_p50_ms" -> M(Stats.pct(writes, 50), "ms")
      extras += "write_p95_ms" -> M(Stats.pct(writes, 95), "ms")
    }
    extras ++= res.extra

    val layer = Seq.newBuilder[(String, M)]
    if (ctx.args.trace) {
      val n = math.max(1, traced.size).toDouble
      def mean(f: Call => Double, cs: Seq[Call] = traced) =
        if (cs.isEmpty) 0.0 else cs.map(f).sum / cs.size
      val sums = traced.map(view.sums)
      val build = all.find(c => c.parent == "build")
      // unfiltered exact scans: every plain query outside ann_serve, whose
      // queries go to the HNSW index instead
      val exactScans = if (build.isDefined) Nil else traced.filter(c => c.op == "query" && c.ok)
      val qv = traced.filter(c => QueryOps(c.op)).map(_.vectors).sum
      layer += "vdbstore.calls" -> M(traced.size, "count")
      layer += "vdbstore.failed" -> M(traced.count(!_.ok), "count")
      layer += "vdbstore.wall_ms" -> M(mean(_.wallMs), "ms")
      layer += "vdbstore.self_ms" -> M(mean(view.selfMs), "ms")
      val q = traced.filter(_.op == "query")
      layer += "vdbstore.query.wall_ms" -> M(mean(_.wallMs, q), "ms")
      layer += "vdbstore.query.self_ms" -> M(mean(view.selfMs, q), "ms")
      Ops.foreach(op => layer += s"vdbstore.$op.calls" -> M(traced.count(_.op == op), "count"))
      layer += "spark.jobs_per_call" -> M(traced.map(view.jobsOf(_).size).sum / n, "count")
      layer += "spark.stages_per_call" -> M(traced.map(view.stages).sum / n, "count")
      layer += "spark.tasks_per_call" -> M(sums.map(_.tasks).sum / n, "count")
      val tasks = math.max(1L, sums.map(_.tasks).sum).toDouble
      layer += "spark.sched_delay_ms" -> M(sums.map(_.schedDelayMs).sum / tasks, "ms")
      val tjobs = traced.flatMap(view.jobsOf).filter(_.endMs >= 0)
      layer += "spark.job_ms" -> M(
        if (tjobs.isEmpty) 0.0 else tjobs.map(j => (j.endMs - j.startMs).toDouble).sum / tjobs.size, "ms")
      layer += "spark.snapshot_partitions" -> M(res.snapshotPartitions, "count")
      layer += "task.cpu_ms" -> M(sums.map(_.cpuMs).sum / n, "ms")
      layer += "task.run_ms" -> M(sums.map(_.runMs).sum / n, "ms")
      extras += "task.gc_ms" -> M(sums.map(_.gcMs).sum / n, "ms")
      layer += "task.input_bytes" -> M(sums.map(_.inputBytes).sum / n, "bytes")
      layer += "task.shuffle_bytes" -> M(sums.map(_.shuffleBytes).sum / n, "bytes")
      layer += "task.result_bytes" -> M(sums.map(_.resultBytes).sum / n, "bytes")
      layer += "task.cpu_ms_per_query_vector" -> M(sums.map(_.cpuMs).sum / math.max(1, qv), "ms")
      KernelProbe.run().foreach { case (k, v) => layer += s"kernels.$k" -> M(v, "GFLOP/s") }
      layer += "scan.effective_gflops" -> M(
        if (exactScans.isEmpty) 0.0
        else 2.0 * ctx.p.rows * ctx.p.dim * exactScans.map(_.vectors).sum /
          (exactScans.map(_.wallMs).sum / 1e3) / 1e9, "GFLOP/s")
      val buildSums = build.map(view.sums)
      val annQueries = if (build.isDefined) q else Nil
      layer += "hnswstore.build_tasks" -> M(buildSums.map(_.tasks.toDouble).getOrElse(0.0), "count")
      layer += "hnswstore.search_tasks_per_call" -> M(
        if (annQueries.isEmpty) 0.0 else annQueries.map(view.sums(_).tasks).sum.toDouble / annQueries.size,
        "count")
      buildSums.foreach(s => extras += "hnswstore.build_cpu_ms" -> M(s.cpuMs, "ms"))
      layer ++= Seq("storeio.files_written", "storeio.bytes_written").map(k =>
        k -> res.layer.getOrElse(k, M(0.0, if (k.endsWith("bytes_written")) "bytes" else "count")))
      layer ++= Seq("cache.mem_mb", "cache.disk_mb", "cache.rdds_pinned").map(k => k -> res.layer(k))
      val repack = traced.filter(c => res.firstAfterMutation.contains(c.id))
      layer += "cache.repack_input_bytes" -> M(
        if (repack.isEmpty) 0.0 else repack.map(view.sums(_).inputBytes).sum.toDouble / repack.size, "bytes")
      layer += "jvm.gc_ms" -> M(res.jvmGcMs, "ms")
      layer += "jvm.heap_peak_mb" -> M(res.heapPeakMb, "MB")
      // Tracing overhead: the traced calls against the untraced ones of this
      // run, which ran without the listener registered; throughput counted
      // over call time in both.
      def callS(cs: Seq[Call]) = cs.map(_.wallMs).sum / 1e3
      val te2e = endToEnd(ctx, res, traced, callS(traced)).toMap
      val ue2e = endToEnd(ctx, res, untraced, callS(untraced)).toMap
      layer += "trace.overhead_query_p50_ms" -> M(
        te2e("query_p50_ms").value - ue2e("query_p50_ms").value, "ms")
      layer += "trace.overhead_ops_per_s" -> M(
        te2e("ops_per_s").value - ue2e("ops_per_s").value, "1/s")
      layer += "trace.unattributed_jobs" -> M(view.unattributed(traced), "count")
      Seq("query_p50_ms", "batch_qps", "ops_per_s").foreach { k =>
        extras += s"untraced.$k" -> ue2e(k)
        extras += s"traced.$k" -> te2e(k)
      }
      // Per call type.
      Ops.foreach { op =>
        val cs = traced.filter(_.op == op)
        if (cs.nonEmpty) {
          extras += s"vdbstore.$op.wall_ms" -> M(mean(_.wallMs, cs), "ms")
          extras += s"vdbstore.$op.self_ms" -> M(mean(view.selfMs, cs), "ms")
          extras += s"vdbstore.$op.failed" -> M(cs.count(!_.ok), "count")
          extras += s"vdbstore.$op.jobs_per_call" -> M(cs.map(view.jobsOf(_).size).sum.toDouble / cs.size, "count")
        }
      }
      Seq("save", "load").foreach { op =>
        val cs = traced.filter(_.op == op)
        if (cs.nonEmpty) extras += s"storeio.${op}_ms" -> M(mean(_.wallMs, cs), "ms")
      }
      // Self time is wall time minus the job spans' cover of the call, so
      // it adds up only if the job spans lie inside their call.
      extras += "trace.job_ms_outside_calls" -> M(Report.outsideMs(view.spans), "ms")
      extras += "trace.spans" -> M(view.spans.size, "count")
    }
    new Report(ctx, res, view, e2e, layer.result(), extras.result())
  }
}

/** Single-core throughput of the scan kernels at dim 1024, timed from
  * outside through `graft.operators.Kernels`.
  */
object KernelProbe {
  def run(dim: Int = 1024, rows: Int = 512, millis: Long = 300): Seq[(String, Double)] = {
    val rng = new java.util.Random(17)
    val m = Array.fill(rows * dim)(rng.nextFloat() - 0.5f)
    val codes = Array.fill(rows * dim)((rng.nextInt(255) - 127).toByte)
    val qs = Array.fill(4)(Array.fill(dim)(rng.nextFloat() - 0.5f))
    val out = new Array[Float](4)
    import graft.operators.Kernels
    def rate(flopsPerRow: Double)(row: Int => Unit): Double = {
      def pass(): Unit = { var r = 0; while (r < rows) { row(r); r += 1 } }
      val warm = System.nanoTime() + millis * 1000000L / 3
      while (System.nanoTime() < warm) pass()
      var passes = 0L
      val t0 = System.nanoTime()
      val end = t0 + millis * 1000000L
      while (System.nanoTime() < end) { pass(); passes += 1 }
      passes * rows * flopsPerRow / ((System.nanoTime() - t0) / 1e9) / 1e9
    }
    val res = Seq(
      "dotPackedF_gflops" -> rate(2.0 * dim)(r => out(0) += Kernels.dotPackedF(qs(0), m, r * dim)),
      "dot4PackedF_gflops" -> rate(8.0 * dim) { r =>
        Kernels.dot4PackedF(qs(0), qs(1), qs(2), qs(3), m, r * dim, out)
      },
      "dotQ8F_gflops" -> rate(2.0 * dim)(r => out(0) += Kernels.dotQ8F(qs(0), codes, r * dim)),
      "dot4Q8F_gflops" -> rate(8.0 * dim) { r =>
        Kernels.dot4Q8F(qs(0), qs(1), qs(2), qs(3), codes, r * dim, out)
      })
    // results land in `out`, which outlives the loops, so none is dead code
    res
  }
}
