package perfbench

/** Per-layer figures of a traced run.
  *
  * `metrics` holds the figures every workload has (Spark, JVM, Catalog,
  * BM25, and the trace's own accounting); `detailJson` holds the full
  * table, one entry per layer call name the workload made.
  */
final case class Layers(metrics: Seq[(String, Double, String)], detailJson: String)

object Layers {

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def summarize(a: Main.Args, run: Runner, tracer: Tracer,
      jobs: Seq[SparkProbe#Job], gcMs: Long, servingCacheBytes: Long): Layers = {
    val n = math.max(run.latMs.length, 1)
    // a job belongs to the operation whose interval holds its start (the
    // scheduler stamps times in whole milliseconds, hence the 1 ms slack)
    val ops = run.spans.toIndexedSeq
    val byOp = jobs.groupBy { j =>
      ops.indexWhere { case (s, e) => j.start >= s - 1 && j.start <= e + 1 }
    }.filter(_._1 >= 0)
    val opJobs = byOp.values.flatten.toSeq
    val gapMs = ops.indices.map { i =>
      val (s, e) = ops(i)
      val ivs = byOp.getOrElse(i, Nil).map(j => (j.start.toDouble,
        if (j.end < 0) e else j.end.toDouble))
      (e - s) - unionLength(ivs, s, e)
    }.sum
    val self = tracer.selfTimes()
    val opWallNs = run.latMs.sum * 1e6
    val layerNs = self.collect { case (k, (ns, _)) if !k.startsWith("op.") => ns }.sum
    def perOp(prefix: String): Double =
      self.collect { case (k, (ns, _)) if k.startsWith(prefix) => ns }.sum / 1e6 / n
    val spanCount = self.values.map(_._2).sum
    def quantile(q: Double) = if (run.latMs.isEmpty) 0.0 else Main.quantile(run.latMs.toSeq, q)
    val opsPerS = if (run.latMs.isEmpty) 0.0 else run.latMs.length / (run.latMs.sum / 1000.0)
    val metrics = Seq(
      ("spark.jobs_per_op", opJobs.length.toDouble / n, "count"),
      ("spark.tasks_per_op", opJobs.map(_.tasks).sum.toDouble / n, "count"),
      ("spark.driver_gap_ms_per_op", gapMs / n, "ms"),
      ("spark.executor_ms_per_op", opJobs.map(_.executorMs).sum.toDouble / n, "ms"),
      ("jvm.gc_ms_per_op", gcMs.toDouble / n, "ms"),
      ("catalog.ms_per_op", perOp("catalog."), "ms"),
      ("bm25.ms_per_op", perOp("bm25."), "ms"),
      ("trace.layer_share", if (opWallNs > 0) layerNs / opWallNs else 0.0, "ratio"),
      ("trace.spans_per_op", spanCount.toDouble / n, "count"),
      ("trace.latency_p50_ms", quantile(0.5), "ms"),
      ("trace.latency_p95_ms", quantile(0.95), "ms"),
      ("trace.ops_per_s", opsPerS, "1/s"))
    val rows = self.toSeq.sortBy(_._1).map { case (k, (ns, calls)) =>
      f""""$k": {"calls": $calls, "self_ms_per_call": ${ns / 1e6 / calls}%.4f, """ +
        f""""self_ms_per_op": ${ns / 1e6 / n}%.4f}"""
    }
    val setupRows = tracer.selfTimes(_ == Tracer.SetUp).toSeq.sortBy(_._1).map { case (k, (ns, calls)) =>
      f""""$k": {"calls": $calls, "self_ms": ${ns / 1e6}%.4f}"""
    }
    val spark =
      f""""spark": {"jobs_per_op": ${opJobs.length.toDouble / n}%.4f, """ +
      f""""tasks_per_op": ${opJobs.map(_.tasks).sum.toDouble / n}%.4f, """ +
      f""""driver_gap_ms_per_op": ${gapMs / n}%.4f, """ +
      f""""executor_ms_per_op": ${opJobs.map(_.executorMs).sum.toDouble / n}%.4f, """ +
      f""""shuffle_write_mb_per_op": ${opJobs.map(_.shuffleWrite).sum / 1048576.0 / n}%.4f, """ +
      f""""spill_mb_per_op": ${opJobs.map(_.spill).sum / 1048576.0 / n}%.4f}"""
    val kinds = run.kinds.zip(run.latMs).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      f""""$k": {"ops": ${v.length}, "p50_ms": ${Main.median(v.map(_._2).toSeq)}%.3f}"""
    }
    val detail =
      s"""{"workload": "${a.workload}", "seed": ${a.seed}, "traced": ${a.trace}, "ops": ${run.latMs.length}, """ +
      s""""op_kinds": {${kinds.mkString(", ")}}, "calls": {${rows.mkString(", ")}}, """ +
      s""""setup_calls": {${setupRows.mkString(", ")}}, $spark, """ +
      f""""jvm": {"gc_ms_per_op": ${gcMs.toDouble / n}%.4f}, """ +
      f""""servingcache": {"resident_mb": ${servingCacheBytes / 1048576.0}%.4f}, """ +
      s""""counts_per_op": {${tracer.counts.toSeq.sortBy(_._1).map { case (k, c) => f""""$k": ${c.toDouble / n}%.2f""" }.mkString(", ")}}, """ +
      f""""trace": {"layer_share": ${if (opWallNs > 0) layerNs / opWallNs else 0.0}%.4f}, """ +
      f""""wall": {"ops_per_s": $opsPerS%.4f, "latency_p50_ms": ${quantile(0.5)}%.4f, """ +
      f""""latency_p95_ms": ${quantile(0.95)}%.4f}}"""
    Layers(metrics, detail)
  }
}
