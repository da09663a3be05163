package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val smoke: Boolean) {
  private var problems = 0

  /** A correctness check: a false `ok` makes the run incorrect. */
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) {
      problems += 1
      if (problems <= 20) System.err.println(s"perfbench: CHECK FAILED: $msg")
    }

  def correct: Boolean = problems == 0
}

/** Runs operations: times each one, counts it as attempted and as ok or
  * failed, and keeps the latencies of the ones that succeeded.
  */
final class Runner(ctx: Ctx) {
  /** Operations run while false (set-up, warm-up) are not counted. */
  var counted = false
  val latMs = mutable.ArrayBuffer.empty[Double]
  val kinds = mutable.ArrayBuffer.empty[String]
  /** Wall-clock interval of each counted successful operation, epoch ms. */
  val spans = mutable.ArrayBuffer.empty[(Double, Double)]
  var cpuNanos = 0L
  var attempted = 0
  var failed = 0
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(n: Long): Double = epoch0 + (n - nano0) / 1e6

  def op[T](kind: String)(body: => T): Option[T] = {
    val tr = ctx.tracer
    if (counted) tr.opId = attempted
    val c0 = Jvm.appCpuNanos
    val t0 = System.nanoTime()
    try {
      val v = tr.span("op." + kind)(body)
      val t1 = System.nanoTime()
      if (counted) {
        latMs += (t1 - t0) / 1e6
        kinds += kind
        spans += ((epochMs(t0), epochMs(t1)))
        cpuNanos += Jvm.appCpuNanos - c0
      }
      Some(v)
    } catch {
      case NonFatal(e) =>
        if (counted) failed += 1
        System.err.println(s"perfbench: operation '$kind' failed:")
        e.printStackTrace()
        None
    } finally {
      if (counted) attempted += 1
      tr.opId = -1
    }
  }
}

/** One workload: seeded inputs, pinned state, and whole rounds of
  * operations.
  */
trait Workload {
  /** Stage the inputs and build the pinned state under `dir`. */
  def setUp(dir: Path): Unit
  /** Run every operation kind once or a few times, uncounted. */
  def warmUp(run: Runner): Unit
  /** One whole round of measured operations; round `r` counts from 0. */
  def round(run: Runner, r: Int): Unit
  /** Checks of the last set-up's outputs (not timed). */
  def checkSetUp(): Unit = ()
  /** Checks that need the end state of the run. */
  def finish(): Unit = ()
  /** Bytes of input text and vectors behind the files of [[dataBytes]]. */
  def inputBytes: Long
  /** Bytes of the tables, sidecars and index artifacts the run keeps. */
  def dataBytes: Long
  /** Drop pinned state (cached blocks, serving-cache entries). */
  def release(): Unit
}

object Main {

  /** Share of CPU time taken by the hypervisor above which a run is
    * flagged as contended.
    */
  val StealLimit = 0.05

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, scratch: Path, out: Path, smoke: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--scratch")).toAbsolutePath,
      Paths.get(need("--out")).toAbsolutePath, m.get("--smoke").contains("1"))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // a run starts from an empty, run-private scratch root and never
    // reads what an earlier process wrote there
    if (Files.exists(a.scratch) && Files.list(a.scratch).findAny().isPresent) {
      System.err.println(s"perfbench: scratch root ${a.scratch} is not empty; refusing to run")
      sys.exit(2)
    }
    Files.createDirectories(a.scratch)
    Files.createDirectories(a.out)
    val local = a.scratch.resolve("spark-local")
    Files.createDirectories(local)
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    System.setProperty("spark.local.dir", local.toString)
    System.setProperty("spark.sql.warehouse.dir", a.scratch.resolve("warehouse").toString)

    val load0 = Jvm.load1
    val steal0 = Jvm.stealJiffies()
    val wall0 = System.nanoTime()
    val cpu0 = Jvm.cpuNanos
    val spark = graft.GraftSession.local(Jvm.nproc)
    val sessionS = (System.currentTimeMillis() - Jvm.startMillis) / 1000.0
    val calib0 = Jvm.calibrationMs()
    val sparkProbe = new SparkProbe
    spark.sparkContext.addSparkListener(sparkProbe)
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(spark, tracer, a.seed, a.smoke)
    val run = new Runner(ctx)
    var result: Option[String] = None
    var w: Workload = null
    try {
      w = a.workload match {
        case "rag_query" => new RagQuery(ctx)
        case "kb_upload" => new KbUpload(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // one set-up per run: rag_query's is the whole bulk build, and
      // repeating it would not fit the benchmark's time limit
      tracer.opId = Tracer.SetUp
      val t0 = System.nanoTime()
      w.setUp(a.scratch.resolve("data"))
      val setupS = (System.nanoTime() - t0) / 1e9
      tracer.opId = -1
      w.checkSetUp()
      val tWarm = System.nanoTime()
      if (!a.smoke) w.warmUp(run)
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val gc0 = Jvm.gcMillis
      run.counted = true
      val tMeasure = System.nanoTime()
      var r = 0
      while (r == 0 || (!a.smoke && System.nanoTime() - tMeasure < a.seconds * 1000000000L)) {
        w.round(run, r)
        r += 1
      }
      run.counted = false
      val gcMs = Jvm.gcMillis - gc0
      w.finish()
      val n = run.latMs.length
      val dataBytes = w.dataBytes
      val sc = spark.sparkContext
      // full collections first: they let Spark's cleaner drop broadcasts
      // and blocks nothing references any more; unpersist and cleaning
      // are asynchronous, so storage is read once it has settled
      val liveBytes = Jvm.liveHeapBytes()
      def storageBytes = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      var residentBytes = storageBytes
      var settled = false
      var tries = 0
      while (!settled && tries < 20) {
        Thread.sleep(100)
        val now = storageBytes
        settled = now == residentBytes
        residentBytes = now
        tries += 1
      }
      org.apache.spark.PerfbenchBus.drain(sc)
      val layers = Layers.summarize(a, run, tracer, sparkProbe.snapshot(), gcMs,
        graft.operators.ServingCache.totalBytes)
      val load1 = Jvm.load1
      val calib1 = Jvm.calibrationMs()
      val steal1 = Jvm.stealJiffies()
      val stealShare = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
      val wallS = (System.nanoTime() - wall0) / 1e9
      val cpuS = (Jvm.cpuNanos - cpu0) / 1e9
      // the end load includes this run's own threads; subtract their
      // average parallelism to see what else ran on the box
      val contended = load0 > Jvm.nproc || load1 - cpuS / wallS > Jvm.nproc ||
        stealShare > StealLimit
      val provenance =
        f"""{"nproc": ${Jvm.nproc}, "load1_start": $load0%.2f, "load1_end": $load1%.2f, """ +
        f""""process_cpu_s": $cpuS%.2f, "wall_s": $wallS%.2f, "contended": $contended, """ +
        f""""cpu_steal_share": $stealShare%.3f, "calibration_ms_start": $calib0%.1f, "calibration_ms_end": $calib1%.1f, """ +
        s""""rounds": $r, "ops": $n, "session_s": ${fmt(sessionS)}, """ +
        s""""setup_s": ${fmt(setupS)}, "warmup_s": ${fmt(warmS)}}"""
      System.err.println(s"perfbench: provenance $provenance")
      if (contended)
        System.err.println(
          s"perfbench: CONTENDED: load above the core count or CPU steal above $StealLimit")
      val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      Files.writeString(a.out.resolve(s"$tag.json"),
        s"""{"provenance": $provenance, "layers": ${layers.detailJson}}""" + "\n")
      if (a.trace) tracer.write(a.out.resolve(s"$tag.spans.jsonl"))
      val metrics =
        if (a.trace) layers.metrics
        else if (n == 0) Nil
        else Seq(
          ("setup_s", sessionS + setupS + warmS, "s"),
          ("cpu_ms_per_op", run.cpuNanos / 1e6 / n, "ms"),
          ("driver_live_mb", liveBytes / 1048576.0, "MB"),
          ("resident_mb", residentBytes / 1048576.0, "MB"),
          ("disk_bytes_per_input_byte", dataBytes.toDouble / w.inputBytes, "ratio"))
      val correct = ctx.correct && n > 0
      result = Some(s"""{"correct": $correct, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": ${json(metrics)}}""")
    } catch {
      case NonFatal(e) =>
        System.err.println("perfbench: run aborted:")
        e.printStackTrace()
    } finally {
      try {
        try { if (w != null) w.release() }
        finally spark.stop()
      } finally {
        result.foreach(println)
        System.out.flush()
        deleteTree(a.scratch)
      }
    }
    sys.exit(if (result.isDefined) 0 else 1)
  }
}
