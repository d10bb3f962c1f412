package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line entry: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cpus <n>`. Prints one
  * `GRAFTBENCH_DETAIL` line (digest, per-operation metrics, failures)
  * and one `GRAFTBENCH_RESULT` line; `perfbench/run.py` turns the
  * latter into the benchmark's final stdout line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("cpus").toInt)
    val workload: Workload = a.workload match {
      case "graph_mixed" => new GraphMixed(compactDeltas = false)
      case "analytics_curation" => new BatchWorkload(new AnalyticsPart(a.seed), new CurationPart(a.seed))
      // not registered: reproduces compactDeltas breaking reads beside it
      case "graph_mixed_compact" => new GraphMixed(compactDeltas = true)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var code = 0
    val spark = Session.start(a)
    try {
      val out = workload.run(spark, a, new Ctx(spark, a, jvmStartMs))
      println("GRAFTBENCH_DETAIL " + Json.obj(out.detail))
      println("GRAFTBENCH_RESULT " + Json.obj(out.result(a.trace)))
      if (a.trace) Option(System.getProperty("graftbench.trace.file")).foreach(Trace.dump)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      spark.stop()
    }
    sys.exit(code)
  }
}

/** Spark session for a run: graft's own factory, `local[cpus]`. The
  * session start is traced as `core.session`.
  */
object Session {
  @volatile var sessionMs = 0.0
  @volatile var sessionReadyNs = 0L

  def start(a: Main.Args): SparkSession = {
    val t0 = System.nanoTime()
    val s = graft.core.Graft.session("graftbench", a.cpus.toString)
    sessionReadyNs = System.nanoTime()
    sessionMs = (sessionReadyNs - t0) / 1e6
    if (a.trace) Trace.install(s.sparkContext)
    s
  }
}

/** Per-run context shared by the workloads: timing, heap sampling and
  * the accounting of attempts, failures and per-layer values.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args, jvmStartMs: Long) {
  val work: String = args.work
  private val jvmToSessionS =
    (System.currentTimeMillis() - jvmStartMs) / 1e3 - (System.nanoTime() - Session.sessionReadyNs) / 1e9
  private var peakHeapMb = 0.0
  private val failures = mutable.ArrayBuffer.empty[String]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile var wrong = 0L

  /** Live heap right after a full collection; the maximum over the
    * sampling points (after set-up, after each batch, at the end of
    * the timed window) is `peak_heap_mb`. Never called inside a timed
    * operation. The first collection lets Spark's context cleaner find
    * unreachable cached data and drop its blocks (asynchronously; hence
    * the pause), the second one frees them.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    synchronized { peakHeapMb = math.max(peakHeapMb, used) }
  }
  def peakHeap: Double = peakHeapMb

  /** Set-up time: JVM start to session ready, plus input generation
    * and the median of the repeated set-up passes, plus warm-up.
    */
  def setupSeconds(buildS: Double, warmupS: Double): Double = jvmToSessionS + buildS + warmupS

  /** Account one operation: an exception or a wrong answer is a failure. */
  def account(kind: String, outcome: Either[Throwable, Option[String]]): Boolean = synchronized {
    attempted += 1
    outcome match {
      case Right(None) => true
      case Right(Some(why)) =>
        failed += 1; wrong += 1
        if (failures.size < 20) failures += s"$kind: wrong answer: $why"
        false
      case Left(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
  }
  def failureList: Seq[String] = synchronized(failures.toList)
}

/** One timed operation: its kind, wall latency and whether it
  * succeeded (right answer, no exception).
  */
final case class OpSample(kind: String, ms: Double, ok: Boolean, traced: Boolean) {
  /** Latency as the percentiles see it: a failed operation misses every
    * latency limit, so it counts at the full window length and is never
    * dropped.
    */
  def latencyMs(windowS: Double): Double = if (ok) ms else windowS * 1000
}

/** What a run measured. `p50Ms`, `p90Ms` and `opsPerS` are defined by
  * each workload (see perfbench/README.md).
  */
final case class Outcome(
    ctx: Ctx,
    digest: String,
    setupS: Double,
    p50Ms: Double,
    p90Ms: Double,
    opsPerS: Double,
    detail0: Seq[(String, Any)],
    perLayer: Map[String, Double]) {

  def e2e: Seq[(String, Any)] = Seq(
    "setup_s" -> setupS,
    "p50_ms" -> p50Ms,
    "p90_ms" -> p90Ms,
    "ops_per_s" -> opsPerS,
    "peak_heap_mb" -> ctx.peakHeap)

  def detail: Seq[(String, Any)] = Seq(
    "workload" -> ctx.args.workload, "seed" -> ctx.args.seed, "trace" -> ctx.args.trace,
    "input_digest" -> digest,
    "attempted" -> ctx.attempted, "failed" -> ctx.failed, "wrong_answers" -> ctx.wrong,
    "error_rate" -> (if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted)) ++
    e2e.map { case (k, v) => s"e2e.$k" -> v } ++ detail0 ++
    Seq("failures" -> ctx.failureList)

  /** Raw values; `run.py` keeps the metrics BENCHMARK.json declares. */
  def result(trace: Boolean): Seq[(String, Any)] = {
    val values: Seq[(String, Any)] = if (!trace) e2e else perLayer.toSeq.sortBy(_._1)
    Seq("correct" -> (ctx.wrong == 0 && ctx.failed == 0), "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed, "values" -> Json.Raw(Json.obj(values)))
  }
}

trait Workload {
  def run(spark: SparkSession, a: Main.Args, ctx: Ctx): Outcome
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Geometric mean (0 if any value is 0 or the sample is empty). */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile (0 for an empty sample). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
