package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed interval of the benchmark's own call into a layer. Times
  * are `System.nanoTime`; `parent` 0 is a request root.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group (one span). */
final class SparkStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuMs = 0.0; var gcMs = 0L
  var scanBytes = 0L; var scanRecords = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var slotWaitMs = 0L

  def +=(o: SparkStats): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs
    gcMs += o.gcMs; scanBytes += o.scanBytes; scanRecords += o.scanRecords
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; slotWaitMs += o.slotWaitMs
    this
  }
}

/** Attributes every job, stage and task to the job group the
  * benchmark set on the submitting thread (`gb-<span id>`), plus a
  * whole-run total. Registered only in traced runs.
  */
final class Attribution extends SparkListener {
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val firstLaunch = mutable.Map.empty[Int, Long]
  private val byGroup = mutable.Map.empty[String, SparkStats]
  private val total = new SparkStats

  private def of(g: String) = byGroup.getOrElseUpdate(g, new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.GroupKey))).getOrElse("")
    of(g).jobs += 1; total.jobs += 1
    e.stageInfos.foreach(s => groupOfStage(s.stageId) = g)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val t = e.taskInfo.launchTime
    firstLaunch(e.stageId) = firstLaunch.get(e.stageId).fold(t)(math.min(_, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    val s = new SparkStats
    s.stages = 1; s.tasks = info.numTasks
    if (m != null) {
      s.runMs = m.executorRunTime; s.cpuMs = m.executorCpuTime / 1e6; s.gcMs = m.jvmGCTime
      s.scanBytes = m.inputMetrics.bytesRead; s.scanRecords = m.inputMetrics.recordsRead
      s.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      s.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    for (launch <- firstLaunch.remove(info.stageId); sub <- info.submissionTime)
      s.slotWaitMs = math.max(0L, launch - sub)
    of(groupOfStage.remove(info.stageId).getOrElse("")) += s
    total += s
  }

  def stats(group: String): SparkStats = synchronized { new SparkStats += of(group) }
  def totals: SparkStats = synchronized { new SparkStats += total }
}

/** Spans and counts recorded from the benchmark's own calls into each
  * layer. A request is one client operation (or one set-up pass, or
  * one batch); its spans share the request id. Spans are kept in
  * memory and written out when the run ends.
  */
object Trace {
  val GroupKey = "spark.jobGroup.id"

  @volatile private var sc: SparkContext = _
  @volatile private var listener: Attribution = _
  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  // nanoTime - epoch ms * 1e6, to place Catalyst phase timestamps
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  final class Req(val id: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    /** Direct children of each span, by parent id. */
    private lazy val kids = spans.groupBy(_.parent)

    def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
    def has(name: String): Boolean = spans.exists(_.name == name)
    def ms(name: String): Double = named(name).map(_.ms).sum

    /** Duration minus the part of it its child spans cover. */
    def selfMs(name: String): Double = named(name).map { s =>
      s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum
    }.sum

    /** Spark work of the spans whose name satisfies `p` (each span's
      * own job group; jobs run by a child span count under the child).
      */
    def spark(p: String => Boolean): SparkStats =
      spans.filter(s => p(s.name)).foldLeft(new SparkStats)((acc, s) => acc += listener.stats(s"gb-${s.id}"))
  }

  private final class Ctx(val req: Req, var span: Long)
  private val ctx = new ThreadLocal[Ctx]

  def enabled: Boolean = listener != null

  /** Is the calling thread inside a traced request? */
  def active: Boolean = ctx.get != null

  /** Turn tracing on for this run: register the listener. */
  def install(context: SparkContext): Unit = {
    sc = context
    listener = new Attribution
    context.addSparkListener(listener)
  }

  /** Whole-run Spark totals, once every event of the jobs that have
    * finished so far has reached the listener.
    */
  def totals: SparkStats =
    if (!enabled) new SparkStats
    else { org.apache.spark.GraftBenchBridge.drain(sc); listener.totals }

  /** Run `body` as one request. When `traced` (and tracing is
    * installed) its spans are recorded and, once Spark's listener bus
    * has drained, the finished [[Req]] is returned for attribution.
    */
  def request[T](traced: Boolean)(body: => T): (T, Option[Req]) =
    if (!traced || !enabled) (body, None)
    else {
      val r = new Req(ids.incrementAndGet())
      ctx.set(new Ctx(r, 0L))
      val out = try body finally ctx.remove()
      org.apache.spark.GraftBenchBridge.drain(sc)
      (out, Some(r))
    }

  /** Time `body` as span `name`; jobs it submits are tagged with the
    * span's own job group.
    */
  def span[T](name: String)(body: => T): T = {
    val c = ctx.get
    if (c == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = c.span
      c.span = id
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"gb-$id")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        c.span = parent
        sc.setLocalProperty(GroupKey, prev)
        record(c.req, Span(id, parent, c.req.id, name, t0, t1))
      }
    }
  }

  /** Record the Catalyst phases of an executed frame (its
    * `queryExecution.tracker`) as spans named `name`, each under the
    * innermost recorded span of the request that encloses it.
    */
  def catalyst(df: DataFrame, name: String): Unit = {
    val c = ctx.get
    if (c != null) for ((_, p) <- df.queryExecution.tracker.phases) {
      val s = p.startTimeMs * 1000000L + clockOffsetNs
      val e = p.endTimeMs * 1000000L + clockOffsetNs
      val parent = c.req.spans.filter(x => x.startNs <= s && x.endNs >= e)
        .sortBy(x => x.endNs - x.startNs).headOption.map(_.id).getOrElse(0L)
      record(c.req, Span(ids.incrementAndGet(), parent, c.req.id, name, s, e))
    }
  }

  private def record(r: Req, s: Span): Unit = { r.spans += s; all.add(s) }

  /** Write every span of the run as JSON lines. */
  def dump(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.asScala.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
