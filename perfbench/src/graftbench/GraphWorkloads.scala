package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{GraphSnapshot, TpchGraph}
import graft.model.{PropValues, PropertyValue}
import graft.operators.{QueryStep, Traversal, TxLog, UniqueIndex}
import graft.operators.QueryStep.{BOTH, OUT, RelationStep}
import graft.sources.Tables

/** Graph source sizes for the serving workloads. */
object GraphScale {
  val Customers = 240
  val Parts = 300
  val Suppliers = 20
  val OrdersPerCustomer = 4
  /** Passes of input generation + publish + index build in set-up. */
  val SetupPasses = 3
}

/** The TPC-H-shaped source tables as multi-file parquet. */
object GraphTables {
  def write(spark: SparkSession, t: Gen.Tpch, dir: String): Unit = {
    def w(name: String, files: Int, rows: Seq[Row], fields: (String, DataType)*): Unit =
      BatchParts.rows(spark, StructType(fields.map { case (n, t) => StructField(n, t) }), rows, files)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w("region", 1, t.regions.map(r => Row(r.key, r.name)), "r_regionkey" -> IntegerType, "r_name" -> StringType)
    w("nation", 1, t.nations.map(n => Row(n.key, n.name, n.region)), "n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType)
    w("customer", 2, t.customers.map(c => Row(c.key, c.name, c.nation, c.acctbalCents / 100.0, c.segment)),
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
    w("supplier", 1, t.suppliers.map(s => Row(s.key, s.name, s.nation)), "s_suppkey" -> LongType,
      "s_name" -> StringType, "s_nationkey" -> IntegerType)
    w("part", 2, t.parts.map(p => Row(p.key, p.name, p.brand)), "p_partkey" -> LongType,
      "p_name" -> StringType, "p_brand" -> StringType)
    w("orders", 3, t.orders.map(o => Row(o.key, o.cust, o.status, o.priority)), "o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_orderstatus" -> StringType, "o_orderpriority" -> StringType)
    w("lineitem", 4, t.lines.map(l => Row(l.order, l.part, l.supp, l.line, l.returnflag, l.linestatus)),
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_returnflag" -> StringType, "l_linestatus" -> StringType)
  }

  def digest(t: Gen.Tpch): Gen.Digest =
    new Gen.Digest().addAll(t.regions).addAll(t.nations).addAll(t.customers).addAll(t.suppliers)
      .addAll(t.parts).addAll(t.orders).addAll(t.lines)
}

/** Expected answers, derived in plain Scala from the generated rows. */
final class GraphModel(val t: Gen.Tpch) {
  import TpchGraph._
  /** node id -> (label, the text properties the checks compare) */
  val nodes: Map[Long, (String, Map[String, String])] =
    (t.customers.map(c => (CUST + c.key) -> ("customer", Map("name" -> c.name, "mktsegment" -> c.segment))) ++
      t.nations.map(n => (NATION + n.key) -> ("nation", Map("name" -> n.name))) ++
      t.regions.map(r => (REGION + r.key) -> ("region", Map("name" -> r.name))) ++
      t.suppliers.map(s => (SUPP + s.key) -> ("supplier", Map("name" -> s.name))) ++
      t.orders.map(o => (ORDER + o.key) -> ("order", Map("status" -> o.status, "priority" -> o.priority))) ++
      t.parts.map(p => (PART + p.key) -> ("part", Map("name" -> p.name, "brand" -> p.brand)))).toMap
  val nodeIds: IndexedSeq[Long] = nodes.keys.toIndexedSeq.sorted
  val linesOfPart: Map[Long, Seq[Gen.Line]] = t.lines.groupBy(_.part)
  val suppName: Map[Long, String] = t.suppliers.map(s => s.key -> s.name).toMap
}

/** The serving-path operations, each split into the `operators` call
  * that returns the DataFrame and the Spark action that runs it.
  */
object GraphOps {
  import TpchGraph._

  /** Build, then execute; Catalyst's planning phases come from the
    * executed frame's tracker.
    */
  def query(op: String, build: => DataFrame): Array[Row] = {
    val df = Trace.span(s"operators.$op.build")(build)
    val rows = Trace.span(s"spark.$op.exec")(df.collect())
    Trace.catalyst(df, s"catalyst.$op.plan")
    rows
  }

  def text(r: Row, field: String): Map[String, String] =
    PropValues.propsFromRow(r, field).collect {
      case (k, Seq(PropertyValue.PVText(s))) => k -> s
      case (k, Seq(PropertyValue.PVInteger(i))) => k -> i.toString
    }

  def diff[A](what: String, got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.take(4).mkString(",")}${if (got.size > 4) ",..." else ""} (${got.size})" +
      s", want ${want.take(4).mkString(",")}${if (want.size > 4) ",..." else ""} (${want.size})")

  /** Node by id. Returns (result rows, the (label, props) seen). */
  def lookup(g: GraphSnapshot, id: Long): Seq[(String, Map[String, String])] =
    query("lookup", g.live.nodes.filter(col("id") === id))
      .map(r => (r.getAs[String]("label"), text(r, "props"))).toSeq

  /** OUT along `rel` from `src`, newest first, at most `k`. */
  def stepOut(g: GraphSnapshot, src: Long, rel: String, k: Int): Seq[Long] =
    query("step", QueryStep.fromIds(g, Seq(src), RelationStep(relTypes = Seq(rel), direction = OUT,
      limit = Some(k)))).map(_.getAs[Long]("rel_id")).toSeq

  /** BOTH from `src`, unrestricted: (rel_id, direction, tgt_id), sorted. */
  def stepBoth(g: GraphSnapshot, src: Long): Seq[(Long, String, Long)] =
    query("step", QueryStep.fromIds(g, Seq(src), RelationStep(direction = BOTH)))
      .map(r => (r.getAs[Long]("rel_id"), r.getAs[String]("direction"), r.getAs[Long]("tgt_id")))
      .toSeq.sorted

  /** 2-hop traversal to a text property: sorted values, multiplicity kept. */
  def trav(g: GraphSnapshot, start: Long, hop1: String, hop2: Traversal, prop: String): Seq[String] = {
    import Traversal._
    val t = Ns.andThen(NID(Seq(start))).andThen(Out(Seq(hop1))).andThen(hop2).andThen(Values(Seq(prop)))
    query("trav", Traversal.run(g, t).df)
      .filter(r => r.getAs[String]("name") == prop).map(_.getAs[String]("vText")).toSeq.sorted
  }

  def index(idx: DataFrame, key: String): Seq[Long] =
    query("index", UniqueIndex.lookup(idx, key)).map(_.getAs[Long]("id")).toSeq.sorted

  val partNameIndex = UniqueIndex.IndexInfo("part_name", Seq("part"), "name")

  /** Per-layer values of one traced request of op `kind`. */
  def opLayers(kind: String, req: Trace.Req, results: Int): Seq[(String, Double)] = {
    val st = req.spark(_ => true)
    Seq(
      s"operators.$kind.build_ms" -> req.selfMs(s"operators.$kind.build"),
      s"catalyst.$kind.plan_ms" -> req.ms(s"catalyst.$kind.plan"),
      s"spark.$kind.exec_ms" -> req.selfMs(s"spark.$kind.exec"),
      s"spark.$kind.jobs" -> st.jobs.toDouble,
      s"spark.$kind.tasks" -> st.tasks.toDouble,
      s"spark.$kind.scan_bytes" -> st.scanBytes.toDouble,
      s"spark.$kind.shuffle_bytes" -> st.shuffleBytes.toDouble,
      s"spark.$kind.rows_examined_per_result" -> st.scanRecords.toDouble / math.max(1, results))
  }
}

/** Set-up of the serving workloads: the source tables are generated
  * and written once; the graft set-up proper (source resolution,
  * snapshot publish, unique index on part name) runs
  * [[GraphScale.SetupPasses]] times into fresh directories, and the
  * last copy serves the run.
  */
object GraphSetup {
  final case class Built(data: Gen.Tpch, digest: String, snap: String, index: String,
      inputS: Double, passS: Seq[Double]) {
    /** Input generation plus the median publish pass. */
    def seconds: Double = inputS + Stats.median(passS)
  }

  def publish(ctx: Ctx, tables: String, dir: String, layers: Layers): Double = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val (_, req) = Trace.request(traced = true) {
      val (nodes, edges) = Trace.span("sources.Tables") {
        val t = Tables(spark, tables)
        (TpchGraph.nodes(t), TpchGraph.edges(t))
      }
      Trace.span("core.GraphSnapshot.write")(GraphSnapshot(nodes, edges).write(s"$dir/snap"))
      Trace.span("operators.UniqueIndex.build") {
        UniqueIndex.build(GraphSnapshot.open(spark, s"$dir/snap").nodes, GraphOps.partNameIndex)
          .write.mode("overwrite").parquet(s"$dir/index")
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    req.foreach { r =>
      layers.add("sources.Tables.ms", r.ms("sources.Tables"))
      layers.add("sources.Tables.jobs", r.spark(_ == "sources.Tables").jobs.toDouble)
      layers.add("core.GraphSnapshot.write.ms", r.ms("core.GraphSnapshot.write"))
      layers.add("core.GraphSnapshot.write.jobs", r.spark(_ == "core.GraphSnapshot.write").jobs.toDouble)
    }
    seconds
  }

  def build(ctx: Ctx, layers: Layers): Built = {
    val t0 = System.nanoTime()
    val data = Gen.tpch(ctx.args.seed, GraphScale.Customers, GraphScale.Parts, GraphScale.Suppliers,
      GraphScale.OrdersPerCustomer)
    val tables = s"${ctx.work}/tables"
    GraphTables.write(ctx.spark, data, tables)
    val inputS = (System.nanoTime() - t0) / 1e9
    val passes = (0 until GraphScale.SetupPasses).map(p => publish(ctx, tables, s"${ctx.work}/graph-$p", layers))
    val dir = s"${ctx.work}/graph-${GraphScale.SetupPasses - 1}"
    Built(data, GraphTables.digest(data).hex, s"$dir/snap", s"$dir/index", inputS, passes)
  }
}

/** Per-layer samples of a run; each metric reports the median of its
  * samples (whole-run counters add a single sample).
  */
final class Layers {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def addAll(kv: Seq[(String, Double)]): Unit = kv.foreach { case (k, v) => add(k, v) }
  def result: Map[String, Double] = synchronized {
    samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  }

  /** Spark work of the system inside the timed window: the listener's
    * totals summed over `(before, after)` intervals that hold the timed
    * operations and none of the benchmark's own checks.
    */
  def window(intervals: Seq[(SparkStats, SparkStats)]): Unit = {
    def sum(f: SparkStats => Double) = intervals.map { case (b, a) => f(a) - f(b) }.sum
    add("spark.jobs", sum(_.jobs.toDouble))
    add("spark.tasks", sum(_.tasks.toDouble))
    add("spark.gc_ms", sum(_.gcMs.toDouble))
    add("spark.spill_bytes", sum(_.spillBytes.toDouble))
    add("spark.executor_cpu_ms", sum(_.cpuMs))
  }

  /** `trace.overhead_pct`: traced over untraced median latency, per
    * kind, minus one; the median over kinds.
    */
  def overhead(samples: Seq[OpSample]): Unit = {
    val ratios = samples.filter(_.ok).groupBy(_.kind).values.flatMap { xs =>
      val (tr, un) = xs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some((Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms)) - 1) * 100)
    }.toSeq
    if (ratios.nonEmpty) add("trace.overhead_pct", Stats.median(ratios))
  }
}

/** The writer's seeded transactions for `graph_mixed`: user nodes
  * (one version per user per commit, carrying that commit's event
  * count) and `viewed` edges user -> part, upserted or deleted.
  */
object MixedWrites {
  import TpchGraph.PART
  val USER = 7000000000L
  val E_VIEWED = 70000000000L
  val Users = 200
  val EventsPerCommit = 10
  val ViewsPerCommit = 3

  final case class View(id: Long, user: Long, part: Long, count: Int, deleted: Boolean)
  final case class Payload(events: Seq[Long], views: Seq[View])

  /** `n` payloads in commit order; edge ids and counts follow from the
    * commits before, so the sequence is fixed by the seed alone.
    */
  def payloads(seed: Long, nParts: Int, n: Int): IndexedSeq[Payload] = {
    val r = Gen.rng(seed, 20)
    val live = mutable.LinkedHashMap.empty[(Long, Long), View]
    var nextId = 0L
    IndexedSeq.fill(n) {
      val events = Seq.fill(EventsPerCommit)(USER + r.nextInt(Users))
      val touched = mutable.Set.empty[(Long, Long)]
      val views = mutable.ArrayBuffer.empty[View]
      for (_ <- 0 until ViewsPerCommit) {
        // a viewer is one of the commit's own users, so the edge's source
        // node exists from the same transaction on
        val key = (events(r.nextInt(events.size)), PART + 1 + r.nextInt(nParts))
        if (touched.add(key)) {
          val v = live.get(key) match {
            case Some(old) => old.copy(count = old.count + 1)
            case None => nextId += 1; View(E_VIEWED + nextId, key._1, key._2, 1, deleted = false)
          }
          live(key) = v
          views += v
        }
      }
      if (live.nonEmpty && r.nextInt(3) == 0) {
        val key = live.keys.toIndexedSeq(r.nextInt(live.size))
        if (touched.add(key)) views += live.remove(key).get.copy(deleted = true)
      }
      Payload(events, views.toSeq)
    }
  }

  /** The committed state after a prefix of the payloads. */
  final case class State(users: Map[Long, Int], views: Map[(Long, Long), View])

  def fold(ps: Seq[Payload]): State = {
    var users = Map.empty[Long, Int]
    var views = Map.empty[(Long, Long), View]
    for (p <- ps) {
      users ++= p.events.groupBy(identity).map { case (u, xs) => u -> xs.size }
      for (v <- p.views) views = if (v.deleted) views - ((v.user, v.part)) else views + ((v.user, v.part) -> v)
    }
    State(users, views)
  }

  def userBatch(spark: SparkSession, p: Payload): DataFrame = {
    import spark.implicits._
    p.events.toDF("user_id")
  }

  def edgeBatch(spark: SparkSession, p: Payload): DataFrame = {
    import spark.implicits._
    p.views.map(v => (v.id, v.user, v.part, v.count, v.deleted)).toDF("id", "src", "dst", "cnt", "deleted")
      .select(col("id"), col("src"), lit("user").as("srcLabel"), col("dst"), lit("part").as("dstLabel"),
        lit("viewed").as("label"), PropValues.propsMap("count" -> PropValues.pvInt(col("cnt"))).as("props"),
        col("deleted"))
  }
}

/** `graph_mixed`: a reader (lookup, index, step and trav in equal
  * shares, uniform keys, merge-on-read through `openWithDeltas` +
  * `TxLog.visibleStore`) beside a writer committing small node and edge
  * upserts (pausing [[GraphMixed.ThinkMs]] between commits), on a fresh
  * published copy.
  * Every [[GraphMixed.CompactEvery]] commits the writer folds the tx
  * log (`TxLog.compact`); with `compactDeltas` it first folds the
  * deltas into the base (`GraphSnapshot.compactDeltas`), beside the
  * reader, unserialized.
  */
final class GraphMixed(compactDeltas: Boolean) extends Workload {
  import TpchGraph._
  import MixedWrites._
  import GraphMixed._

  def run(spark: SparkSession, a: Main.Args, ctx: Ctx): Outcome = {
    val layers = new Layers
    val b = GraphSetup.build(ctx, layers)
    val dir = b.snap
    val m = new GraphModel(b.data)
    val idx = spark.read.parquet(b.index)
    val payloads = MixedWrites.payloads(a.seed, m.t.parts.size, 5000)
    val publishedBytes = Disk.bytes(dir).toDouble

    // committed payload count (raised after a commit returns), and each
    // payload's tx id (set when its transaction begins)
    val committed = new java.util.concurrent.atomic.AtomicInteger(0)
    val txOf = new java.util.concurrent.atomic.AtomicLongArray(payloads.size)
    val states = new java.util.concurrent.ConcurrentHashMap[Integer, State]()
    def state(n: Int): State = states.computeIfAbsent(n, k => fold(payloads.take(k)))
    // the reader's tx while it reads (0 while it is allocating one):
    // compaction keeps every version that reader may still see
    val readerTx = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)

    val r = Gen.rng(a.seed, 12)
    val userIds = (0 until Users).map(USER + _)
    val lookupKeys = m.nodeIds ++ userIds

    /** Visible rows at `tx` are the live graph as of `tx`. */
    def asOf(g: GraphSnapshot, vis: org.apache.spark.sql.Column): GraphSnapshot =
      GraphSnapshot(g.nodes.filter(vis).withColumn("tx_max", lit(null).cast("long")),
        g.edges.filter(vis).withColumn("tx_max", lit(null).cast("long")))

    def partBoth(s: State, p: Long): Seq[(Long, String, Long)] =
      (m.linesOfPart.getOrElse(p, Nil).flatMap(l => Seq(
        (E_CONTAINS + l.order * 8 + l.line, "IN", ORDER + l.order),
        (E_SUPPLIES + l.order * 8 + l.line, "IN", SUPP + l.supp))) ++
        s.views.values.filter(_.part == PART + p).map(v => (v.id, "IN", v.user))).sorted

    def read(kind: String): (Int, () => Option[String]) = {
      readerTx.set(0L)
      val tx = Trace.span("operators.TxLog.begin")(TxLog.begin(dir))
      readerTx.set(tx)
      try {
        val lo = committed.get()
        val g0 = Trace.span("core.GraphSnapshot.openWithDeltas")(GraphSnapshot.openWithDeltas(spark, dir))
        if (Trace.active)
          layers.add("core.delta_files", Seq("node_deltas", "edge_deltas").map(d => Disk.parquetFiles(s"$dir/$d")).sum)
        val vis = Trace.span("operators.TxLog.visibleStore")(TxLog.visibleStore(dir, tx))
        val hi = math.min(committed.get() + 1, payloads.size)
        val g = asOf(g0, vis)
        // the answer must match the state of the payloads committed
        // before `tx`, for some committed count the visibility listing
        // could have seen; tx ids grow with the payloads, so that is a prefix
        def check(f: State => Option[String]): () => Option[String] = () => {
          val prefixes = (lo to hi).map(c => (0 until c).count { i => val t = txOf.get(i); t > 0 && t < tx }).distinct
          val errs = prefixes.map(n => f(state(n)))
          if (errs.contains(None)) None else errs.head
        }
        kind match {
          case "lookup" =>
            val id = lookupKeys(r.nextInt(lookupKeys.size))
            val got = GraphOps.lookup(g, id)
            (got.size, check { s =>
              val want = if (id >= USER) s.users.get(id).map(n => ("user", Map("events" -> n.toString))).toSeq
                else Seq(m.nodes(id))
              GraphOps.diff(s"lookup $id", got.map { case (l, p) =>
                (l, p.filter(kv => want.headOption.exists(_._2.contains(kv._1)))) }, want)
            })
          case "step" =>
            val u = userIds(r.nextInt(Users))
            val p = 1L + r.nextInt(m.t.parts.size)
            val newest = GraphOps.stepOut(g, u, "viewed", 3)
            val both = GraphOps.stepBoth(g, PART + p)
            (newest.size + both.size, check { s =>
              GraphOps.diff(s"step OUT viewed from user $u", newest,
                s.views.values.filter(_.user == u).map(_.id).toSeq.sorted.reverse.take(3))
                .orElse(GraphOps.diff(s"step BOTH from part $p", both, partBoth(s, p)))
            })
          case "trav" =>
            val u = userIds(r.nextInt(Users))
            val got = GraphOps.trav(g, u, "viewed", Traversal.In(Seq("supplies")), "name")
            (got.size, check { s =>
              GraphOps.diff(s"trav from user $u", got, s.views.values.filter(_.user == u).toSeq
                .flatMap(v => m.linesOfPart.getOrElse(v.part - PART, Nil).map(l => m.suppName(l.supp))).sorted)
            })
          case "index" =>
            val p = m.t.parts(r.nextInt(m.t.parts.size))
            val got = GraphOps.index(idx, p.name)
            (got.size, () => GraphOps.diff(s"index ${p.name}", got, Seq(PART + p.key)))
        }
      } finally {
        Trace.span("operators.TxLog.commit")(TxLog.commit(dir, tx))
        readerTx.set(Long.MaxValue)
      }
    }

    var nextPayload = 0
    var lastTx = 0L
    val writeBytes = mutable.ArrayBuffer.empty[Double]
    val writeFiles = mutable.ArrayBuffer.empty[Double]
    val spaceAmp = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]

    def write(): (Int, () => Option[String]) = {
      val p = payloads(nextPayload)
      val tx = Trace.span("operators.TxLog.begin")(TxLog.begin(dir))
      txOf.set(nextPayload, tx)
      Trace.span("streaming.EventStream.upsertUserBatch")(
        graft.streaming.EventStream.upsertUserBatch(userBatch(spark, p), tx, dir))
      Trace.span("streaming.EventStream.upsertEdgeBatch")(
        graft.streaming.EventStream.upsertEdgeBatch(edgeBatch(spark, p), tx, dir))
      Trace.span("operators.TxLog.commit")(TxLog.commit(dir, tx))
      nextPayload += 1
      committed.set(nextPayload)
      lastTx = tx
      if (Trace.enabled) {
        val bytes = Seq("node_deltas", "edge_deltas").map(d => Disk.bytes(s"$dir/$d/delta_$tx")).sum
        val files = Seq("node_deltas", "edge_deltas").map(d => Disk.files(s"$dir/$d/delta_$tx")).sum
        // the payload as a user sees it: 8 bytes per event, 8 per edge
        // endpoint and id, plus the count and the delete flag
        writeBytes += bytes / (p.events.size * 8.0 + p.views.size * 29.0)
        writeFiles += files
      }
      (1, () => None)
    }

    def compact(): Unit = {
      val horizon = math.min(readerTx.get(), lastTx + 1)
      val t0 = System.nanoTime()
      val (_, req) = Trace.request(a.trace) {
        if (compactDeltas)
          Trace.span("core.GraphSnapshot.compactDeltas")(GraphSnapshot.compactDeltas(spark, dir, horizon))
        Trace.span("operators.TxLog.compact")(TxLog.compact(dir))
      }
      compactMs += (System.nanoTime() - t0) / 1e6
      ctx.account("compact", Right(None))
      req.foreach { q =>
        layers.add("operators.TxLog.compact.ms", q.ms("operators.TxLog.compact"))
        if (compactDeltas) {
          layers.add("core.GraphSnapshot.compactDeltas.ms", q.ms("core.GraphSnapshot.compactDeltas"))
          layers.add("core.compact.bytes_rewritten", (Disk.bytes(s"$dir/nodes") + Disk.bytes(s"$dir/edges")).toDouble)
        }
      }
    }

    // warm-up: each read kind, two commits and one compaction, untimed;
    // then the heap sample
    val w0 = System.nanoTime()
    for (k <- Seq("lookup", "index", "step", "trav"))
      read(k)._2().foreach(why => throw new IllegalStateException(s"warm-up read wrong: $why"))
    for (_ <- 0 until 2) write()
    compact()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = ctx.setupSeconds(b.seconds, warmS)
    ctx.sampleHeap()
    ctx.attempted = 0 // warm-up is not part of the run's accounting
    compactMs.clear()

    val before = Trace.totals
    val reads = java.util.Collections.synchronizedList(new java.util.ArrayList[OpSample]())
    val writes = mutable.ArrayBuffer.empty[OpSample]
    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    val reader = new Thread(() => {
      var i = 0
      while (System.nanoTime() < deadline) {
        val k = Cycle(i % Cycle.size)
        reads.add(timed(ctx, k, traced = tracedRead(a.trace, i), layers)(read(k)))
        i += 1
      }
    }, "graftbench-reader")
    reader.start()
    var j = 0
    while (System.nanoTime() < deadline) {
      writes += timed(ctx, "write", traced = a.trace && j % 2 == 0, layers)(write())
      j += 1
      spaceAmp += Disk.bytes(dir) / publishedBytes
      if (j % CompactEvery == 0 && System.nanoTime() < deadline)
        try compact() catch { case e: Exception => ctx.account("compact", Left(e)) }
      Thread.sleep(math.max(0L, math.min(ThinkMs, (deadline - System.nanoTime()) / 1000000L)))
    }
    reader.join()
    val windowS = (System.nanoTime() - start) / 1e9
    import scala.jdk.CollectionConverters._
    val readSamples = reads.asScala.toSeq
    if (a.trace) {
      layers.window(Seq(before -> Trace.totals))
      layers.overhead(readSamples ++ writes)
      layers.add("streaming.write.bytes_per_user_byte", Stats.median(writeBytes.toSeq))
      layers.add("streaming.write.files_per_commit", Stats.median(writeFiles.toSeq))
    }
    layers.add("core.session.ms", Session.sessionMs)
    ctx.sampleHeap()

    val byKind = readSamples.groupBy(_.kind)
    def lat(xs: Seq[OpSample]) = xs.map(_.latencyMs(windowS))
    val kindP50 = Cycle.map(k => k -> Stats.median(lat(byKind.getOrElse(k, Nil))))
    val writeLat = lat(writes.toSeq)
    // p50: every read kind weighs the same, however the pooled latencies
    // fall; p90: the pooled reads' tail
    Outcome(ctx, s"${b.digest}-${new Gen.Digest().addAll(payloads).hex}", setupS,
      p50Ms = Stats.geomean(kindP50.map(_._2)),
      p90Ms = Stats.pct(lat(readSamples), 90),
      opsPerS = (readSamples ++ writes).count(_.ok) / windowS,
      kindP50.map { case (k, v) => s"${k}_p50_ms" -> v } ++
      Seq("read_p90_ms" -> Stats.pct(lat(readSamples), 90),
        "write_p50_ms" -> Stats.median(writeLat), "write_p90_ms" -> Stats.pct(writeLat, 90),
        "space_amp" -> (if (spaceAmp.isEmpty) 1.0 else spaceAmp.sum / spaceAmp.size),
        "window_s" -> windowS, "setup_s" -> setupS, "input_s" -> b.inputS, "setup_pass_s" -> b.passS,
        "warmup_s" -> warmS, "reads" -> readSamples.size, "commits" -> writes.size,
        "compactions" -> compactMs.size, "compact_ms" -> compactMs.toSeq,
        "ops_by_kind" -> byKind.map { case (k, v) => k -> v.size }),
      layers.result)
  }

  /** Run one timed operation: `op` performs the calls and returns the
    * result count plus a check that runs after the clock stops.
    */
  private def timed(ctx: Ctx, kind: String, traced: Boolean, layers: Layers)(
      op: => (Int, () => Option[String])): OpSample = {
    val ((res, ns), req) = Trace.request(traced) {
      val t0 = System.nanoTime()
      val r = try Right(op) catch { case e: Exception => Left(e) }
      (r, System.nanoTime() - t0)
    }
    val ok = ctx.account(kind, res.map { case (_, check) => check() })
    for (r <- req; (n, _) <- res.toOption) {
      if (kind != "write") {
        layers.addAll(GraphOps.opLayers(kind, r, n))
        layers.add("spark.read.slot_wait_ms", r.spark(_ => true).slotWaitMs.toDouble)
      }
      for (s <- Seq("operators.TxLog.begin", "operators.TxLog.commit", "operators.TxLog.visibleStore",
          "core.GraphSnapshot.openWithDeltas", "streaming.EventStream.upsertUserBatch",
          "streaming.EventStream.upsertEdgeBatch") if r.has(s))
        layers.add(s"$s.ms", r.ms(s))
    }
    OpSample(kind, ns / 1e6, ok, req.isDefined)
  }
}

/** The reader's mix and the writer's settings. */
object GraphMixed {
  /** The read kinds in equal shares, as a fixed cycle so that every run
    * has the same mix. No measured traffic gives the shares: the
    * reference harness times an index-lookup sweep and one lookup
    * followed by a 1-hop step, each on its own, and has no traversal;
    * equal shares are an assumption.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq("lookup", "index", "step", "trav")

  /** Traced requests alternate by whole cycles, so every kind has both
    * traced and untraced samples (for the tracing overhead).
    */
  def tracedRead(trace: Boolean, i: Int): Boolean = trace && (i / Cycle.size) % 2 == 0

  /** The writer's tx-log fold interval and its pause between commits
    * (a closed loop with think time). No measured workload gives them
    * (the reference harness has no writer beside its reads); they are
    * assumptions.
    */
  val CompactEvery = 5
  val ThinkMs = 1000L
}

/** On-disk sizes, for space amplification and write accounting. */
object Disk {
  private def walk(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk) else Iterator(f).filter(_.exists)
  def bytes(path: String): Long = walk(new java.io.File(path)).map(_.length).sum
  def files(path: String): Long = walk(new java.io.File(path)).size.toLong
  def parquetFiles(path: String): Double = walk(new java.io.File(path)).count(_.getName.endsWith(".parquet")).toDouble
}
