package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Central place for the configuration that matters at scale: shuffle
  * partition sizing, AQE (runtime re-planning + skew-join handling),
  * and UTC session time zone (oracle parity). On a real cluster the
  * same builder is used with `master` unset (spark-submit provides it).
  */
object Graft {

  /** Number of local cores to use when no master is configured. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // local[n]: shuffle partitions = cores, not the 200 default.
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE: runtime coalescing of small shuffle partitions and skew
      // join splitting — both essential at 100 TB and harmless locally.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Coalescing floor stays at the STOCK 1 MB, by full-map A/B
      // measurement (r16, guide §1.2 "configs last"): a session-wide
      // 256 KB floor was tried first for the explosive small-exchange
      // stages (band/wedge self-joins, sorted-adjacency intersects —
      // AQE sizes partitions by shuffle BYTES and is blind to per-row
      // CPU amplification), and it did fix them (q_tri_local 3.5 s vs
      // 7.1 s), but the same floor fragments EVERY small exchange, and
      // the 128-line bench showed the tax on the latency-class
      // majority: q_text_winnow_store_delete 0.92→1.63 s, q_graph_hits
      // 2.41→3.39 s, q_pregel_hops 2.07→2.95 s, the whole LM/winnow
      // family +40-75% (BENCH_r16_sessionD/E + the committed
      // floor-A/B). The amplification problem is therefore fixed WHERE
      // THE OPERATOR KNOWS ITS AMPLIFICATION — pinned-width
      // `repartition(P, key)` (REPARTITION_BY_NUM is never coalesced
      // by AQE) applied conditionally when the materialized input is
      // narrower than the machine — not with a global knob. Set
      // explicitly rather than left to Spark's default.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    // custom optimizer rules (the extensions path on a cluster);
    // appended idempotently — getOrCreate may return a reused session
    // where the user (or another library) already installed rules
    val existing = spark.experimental.extraOptimizations
    if (!existing.contains(graft.plans.EliminateUnusedUniqueJoin))
      spark.experimental.extraOptimizations =
        existing :+ graft.plans.EliminateUnusedUniqueJoin
    spark
  }

  /** Register graft's native functions on an existing session (the
    * cluster path is `spark.sql.extensions=graft.functions.
    * GraftExtensions`; this covers sessions built elsewhere, e.g. the
    * driver's Verify/Bench mains).
    */
  def registerFunctions(spark: SparkSession): Unit = {
    graft.functions.CosineSim.register(spark)
    graft.functions.DotFloat.register(spark)
    graft.functions.NearestCell.register(spark)
    graft.functions.SortedIntersectCount.register(spark)
    graft.functions.SortedIntersect.register(spark)
    graft.functions.CdcBoundaries.register(spark)
  }
}
