package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Generic stage-level evidence tool for ANY catalog query, built
  * for the r16 optimization round (guide §1: measure first; §7.1:
  * decide whether the time is compute, shuffle, or per-stage fixed
  * latency BEFORE touching the plan).
  *
  * Runs each named query `reps` times through the same noop sink the
  * bench uses, under a listener capturing per-stage wall, executor
  * run time, GC time and task count, plus the JOB count per rep —
  * the stage/job count × fixed-latency term is the dominant cost of
  * the sub-second-compute lines at sf0.1 (ROUND16.md §2), so plan
  * changes must show fewer stages/jobs or less run time, not vibes.
  *
  * Usage: runMain graft.ProbeQuery <sfDir> <q1,q2,...> [reps]
  * Prints one JSON line per rep (wall, jobs, stages, run, gc) and a
  * final per-query summary; per-stage detail prints for the LAST rep
  * only (steady state) to keep output bounded.
  */
object ProbeQuery {

  private final case class StageRow(rep: Int, stageId: Int, name: String,
    wallMs: Long, runMs: Long, gcMs: Long, tasks: Int)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 4
    val spark = graft.core.Graft.session("graft-probe-query",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val rows = mutable.ArrayBuffer.empty[StageRow]
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var rep = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
          .getOrElse(-1L)
        val (runMs, gcMs) = Option(si.taskMetrics)
          .map(m => (m.executorRunTime, m.jvmGCTime)).getOrElse((0L, 0L))
        // AQE submits every stage from the same CompletableFuture
        // frame, so si.name is useless for attribution — pull the
        // first graft.* frame out of the long-form callsite instead
        val site = si.details.linesIterator
          .map(_.trim)
          .find(l => l.startsWith("graft.") && !l.startsWith("graft.ProbeQuery"))
          .getOrElse(si.name.takeWhile(_ != '\n'))
        rows.synchronized {
          rows += StageRow(rep, si.stageId, site.take(90),
            wall, runMs, gcMs, si.numTasks)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val q = graft.queries.Catalog.byName(name)
      val walls = (1 to reps).map { r =>
        rows.synchronized { rows.clear() }
        jobs.set(0)
        rep = r
        val t0 = System.nanoTime()
        q.build(spark, dir).write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1000000
        Thread.sleep(600) // bounded drain of the async listener bus
        val mine = rows.synchronized(rows.filter(_.rep == r).toList)
        println(s"""{"probe":"$name","rep":$r,"wall_ms":$ms,"jobs":${jobs.get},""" +
          s""""stages":${mine.size},"stage_wall_ms":${mine.map(_.wallMs).sum},""" +
          s""""run_ms":${mine.map(_.runMs).sum},"gc_ms":${mine.map(_.gcMs).sum}}""")
        if (r == reps) mine.sortBy(-_.wallMs).take(12).foreach { s =>
          println(s"""{"probe":"$name","rep":$r,"stage":${s.stageId},"name":"${s.name}",""" +
            s""""wall_ms":${s.wallMs},"run_ms":${s.runMs},"gc_ms":${s.gcMs},"tasks":${s.tasks}}""")
        }
        ms
      }
      val sorted = walls.sorted
      println(s"""{"probe":"$name","event":"summary","reps":$reps,""" +
        s""""min_ms":${sorted.head},"median_ms":${sorted(reps / 2)},"max_ms":${sorted.last}}""")
    }
    spark.stop()
  }
}
