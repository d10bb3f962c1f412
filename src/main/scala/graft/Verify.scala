package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, then
  * failed.json (query name → error message, `{}` when every query
  * ran). Exits with status 1 when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // local-iteration/scale-probe filter (same contract as the bench's
    // SPARK_GRAFT_BENCH_ONLY); unset — the driver's mode — runs all
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.core.Graft.session("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSqlFor(only)))
    Files.writeString(Paths.get(s"$outDir/failed.json"), obj(failed))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
