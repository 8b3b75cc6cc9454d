package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    ops.DriverGate.logDecisions()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (SPARK_GRAFT_ONLY=q1,q2): dump + oracle for
    // just the named queries so scripts/check.py gates them in isolation
    // while iterating. The driver never sets it — full run unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    // Per-query watchdog (shared with Bench): one hung query must not
    // zero the whole round's correctness file (round-2 regression: {}).
    // On timeout/failure the partial output dir is deleted — a
    // half-written parquet dir would otherwise be globbed by the driver
    // and compared as if it were the full result.
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      // drain prior queries' checkpoint/broadcast blocks at the query
      // boundary (the Bench.timed rationale)
      System.gc()
      val ok = Watchdog.run(spark, "verify", name, Watchdog.timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      if (!ok) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
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
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
