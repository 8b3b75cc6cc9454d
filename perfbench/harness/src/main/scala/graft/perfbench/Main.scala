package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark harness: runs one workload in this JVM and writes its
 * raw records to `<out>/result.json` (and, when tracing, the spans and
 * Spark listener records to `<out>/trace.json`). `perfbench/run.py`
 * builds and launches it and turns the records into metrics.
 *
 *   Main --config perfbench/config.json --workload <name> --seed <n>
 *        --seconds <s> --trace <0|1> --data <sf dir> --out <dir> [--cores <n>]
 *   Main --dump-oracles <file>   (the DuckDB SQL of every declared query)
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    opts.get("dump-oracles").foreach { path =>
      Json.save(path, graft.SparkEntry.oracleSql)
      return
    }
    val cfg = Json.read(opts("config"))
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val out = opts("out")
    val cores = opts.get("cores").map(_.toInt).getOrElse(cfg.get("cores").asInt)
    val timeoutSec = cfg.get("timeout_s").asLong
    // session memos (persisted artifacts of earlier invocations) stay
    // off: every timed invocation computes from its inputs
    System.setProperty("graft.session.memo", "off")
    val builder = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
    cfg.get("session").properties().asScala.foreach(e => builder.config(e.getKey, e.getValue.asText))
    val spark = builder.getOrCreate()
    val sessionMs = Clock.nowMs
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer) else None
    val w = cfg.get("workloads").get(workload)
    require(w != null, s"unknown workload $workload")
    val result = w.get("kind").asText match {
      case "batch" =>
        new BatchRun(spark, opts("data"), w.get("queries").elements().asScala.map(_.asText).toSeq,
          seed, seconds, timeoutSec, out, tracer).run()
      case "stream" =>
        new StreamRun(spark, w.get("topologies").elements().asScala.toSeq, seed, seconds, cores,
          out, tracer, timeoutSec).run()
    }
    tracer.foreach { t =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      t.save(s"$out/trace.json")
    }
    Json.save(s"$out/result.json", result ++ Map("workload" -> workload, "seed" -> seed,
      "cores" -> cores, "trace" -> trace, "session_ms" -> sessionMs))
    spark.stop()
  }
}
