package graft.tools

/** Dev tool: print the formatted physical plan (and optionally time) of
  * one named query. Usage: runMain graft.tools.Explain <query> [sfDir] [time] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession("graft-explain")
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.explain("formatted")
    if (args.length > 2 && args(2) == "time") {
      val t0 = System.nanoTime()
      val n = df.count()
      println(s"rows=$n elapsed=${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
