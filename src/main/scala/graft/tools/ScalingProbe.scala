package graft.tools
/** Dev tool: warm steady-state per-query times at two scale factors,
  * printing the 10x-data scaling ratio per query. */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession("graft-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    // all registered queries by default; pass names to probe a subset.
    // Scale dirs via SPARK_GRAFT_SF_A/B so the next rung (sf0.1 -> sf1)
    // is one env change when the driver publishes sf1 testdata.
    val sfA = sys.env.getOrElse("SPARK_GRAFT_SF_A", "/root/testdata/sf0.01")
    val sfB = sys.env.getOrElse("SPARK_GRAFT_SF_B", "/root/testdata/sf0.1")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    def run(name: String, sf: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sf).write.format("noop").mode("overwrite").save() // warm (JIT + code cache)
      val times = (1 to 3).map { _ =>
        val t = System.nanoTime()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      times.sorted.apply(1) // median of 3
    }
    def label(p: String) = p.split('/').last
    println(f"${"query"}%-22s ${label(sfA)}%8s ${label(sfB)}%8s ${"ratio"}%6s")
    names.foreach { n =>
      val a = run(n, sfA)
      val b = run(n, sfB)
      println(f"$n%-22s $a%8.3f $b%8.3f ${b / a}%6.2f")
    }
    spark.stop()
  }
}
