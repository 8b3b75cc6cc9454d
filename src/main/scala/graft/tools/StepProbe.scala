package graft.tools

/** Dev scratch: decompose the driver-kernel path cost for the
  * co-purchase graph queries (checkpoint / count / collect / kernel).
  */
object StepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession("graft-step-probe")
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (1 to 3).foreach { pass =>
      println(s"pass $pass")
      val tbl = t("coPairsTable") {
        graft.queries.AnalyticsQueries.coPairsTable(spark, sfDir)
      }
      val e0 = tbl.select("u", "v")
      val e = t("localCheckpoint")(e0.localCheckpoint())
      val n = t("count")(e.count())
      println(s"  rows=$n")
      val pairs = t("collectPairs") {
        graft.ops.LocalGraph.collectPairs(e, n, Long.MaxValue).get
      }
      val core = t("corePeel")(graft.ops.LocalGraph.corePeel(pairs, 80))
      val tri = t("triangleCensus")(graft.ops.LocalGraph.triangleCensus(pairs))
      println(s"  core=${core.size} tri=$tri")
      val df = t("pairFrame+noop") {
        val d = graft.ops.LocalGraph.pairFrame(spark,
          core.iterator, core.size.toLong, "node", "core_deg")
        d.write.format("noop").mode("overwrite").save()
        d
      }
      graft.ops.DedupOps.releaseTruncated(e)
    }
    spark.stop()
  }
}
