package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** Co-located join/agg layout: after bucketing both sides on the join
  * key, the join and the keyed aggregation must plan WITHOUT an
  * Exchange — the write-time shuffle replaces every query-time one. */
class BucketedTablesSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def withNoBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def dropTable(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
  }

  test("unitDedup over a bucketed corpus: the reconstruction join is " +
      "bucket-local — no exchange beyond the two fixed-width ones") {
    dropTable("docs_b")
    BucketedTables.writeBucketed(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text"),
      "docs_b", "doc_id", buckets = 4)
    withNoBroadcast {
      val q = graft.ops.DedupOps.unitDedup(spark.table("docs_b"),
        col("doc_id"), col("text"), 20)
      val p = q.queryExecution.executedPlan.toString
      // survivorship window (uh) + per-doc rollup (doc_id) only: the
      // docs side of the reconstruction join reads its bucket layout,
      // and the 4-bucket scan is already as wide as the 4 shuffle
      // partitions, so the fanOut pass-through adds nothing either
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
        "bucketed reconstruction must add no exchange:\n" + p)
      assert(!p.contains("Exchange RoundRobinPartitioning"),
        "bucketed scan must pass fanOut untouched:\n" + p)
      // and bucketing is layout-only: output equals the unbucketed form
      val got = q.collect().map(_.toSeq).toSet
      val want = graft.ops.DedupOps.unitDedup(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"),
        col("doc_id"), col("text"), 20).collect().map(_.toSeq).toSet
      assert(got == want)
    }
  }

  test("bucketed equi-join and keyed agg plan with zero Exchange") {
    // the in-memory catalog forgets tables between JVM runs but the
    // warehouse directory survives — clear both or CREATE fails with
    // LOCATION_ALREADY_EXISTS
    Seq("lineitem_b", "orders_b").foreach(dropTable)
    BucketedTables.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
      "lineitem_b", "l_orderkey", buckets = 4)
    BucketedTables.writeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
      "orders_b", "o_orderkey", buckets = 4)
    withNoBroadcast {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val jPlan = joined.queryExecution.executedPlan.toString
      assert(jPlan.contains("SortMergeJoin"), jPlan)
      assert(!jPlan.contains("Exchange"), "bucketed join still shuffles:\n" + jPlan)

      val agg = spark.table("lineitem_b").groupBy("l_orderkey")
        .agg(sum("l_quantity"))
      val aPlan = agg.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange"), "bucketed agg still shuffles:\n" + aPlan)

      // and the results are right (vs the unbucketed join)
      val got = joined.count()
      val want = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(got == want)
    }
  }

  test("fingerprint-bucketed ingest: incremental dedup anti-join " +
      "plans with zero Exchange") {
    // the scale claim in PipelineQueries.dedupIncremental made
    // concrete: with the historical fingerprint table AND the incoming
    // batch bucketed on fp, the admit-or-reject anti join needs no
    // shuffle at ingest time
    Seq("fp_hist_b", "fp_batch_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    BucketedTables.writeBucketed(
      docs.filter(col("doc_id") % 5 =!= 0), "fp_hist_b", "fp", buckets = 4)
    BucketedTables.writeBucketed(
      docs.filter(col("doc_id") % 5 === 0), "fp_batch_b", "fp", buckets = 4)
    withNoBroadcast {
      val admitted = spark.table("fp_batch_b")
        .join(spark.table("fp_hist_b").select("fp"), Seq("fp"), "left_anti")
      val plan = admitted.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed ingest anti-join still shuffles:\n" + plan)
      // same admitted set as the plain (shuffling) formulation
      val got = admitted.select("doc_id").as[Long].collect().toSet
      val want = graft.queries.PipelineQueries
        .dedupIncremental(spark, sfDir).select("doc_id").as[Long].collect().toSet
      assert(got == want)
    }
  }

  test("band-bucketed near-dup ingest: the precomputed history band " +
      "table joins bucket-local — only the batch side shuffles") {
    // the scale claim in DedupOps.incrementalNearDupAdmit made
    // concrete: with the history's combined band keys precomputed and
    // bucketed on bk, steady-state ingest never re-shingles or
    // re-shuffles history — the candidate join reads its bucket layout
    dropTable("bands_hist_b")
    import graft.ops.DedupOps
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    def bandKeys(df: org.apache.spark.sql.DataFrame) =
      DedupOps.minhashSignatures(df, col("doc_id"), col("text"))
        .select(col("id"), posexplode(DedupOps.lshBandHashes(col("sig"))))
        .toDF("id", "band", "bh")
        .select(col("id"), xxhash64(col("band"), col("bh")).as("bk"))
    BucketedTables.writeBucketed(bandKeys(hist), "bands_hist_b", "bk",
      buckets = 4)
    withNoBroadcast {
      def candidates(histBands: org.apache.spark.sql.DataFrame) =
        bandKeys(batch)
          .join(histBands.select(col("id").as("hid"), col("bk")), Seq("bk"))
          .select(col("id").as("fid"), col("hid")).distinct()
      val bucketed = candidates(spark.table("bands_hist_b"))
      val inPlan = candidates(bandKeys(hist))
      val pB = bucketed.queryExecution.executedPlan.toString
      val pI = inPlan.queryExecution.executedPlan.toString
      def nEx(p: String) = "Exchange hashpartitioning".r.findAllIn(p).size
      // the in-plan history side pays exactly its join-side shuffle
      // (since r21 the signature is a row-local kernel — no minhash
      // agg exchange exists on EITHER form); the bucketed layout
      // erases that one exchange — the only exchanges left belong to
      // the batch side and the distinct
      assert(nEx(pB) == nEx(pI) - 1,
        s"bucketed history must erase exactly its join exchange " +
          s"(got ${nEx(pB)} vs in-plan ${nEx(pI)}):\n" + pB)
      assert(pB.contains("Bucketed: true"),
        "history scan must report its bucket layout:\n" + pB)
      // layout is semantics-free: same candidate pairs
      val got = bucketed.as[(Long, Long)].collect().toSet
      val want = inPlan.as[(Long, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
    }
  }
}
