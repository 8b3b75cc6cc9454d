package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  test("extensions register native functions for SQL") {
    // Force a NEW session (sharing any existing SparkContext): getOrCreate
    // would silently return another suite's session. A plain builder:
    // META-INF/services names GraftExtensions as a
    // SparkSessionExtensionsProvider, so every new session loads it.
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(prior.forall(_ ne spark), "getOrCreate returned the shared session")
      assert(spark.sessionState.optimizer.preCBORules.contains(EvalKernelsOnce))
      val dot = spark.sql(
        "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .collect().head.getDouble(0)
      assert(dot == 11.0)
      val sim = spark.sql(
        "SELECT simhash64(array(xxhash64('hello'), xxhash64('world'))) AS s")
        .collect().head.getLong(0)
      assert(sim != 0L)
      val pd = spark.sql(
        "SELECT projected_dist(40.0D, -74.0D, 0.0D, 0.0D, 40.0D, -74.0D, 0.0D, 0.0D) AS p")
        .collect().head.getDouble(0)
      assert(pd == 0.0)
      val sh = spark.sql(
        "SELECT size(shingle_hashes('a b c d', 3)) AS n")
        .collect().head.getInt(0)
      assert(sh == 2) // "a b c", "b c d"
      val cs = spark.sql(
        "SELECT classify_score(lower('One Two three')).n_words AS n")
        .collect().head.getLong(0)
      assert(cs == 3L)
      val lb = spark.sql(
        "SELECT lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 4) AS b")
        .collect().head.getLong(0)
      assert(lb >= 0L && lb < 16L)
      val wh = spark.sql(
        "SELECT size(word_hashes('one two  three', true)) AS n")
        .collect().head.getInt(0)
      assert(wh == 3)
      val qs = spark.sql(
        "SELECT quality_stats('the cat sat').n_words AS n")
        .collect().head.getLong(0)
      assert(qs == 3L)
      // lang_id coalesces null to 'und' like the Scala path
      val li = spark.sql("SELECT lang_id(CAST(NULL AS STRING)) AS l")
        .collect().head.getString(0)
      assert(li == "und")
      // real BPE: 'customer' collapses to 1 merged token, unseen
      // 'tokenizer' stays multi-token (callers lowercase — the SQL
      // surface takes the text as-is, like the Column helper's input)
      val bp = spark.sql(
        "SELECT bpe_token_count('customer tokenizer') AS n")
        .collect().head.getLong(0)
      assert(bp > 2L && bp < 12L)
      assert(spark.sql("SELECT bpe_token_count('customer') AS n")
        .collect().head.getLong(0) == 1L)
    } finally {
      // do NOT stop: the SparkContext is shared with the other suites
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }
}
