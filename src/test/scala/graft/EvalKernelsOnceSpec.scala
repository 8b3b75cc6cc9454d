package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.functions.{col, length, lit, repeat, size, trim, when}

import graft.functions.{QualityStats, WinnowFingerprints, WsTokenCount, native}

/** The plan rule that evaluates a repeated kernel call once per row
  * moves a call only where every row that reached it still reaches it:
  * a kernel behind a guard never runs on a row the guard rejects. Row 2
  * carries a document past `winnowFingerprints`' 2^20-gram domain,
  * which throws if the kernel ever sees it. The rows come from a range,
  * not a local relation: the optimizer evaluates a filter over a local
  * relation with a predicate whose common subexpressions run ahead of
  * AND's short circuit, with or without this rule. */
class EvalKernelsOnceSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.range(1, 3).select(col("id"),
    when(col("id") === 1, lit("the cat sat on the mat and the dog sat on the log"))
      .otherwise(trim(repeat(lit("x "), (1 << 20) + 4))).as("text"))

  private val fp = size(native.winnow_fingerprints(col("text"), 3, 4))

  private def hoisted(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(_.collect {
      case h: EvalKernelsOnce.Hoisted => h.child
    })

  test("a kernel reachable only under when(...) is not hoisted and never " +
      "runs on the row its guard rejects") {
    val guarded = when(length(col("text")) < 1000, fp).otherwise(lit(0))
    val df = docs.filter(guarded > 0 && guarded < 1000)
    assert(hoisted(df).isEmpty, df.queryExecution.optimizedPlan)
    assert(df.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("a kernel first read in a later conjunct is hoisted above a Filter " +
      "of the conjuncts before it, so the guard still runs first") {
    val df = docs.filter(native.ws_token_count(col("text")) < 1000 &&
      fp > 0 && fp < 1000)
    assert(df.select("id").as[Long].collect().toSeq == Seq(1L))
    val plan = df.queryExecution.optimizedPlan
    val guard = plan.collectFirst {
      case Project(list, f: Filter) if list.exists(_.exists(
        _.isInstanceOf[EvalKernelsOnce.Hoisted])) => f.condition
    }
    assert(hoisted(df).map(_.getClass) == Seq(classOf[WinnowFingerprints]), plan)
    assert(guard.exists(_.exists(_.isInstanceOf[WsTokenCount])), plan)
  }

  test("a hoisted kernel is evaluated in one place and gives the rows the " +
      "plan without the rule gives") {
    val texts = spark.read.parquet(s"${Topologies.DemoSfDir}/documents.parquet")
    def gate = texts.select(col("doc_id"), native.quality_stats(col("text")).as("q"))
      .filter(col("q.n_words") >= 20 && col("q.n_stop") * 10 >= col("q.n_words"))
    val df = gate
    val calls = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case q: QualityStats => q })
    assert(calls.size == 1 && hoisted(df).size == 1, df.queryExecution.optimizedPlan)
    val got = df.collect().toSet
    spark.conf.set("spark.sql.optimizer.excludedRules", EvalKernelsOnce.ruleName)
    try {
      val plain = gate
      assert(hoisted(plain).isEmpty)
      assert(plain.collect().toSet == got && got.nonEmpty)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }
}
