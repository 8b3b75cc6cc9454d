package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Page-view wire-format operators. Reference: PageViewBolt
 * (lib/bolt/PageViewBolt.java:40-62) parses TSV `url\tstatus\tzip\tuser`
 * (pageview/PageView.java:44-61) and projects any two items; FilterBolt
 * (lib/bolt/FilterBolt.java:30-57) keeps rows where a field differs from a
 * constant (DataClean keeps http_status != 200).
 */
object PageViewOps {

  /**
   * Parse TSV page-view lines; malformed rows (fewer than 4 fields / bad
   * casts, PageView.java:51-53) are dropped. Extra columns in `df` (e.g. an
   * event-time envelope) are carried through. The parse is the native
   * one-pass PageViewFields kernel (raw tab split — the reference's own
   * PageView.fromString semantics; from_csv pays a full Univocity CSV
   * parser per row for quoting this feed never uses).
   */
  def parse(df: DataFrame, line: Column): DataFrame = {
    val parsed = df.withColumn("pv", graft.functions.native.pageview_fields(line))
    parsed
      .filter(col("pv.url").isNotNull && col("pv.http_status").isNotNull &&
        col("pv.zip_code").isNotNull && col("pv.user_id").isNotNull)
      .select((df.columns.map(col).toSeq :+ col("pv.*")): _*)
  }

  /** FilterBolt: keep rows where `field` != `toFilter`, emit `emit` only. */
  def filterNot(df: DataFrame, field: Column, toFilter: Any, emit: Column*): DataFrame =
    df.filter(field =!= lit(toFilter)).select(emit: _*)
}
