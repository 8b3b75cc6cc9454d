package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deterministic mappings from the driver's parquet tables (TESTDATA.md)
 * onto the reference's wire formats (FIXTURES.md), so every topology query
 * exercises its real parse path. Each Spark definition has a matching SQL
 * CTE (used by the DuckDB oracles) — keep the two in lock-step; all
 * arithmetic is exact IEEE double / integer ops so both engines produce
 * bit-identical values.
 */
object SyntheticSources {

  // ---- page views (view topic, TSV url\tstatus\tzip\tuser) ----------------

  /** events -> raw TSV page-view lines + event-time envelope.
   *  url:=/page/<event_type>; status from value bands; zip from user parity. */
  def pageViewLines(events: DataFrame): DataFrame =
    events.select(
      col("ts"),
      concat_ws("\t",
        concat(lit("/page/"), col("event_type")),
        when(col("value") < 10, 404).when(col("value") < 20, 500).otherwise(200),
        when(col("user_id") % 2 === 0, 94709).otherwise(94117),
        col("user_id").cast("int")).as("page_view"))

  /** DuckDB CTE equivalent of the *parsed* page views. */
  val pageViewSql: String =
    """pv AS (
      |  SELECT ts,
      |         concat('/page/', event_type) AS url,
      |         CASE WHEN value < 10 THEN 404 WHEN value < 20 THEN 500 ELSE 200 END AS http_status,
      |         CASE WHEN user_id % 2 = 0 THEN 94709 ELSE 94117 END AS zip_code,
      |         CAST(user_id AS INTEGER) AS user_id
      |  FROM events)""".stripMargin

  // ---- tweets (13 pipe-delimited fields, text at index 4) -----------------

  private val hashtagify: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    t => regexp_replace(regexp_replace(regexp_replace(t,
      "\\bspark\\b", "#spark"), "\\bdata\\b", "#data"), "\\bstream\\b", "#stream")

  /** documents -> pipe-delimited 13-field tweet lines with hashtags
   *  planted in the text field, plus a deterministic arrival time
   *  (documents carry no timestamp, so tweets arrive one per minute
   *  cycling over a 4 h band — several 2 h/1 h window hops exist at
   *  every sf). The envelope `ts` is what RollingCountBolt windows on
   *  in topology 8 (RollingHashtagCount.java:83-92). */
  def tweetLines(documents: DataFrame): DataFrame =
    documents.select(
      timestamp_seconds(lit(1704067200L) + (col("doc_id") % 240) * 60).as("ts"),
      concat(lit("u0|u1|u2|u3|"), hashtagify(col("text")),
        lit("|f5|f6|f7|f8|f9|f10|f11|f12")).as("tweet"))

  /** DuckDB CTE producing the same hashtagged text (pre-split) and the
   *  same arrival time (make_timestamp is naive, matching the UTC
   *  session's timestamp_seconds value-for-value). */
  val tweetTextSql: String =
    """tw AS (
      |  SELECT make_timestamp(1704067200000000 + (doc_id % 240) * 60000000) AS ts,
      |         regexp_replace(regexp_replace(regexp_replace(text,
      |           '\bspark\b', '#spark', 'g'), '\bdata\b', '#data', 'g'),
      |           '\bstream\b', '#stream', 'g') AS txt
      |  FROM documents)""".stripMargin

  // ---- adsb positions (flight + geo topologies) ---------------------------

  /** events -> aircraft position reports. icao:=user_id; posTime in a
   *  300 s band (so dead-reckoning projections stay bounded); positions in
   *  a ~1-degree box around (40.5, -73.5) so proximity pairs exist. */
  def adsbPositions(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").cast("string").as("icao"),
      (lit(1700000000000L) + (col("event_id") % 300) * 1000).as("pos_time"),
      (lit(40.0) + col("value") % 1.0).as("lat"),
      (lit(-74.0) + (col("value") * 7) % 1.0).as("lng"),
      ((lit(50.0) + col("value")) * graft.ops.GeoOps.KnotToKmPerSec).as("spd_kms"),
      ((col("value") * 31) % 360.0).as("trak"))

  val adsbSql: String =
    """pos AS (
      |  SELECT event_id,
      |         CAST(user_id AS VARCHAR) AS icao,
      |         1700000000000 + (event_id % 300) * 1000 AS pos_time,
      |         40.0 + value % 1.0 AS lat,
      |         -74.0 + (value * 7) % 1.0 AS lng,
      |         (50.0 + value) * 0.000514444 AS spd_kms,
      |         (value * 31) % 360.0 AS trak
      |  FROM events)""".stripMargin

  /**
   * events -> raw ADS-B JSON wire lines (the actual `adsb` topic format,
   * RollingFlightDist.java:91-113), same position arithmetic as
   * [[adsbPositions]] but with Spd carried in KNOTS as on the wire, and
   * deterministic slivers exercising every LatLongFilterBolt guard:
   *  - every line ends with the feed's trailing comma (stripped on parse)
   *  - event_id % 37 == 0  -> "Spd":null        (null-field drop)
   *  - event_id % 41 == 0  -> "Gnd":true        (on-ground drop)
   *  - even event_id       -> Gnd field omitted (null = airborne, kept)
   *  - otherwise           -> "Gnd":false       (airborne, kept)
   * Doubles embed via Spark's shortest-round-trip double->string cast, so
   * the parsed-back values are bit-identical to [[adsbPositions]]'s and
   * the oracle can compute positions directly from events ([[adsbWireSql]]).
   */
  def adsbWireLines(events: DataFrame): DataFrame = {
    val evid = col("event_id")
    events.select(
      col("event_id"),
      concat(
        lit("{\"Id\":"), evid,
        lit(",\"Icao\":\""), col("user_id").cast("string"),
        lit("\",\"PosTime\":"), lit(1700000000000L) + (evid % 300) * 1000,
        lit(",\"Lat\":"), lit(40.0) + col("value") % 1.0,
        lit(",\"Long\":"), lit(-74.0) + (col("value") * 7) % 1.0,
        lit(",\"Spd\":"),
        when(evid % 37 === 0, lit("null"))
          .otherwise((lit(50.0) + col("value")).cast("string")),
        lit(",\"Trak\":"), (col("value") * 31) % 360.0,
        when(evid % 41 === 0, lit(",\"Gnd\":true"))
          .when(evid % 2 === 0, lit(""))
          .otherwise(lit(",\"Gnd\":false")),
        lit("},")).as("adsb"))
  }

  /** [[adsbSql]] restricted to the rows the wire guards keep: the oracle
   *  side of the parse gate (kept in lock-step by string rewrite). */
  val adsbWireSql: String = adsbSql.replace("FROM events)",
    "FROM events WHERE event_id % 37 <> 0 AND event_id % 41 <> 0)")

  /** events -> wide-range geo points for zone bucketing (with a
   *  deterministic out-of-range sliver to exercise the sentinel). */
  def geoPoints(events: DataFrame): DataFrame =
    events.select(
      col("ts"),
      ((col("value") % 150.0) - 70.0).as("lat"),
      when(col("value") >= 480, 200.0)
        .otherwise((col("value") * 2) % 360.0 - 180.0).as("lng"))

  val geoSql: String =
    """geo AS (
      |  SELECT ts,
      |         (value % 150.0) - 70.0 AS lat,
      |         CASE WHEN value >= 480 THEN 200.0
      |              ELSE (value * 2) % 360.0 - 180.0 END AS lng
      |  FROM events)""".stripMargin
}
