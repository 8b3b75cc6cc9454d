package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{AdsbPosition, Schemas}

/**
 * ADS-B aircraft-report parsing: one JSON object per line with a
 * trailing comma (FIXTURES.md §3).
 *
 * Two consumers with different strictness in the reference:
 *  - LatLongFilterBolt (RollingFlightDist.java:59-122): requires
 *    Icao/PosTime/Lat/Long/Spd/Trak all present, drops on-ground
 *    (Gnd==true; null treated airborne), strips the trailing comma.
 *  - ZoneIndex (RollingGeoCount.java:42-89): only needs Lat/Long; keeps
 *    unparseable rows as sentinel zones (no_latlng / undefined).
 */
object AdsbOps {

  /** Production parse: the one-pass AdsbReport key-scan kernel (no
   *  Jackson tokenization, no trailing-comma strip needed). Field names
   *  match [[parsedJson]]; NativeExprSpec pins field equality. */
  private def parsed(line: Column): Column =
    graft.functions.native.adsb_report(line)

  /** from_json reference formulation of [[parsed]] (cross-check only). */
  private[ops] def parsedJson(line: Column): Column =
    from_json(regexp_replace(line, ",$", ""), Schemas.adsb)

  /** Parse + the LatLongFilterBolt guards (RollingFlightDist.java:91-113):
   *  all six fields present, on-ground (Gnd==true) dropped, Gnd null
   *  treated airborne. Rows that survive keep the parsed struct as `j`.
   *  Pushdown copies the parse into every guard term;
   *  [[graft.EvalKernelsOnce]] runs it once per row. */
  private def validReports(df: DataFrame, line: Column): DataFrame =
    df.select(parsed(line).as("j"))
      .filter(col("j.Icao").isNotNull && col("j.PosTime").isNotNull &&
        col("j.Lat").isNotNull && col("j.Long").isNotNull &&
        col("j.Spd").isNotNull && col("j.Trak").isNotNull &&
        !coalesce(col("j.Gnd"), lit(false)))

  /** LatLongFilterBolt: parse + validate + project. Malformed or
   *  incomplete reports and on-ground aircraft are dropped. */
  def parsePositions(df: DataFrame, line: Column): DataFrame =
    validReports(df, line)
      .select(col("j.Icao").as("icao"), col("j.PosTime").as("posTime"),
        col("j.Lat").as("lat"), col("j.Long").as("lng"),
        col("j.Spd").as("spd"), col("j.Trak").as("trak"))

  /** [[parsePositions]] plus the report Id (the feed's message id) — the
   *  deterministic tiebreaker the batch-gated snapshot argmax needs when
   *  PosTime ties (the reference's HashMap last-write-wins order has no
   *  batch analog). */
  def parsePositionsWithId(df: DataFrame, line: Column): DataFrame =
    validReports(df, line)
      .select(col("j.Id").as("event_id"),
        col("j.Icao").as("icao"), col("j.PosTime").as("posTime"),
        col("j.Lat").as("lat"), col("j.Long").as("lng"),
        col("j.Spd").as("spd"), col("j.Trak").as("trak"))

  /** Typed form for keyed-state streaming (graft.streaming). */
  def parsePositionsTyped(df: DataFrame, line: Column): Dataset[AdsbPosition] = {
    import df.sparkSession.implicits._
    parsePositions(df, line).as[AdsbPosition]
  }

  /** ZoneIndex: line -> grid-zone string with the reference's sentinel
   *  semantics (RollingGeoCount.java:54-77): lines not shaped like
   *  `{"Id"...},` or with missing Lat/Long -> "no_latlng"; out-of-range
   *  coordinates -> "undefined". The Lat/Long extraction is the native
   *  one-pass AdsbLatLng kernel — from_json tokenizes the whole object
   *  per row and capped the zone pipeline at 0.36 M rows/s; the
   *  from_json formulation is kept below for cross-checks. */
  def zoneOfLine(line: Column): Column = {
    val ll = graft.functions.native.adsb_latlng(line)
    when(!(line.startsWith("{\"Id\"") && line.endsWith("},")), lit("no_latlng"))
      .otherwise(GeoOps.zoneOf(ll.getField("lat"), ll.getField("lng")))
  }

  /** from_json reference formulation of [[zoneOfLine]] (cross-check). */
  def zoneOfLineHof(line: Column): Column = {
    val j = parsedJson(line)
    when(!(line.startsWith("{\"Id\"") && line.endsWith("},")), lit("no_latlng"))
      .otherwise(GeoOps.zoneOf(j.getField("Lat"), j.getField("Long")))
  }
}
