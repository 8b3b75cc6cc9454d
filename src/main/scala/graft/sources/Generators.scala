package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic sources mirroring the reference's generator
 * spouts (SURVEY.md §2.1). Each sampler is a pure column expression over
 * a row index, so the same code serves batch fixtures
 * (`spark.range(n)`) and live streams (rate source `value`) — and a
 * fixed index always yields the same record (seedable, replayable).
 */
object Generators {

  /** Uniform [0,1) double derived from (idx, salt) — the deterministic
   *  stand-in for the reference generators' Random. */
  private def u01(idx: Column, salt: Int): Column =
    pmod(xxhash64(idx, lit(salt)), lit(1000000L)) / 1000000.0

  // ---- PageViewSpout (lib/spout/pageview/PageViewSpout.java:31-69) --------

  /**
   * Page-view TSV lines with the reference distributions
   * (tools/PageViewGenerator.java:37-42): url foo.com 0.7 / foo.news.com
   * 0.2 / foo.contact.com 0.1; status 200 @ 0.95, 404 @ 0.05; zip
   * 94709/94117 @ 0.5; user uniform [0,100).
   */
  def pageViewLine(idx: Column): Column = {
    val uUrl = u01(idx, 1)
    val url = when(uUrl < 0.7, "http://foo.com")
      .when(uUrl < 0.9, "http://foo.news.com")
      .otherwise("http://foo.contact.com")
    val status = when(u01(idx, 2) < 0.95, 200).otherwise(404)
    val zip = when(u01(idx, 3) < 0.5, 94709).otherwise(94117)
    val user = pmod(xxhash64(idx, lit(4)), lit(100L)).cast("int")
    concat_ws("\t", url, status, zip, user)
  }

  // ---- RandomMessageSpout (lib/spout/RandomMessageSpout.java:31-85) -------

  /** Pool of 100 pre-built fixed-size random digit strings
   *  (RandomMessageSpout.java:36,57-65), seeded deterministically. */
  def messagePool(sizeInBytes: Int = 100, seed: Long = 42L): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(100)(Seq.fill(sizeInBytes)(rnd.nextInt(10)).mkString)
  }

  /** message = pool[idx % 100] — the spout's uniform pool draw. */
  def randomMessage(idx: Column, sizeInBytes: Int = 100): Column =
    element_at(
      array(messagePool(sizeInBytes).map(lit): _*),
      (pmod(idx, lit(100L)) + 1).cast("int"))

  // ---- tweet feed (13 pipe-delimited fields, text at index 4) -------------

  /** Pipe-delimited 13-field tweet line with a deterministic hashtag
   *  planted in the text field (RollingHashtagCount.java:44-63 wire
   *  format; FIXTURES.md). */
  def tweetLine(idx: Column): Column = {
    val u = u01(idx, 20)
    val tag = when(u < 0.33, "#spark").when(u < 0.66, "#data").otherwise("#stream")
    val text = concat_ws(" ", lit("rt"), tag, lit("msg"),
      pmod(idx, lit(1000L)).cast("string"))
    concat(lit("u0|u1|u2|u3|"), text, lit("|f5|f6|f7|f8|f9|f10|f11|f12"))
  }

  // ---- ADS-B feed (adsb topic wire format, FIXTURES.md §3) ----------------

  /** JSON position report lines (trailing comma included, like the
   *  adsbexchange feed the reference consumes): `fleet` aircraft
   *  (default ~40, the reference feed's magnitude) circling a 1-degree
   *  box around (40.5, -73.5), 2% on-ground, deterministic. Larger
   *  fleets drive the proximity-state probes at realistic scale. */
  def adsbLine(idx: Column, tsMillis: Column, fleet: Int = 40): Column = {
    // pad width grows with the fleet (3 at the default 40 — keeps the
    // wire format byte-identical to the pre-parameterized generator)
    val width = math.max(3, (fleet - 1).toString.length)
    val icao = concat(lit("AC"),
      lpad(pmod(idx, lit(fleet.toLong)).cast("string"), width, "0"))
    val lat = lit(40.0) + u01(idx, 10)
    val lng = lit(-74.0) + u01(idx, 11)
    val spd = lit(100.0) + u01(idx, 12) * 400.0
    val trak = u01(idx, 13) * 360.0
    val gnd = u01(idx, 14) < 0.02
    concat(
      lit("{\"Id\":"), idx,
      lit(",\"Icao\":\""), icao,
      lit("\",\"PosTime\":"), tsMillis,
      lit(",\"Lat\":"), lat,
      lit(",\"Long\":"), lng,
      lit(",\"Spd\":"), spd,
      lit(",\"Trak\":"), trak,
      lit(",\"Gnd\":"), gnd,
      lit("},"))
  }

  // ---- document feed (curation-pipeline probes) ---------------------------

  /** English-looking document line: stopword-heavy so the language-ID
   *  and quality kernels classify it `en` with a real score, cycling
   *  through `distinct` bodies so fingerprint dedup sees a bounded key
   *  domain with genuine duplicates — the state shape a live curation
   *  topology carries. */
  def docLine(idx: Column, distinct: Int = 10000): Column =
    concat_ws(" ",
      lit("the quick brown fox and the lazy dog walked to the market"),
      lit("and then the cat sat on the mat near the old house number"),
      pmod(idx, lit(distinct.toLong)).cast("string"))

  /** Ingest-shaped document line for near-dup clustering: 90% unique
   *  docs (md5-derived tokens, no cross-doc shingle sharing), 10%
   *  near-dup FAMILY members (16 shared tokens + a per-doc suffix, 200
   *  distinct families) — a bounded dup rate with bounded family
   *  fan-in. [[docLine]] is wrong there: its rows differ only in the
   *  last token, so EVERY pair is a near-dup and any batch is one
   *  quadratic mega-cluster — a generator artifact, not an ingest
   *  shape. */
  def clusterDocLine(v: Column): Column = {
    def toks(c: Column) = regexp_replace(md5(c), "(....)", "$1 ")
    when(v % 10 === 0,
      concat_ws(" ", toks(concat(lit("famA"), (v % 200).cast("string"))),
        toks(concat(lit("famB"), (v % 200).cast("string"))),
        v.cast("string")))
    .otherwise(
      concat_ws(" ", toks(v.cast("string")),
        toks(concat(v.cast("string"), lit("x")))))
  }

  // ---- live feeds (graft.Topologies) --------------------------------------

  /** A live feed: the line of row index `idx` generated at time `ts`. */
  type Feed = (Column, Column) => Column

  /** The row index itself as a decimal line — for the demo topologies
   *  that derive every field from the line (by content hash, or as a
   *  [[docLine]] index). */
  val indexFeed: Feed = (idx, _) => idx.cast("string")
  val randomMessageFeed: Feed = (idx, _) => randomMessage(idx)
  val pageViewFeed: Feed = (idx, _) => pageViewLine(idx)
  val tweetFeed: Feed = (idx, _) => tweetLine(idx)
  val adsbFeed: Feed = (idx, ts) =>
    adsbLine(idx, (ts.cast("double") * 1000).cast("long"))
  val docFeed: Feed = (idx, _) => docLine(idx)
  val clusterDocFeed: Feed = (idx, _) => clusterDocLine(idx)

  /** (ts, value) lines of `feed` over a stream of (ts, value) row
   *  indexes. */
  def feedLines(indexes: DataFrame, feed: Feed): DataFrame =
    indexes.select(col("ts"), feed(col("value"), col("ts")).as("value"))

  /** Rate source -> (ts, value) lines of `feed`; `rowsPerSecond` plays
   *  the role of the spout's emit rate. */
  def feedStream(spark: SparkSession, rowsPerSecond: Int,
      feed: Feed): DataFrame =
    feedLines(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("timestamp").as("ts"), col("value")), feed)

  // ---- FileReadSpout (lib/spout/FileReadSpout.java:32-85) -----------------

  /** Cyclic file replay (tools/FileReader.java:45-52 re-reads from the
   *  top at EOF): rate source joined to the indexed lines on
   *  `value % lineCount`. Stream-static equi-join — the static side is
   *  broadcast, no state. */
  def fileReplayStream(spark: SparkSession, path: String,
      rowsPerSecond: Int): DataFrame = {
    val lines = indexedLines(spark, path)
    val n = lines.count()
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .withColumn("line_idx", pmod(col("value"), lit(n)))
      .join(broadcast(lines), "line_idx")
      .select(col("timestamp").as("ts"), col("sentence"))
  }

  /** The file's lines with a stable 0-based index, loaded eagerly (the
   *  reference's FileReadSpout holds the whole file in memory too,
   *  tools/FileReader.java:45-52). An index computed lazily with
   *  monotonically_increasing_id would be rejected inside streaming
   *  plans, and a replay fixture is small by construction. */
  def indexedLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().toIndexedSeq finally src.close()
    lines.zipWithIndex
      .map { case (l, i) => (i.toLong, l) }
      .toDF("line_idx", "sentence")
  }
}
