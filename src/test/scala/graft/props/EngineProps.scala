package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.functions.GeoMath
import graft.ops._

/**
 * Property-based invariants (SURVEY.md §5.4): window-count conservation,
 * distinct <= count, pair canonicalization + input-order invariance,
 * dead-reckoning distance consistency.
 */
object EngineProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("EngineProps")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // ---- pure-math properties (no Spark) ------------------------------------

  private val latGen = Gen.choose(-60.0, 60.0)
  private val lngGen = Gen.choose(-179.0, 179.0)
  private val brgGen = Gen.choose(0.0, 360.0)
  private val distGen = Gen.choose(0.0, 500.0)

  private def destination(lat: Double, lng: Double, brg: Double, d: Double): (Double, Double) = {
    val latR = Math.toRadians(lat)
    val lat2R = GeoMath.destLatRad(latR, d / GeoMath.EarthRadiusKm, Math.toRadians(brg))
    val lng2R = GeoMath.destLngRad(latR, Math.toRadians(lng),
      d / GeoMath.EarthRadiusKm, Math.toRadians(brg), lat2R)
    (Math.toDegrees(lat2R), Math.toDegrees(lng2R))
  }

  property("deadReckoning: haversine(origin, destination(d)) == d") =
    forAll(latGen, lngGen, brgGen, distGen) { (lat, lng, brg, d) =>
      val (dlat, dlng) = destination(lat, lng, brg, d)
      math.abs(GeoMath.haversineKm(lat, lng, dlat, dlng) - d) < d * 1e-6 + 1e-6
    }

  property("deadReckoning: distance monotone in speed*time") =
    forAll(latGen, lngGen, brgGen, Gen.choose(1.0, 200.0)) { (lat, lng, brg, d) =>
      val (l1, g1) = destination(lat, lng, brg, d)
      val (l2, g2) = destination(lat, lng, brg, d * 2)
      GeoMath.haversineKm(lat, lng, l2, g2) > GeoMath.haversineKm(lat, lng, l1, g1)
    }

  property("haversine: symmetric, non-negative, zero iff same point") =
    forAll(latGen, lngGen, latGen, lngGen) { (a, b, c, d) =>
      val fwd = GeoMath.haversineKm(a, b, c, d)
      val rev = GeoMath.haversineKm(c, d, a, b)
      fwd == rev && fwd >= 0 && GeoMath.haversineKm(a, b, a, b) == 0.0
    }

  // ---- Spark operator properties ------------------------------------------

  private val keyGen = Gen.oneOf("k1", "k2", "k3")
  private val eventsGen = Gen.listOfN(30,
    Gen.zip(Gen.choose(0, 6 * 3600), keyGen, Gen.choose(0, 99)))

  // ---- unigram Viterbi segmentation (pure kernel, no Spark) --------------

  private val uniAlphabet = Seq("a", "b", "c")
  private val uniWordGen = Gen.choose(0, 10).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(uniAlphabet)).map(_.mkString))
  private val uniModelGen: Gen[Map[String, Long]] = for {
    // every single char costed (coverage), a random bag of multis
    s <- Gen.listOfN(3, Gen.choose(1000000L, 9000000L))
    multis <- Gen.listOf(for {
      len <- Gen.choose(2, 4)
      p <- Gen.listOfN(len, Gen.oneOf(uniAlphabet)).map(_.mkString)
      c <- Gen.choose(500000L, 9000000L)
    } yield p -> c)
  } yield (uniAlphabet.zip(s) ++ multis).toMap

  property("unigramSegment: concatenation round-trips, and no " +
      "segmentation under the model costs less (longest-final-piece " +
      "tie-break)") =
    forAll(uniWordGen, uniModelGen) { (w, model) =>
      import graft.functions.VectorMath
      val sorted = model.toSeq.sortBy(_._1)
      val got = VectorMath.unigramSegment(w,
        sorted.map(_._1).toArray, sorted.map(_._2).toArray, 4)
      val pieces = if (got.isEmpty) Nil else got.split(" ").toList
      def cost(ss: List[String]): Long = ss.map(p =>
        model.getOrElse(p, VectorMath.UnigramUnkMicro)).sum
      def enumerate(s: String): Seq[List[String]] =
        if (s.isEmpty) Seq(Nil)
        else (1 to math.min(4, s.length)).flatMap { l =>
          val p = s.substring(0, l)
          if (model.contains(p) || l == 1)
            enumerate(s.substring(l)).map(p :: _)
          else Nil
        }
      import scala.math.Ordering.Implicits.seqOrdering
      val all = enumerate(w)
      val best =
        if (w.isEmpty) Nil
        else all.minBy(ss => (cost(ss), ss.reverse.map(-_.length)))
      pieces.mkString == w && pieces == best
    }

  property("slidingCount: sum of per-hop counts == slots * total") =
    forAll(eventsGen) { evs =>
      import spark.implicits._
      val df = evs.map { case (s, k, _) =>
        (new java.sql.Timestamp(1704067200000L + s * 1000L), k)
      }.toDF("ts", "k")
      val summed = WindowOps.slidingCount(df, col("ts"), col("k"), "k", "2 hours", "1 hour")
        .agg(sum("cnt")).as[Long].head()
      summed == 2L * evs.size
    }

  property("windowedDistinct <= slidingCount per (window, key)") =
    forAll(eventsGen) { evs =>
      import spark.implicits._
      val df = evs.map { case (s, k, u) =>
        (new java.sql.Timestamp(1704067200000L + s * 1000L), k, u)
      }.toDF("ts", "k", "u")
      val cnt = WindowOps.slidingCount(df, col("ts"), col("k"), "k", "2 hours", "1 hour")
      val dst = WindowOps.windowedDistinct(df, col("ts"), col("k"), "k", col("u"), "2 hours", "1 hour")
      cnt.join(dst, Seq("w_start", "k"))
        .filter(col("uniques") > col("cnt")).count() == 0
    }

  private val posGen = Gen.listOfN(12, Gen.zip(
    Gen.choose(0, 7), Gen.choose(0L, 1000L), latGen, lngGen,
    Gen.choose(0.01, 0.3), brgGen))

  property("proximityPairs: canonical order + input-order invariance") =
    forAll(posGen) { ps =>
      import spark.implicits._
      def run(rows: List[(Int, Long, Double, Double, Double, Double)]) = {
        val df = rows.map { case (i, t, la, ln, s, b) => (s"AC$i", t, la, ln, s, b) }
          .toDF("icao", "pos_time", "lat", "lng", "spd_kms", "trak")
        val latest = WindowOps.latestPerKey(df, Seq("icao"), Seq("pos_time", "lat"))
        JoinOps.proximityPairs(latest, 500.0, 2, 5)
          .as[(String, String, Int, Long, Double)].collect().toSet
      }
      val fwd = run(ps)
      val rev = run(ps.reverse)
      fwd == rev && fwd.forall(p => p._1 < p._2)
    }

  property("saltedDistinct == plain count_distinct per key") =
    forAll(Gen.listOfN(40, Gen.zip(keyGen, Gen.choose(0, 25)))) { evs =>
      import spark.implicits._
      val df = evs.toDF("k", "u")
      val salted = WindowOps.saltedDistinct(df, col("k"), "k", col("u"), salts = 4)
        .as[(String, Long)].collect().toMap
      val plain = df.groupBy("k").agg(count_distinct(col("u")).as("d"))
        .as[(String, Long)].collect().toMap
      salted == plain
    }

  /** Independent scalar transcription of the zone decision tree
   *  (RollingGeoCount.java:64-77) to cross-check the column formula. */
  private def zoneRef(lat: Double, lng: Double): String = {
    if (!(-80 <= lat && lat < 84 && -180 <= lng && lng < 180)) "undefined"
    else {
      val letter =
        if (lat < -32) ('C' + ((lat + 80) / 8).toInt).toChar
        else if (lat < 8) ('J' + ((lat + 32) / 8).toInt).toChar
        else if (lat < 72) ('P' + ((lat - 8) / 8).toInt).toChar
        else 'X'
      s"${1 + ((lng + 180) / 6).toInt}$letter"
    }
  }

  property("zoneOf column formula == scalar reference transcription") =
    forAll(Gen.listOfN(30, Gen.zip(
      Gen.oneOf(Gen.choose(-90.0, 90.0), Gen.oneOf(-80.0, -32.0, 8.0, 72.0, 83.99, 84.0)),
      Gen.oneOf(Gen.choose(-190.0, 190.0), Gen.oneOf(-180.0, 179.99, 180.0))))) { pts =>
      import spark.implicits._
      val got = pts.toDF("lat", "lng")
        .select(GeoOps.zoneOf(col("lat"), col("lng"))).as[String].collect()
      got.toSeq == pts.map { case (la, ln) => zoneRef(la, ln) }
    }

  property("pageview TSV round-trips through parse") =
    forAll(Gen.listOfN(15, Gen.zip(
      Gen.oneOf("http://foo.com", "/page/x", "a"), Gen.choose(100, 599),
      Gen.choose(10000, 99999), Gen.choose(0, 99)))) { pvs =>
      import spark.implicits._
      val lines = pvs.map { case (u, s, z, uid) => s"$u\t$s\t$z\t$uid" }.toDF("page_view")
      val parsed = PageViewOps.parse(lines, col("page_view"))
        .select("url", "http_status", "zip_code", "user_id")
        .as[(String, Int, Int, Int)].collect()
      parsed.toSeq.sorted == pvs.sorted
    }

  /** Randomized feed-shaped ADS-B lines: each field independently
   *  absent / JSON null / type-correct value, random space after the
   *  colon, trailing comma or not. Types stay wire-correct (longs for
   *  Id/PosTime, doubles for Lat/Long/Spd/Trak) — type-MISMATCHED JSON
   *  is outside the feed contract and the kernel's documented scope. */
  private val adsbLineGen: Gen[String] = {
    def tok(value: Gen[String]): Gen[Option[String]] = Gen.frequency(
      2 -> Gen.const(None), // absent
      1 -> Gen.const(Some("null")),
      7 -> value.map(Some(_)))
    val longTok = Gen.choose(-1000L, 2000000000000L).map(_.toString)
    val dblTok = Gen.oneOf(
      Gen.choose(-180.0, 180.0).map(_.toString),
      Gen.choose(-1.0e-3, 1.0e-3).map(_.toString), // exponent notation
      Gen.oneOf("0.0", "-0.0", "360.0"))
    val strTok = Gen.listOfN(6, Gen.oneOf(('0' to '9') ++ ('A' to 'F')))
      .map(cs => "\"" + cs.mkString + "\"")
    val boolTok = Gen.oneOf("true", "false")
    for {
      id <- tok(longTok); icao <- tok(strTok); pt <- tok(longTok)
      lat <- tok(dblTok); lngV <- tok(dblTok); spd <- tok(dblTok)
      trak <- tok(dblTok); gnd <- tok(boolTok)
      space <- Gen.oneOf("", " ")
      trail <- Gen.oneOf("", ",")
    } yield {
      val fields = Seq("Id" -> id, "Icao" -> icao, "PosTime" -> pt,
        "Lat" -> lat, "Long" -> lngV, "Spd" -> spd, "Trak" -> trak,
        "Gnd" -> gnd).collect { case (k, Some(v)) => s""""$k":$space$v""" }
      fields.mkString("{", ",", "}") + trail
    }
  }

  /** Random WELL-FORMED JSON value, depth-bounded: scalars, arrays,
   *  objects, occasional space after ':'/','. Valid nesting has fully
   *  defined PERMISSIVE semantics (skip under unknown keys, conversion
   *  error under scalar schema fields, compact re-serialization under
   *  the string field) — unlike the BROKEN containers the malformed
   *  fuzzer documents as excluded, whose divergence is Jackson
   *  implementation folklore. */
  private def jsonValueGen(depth: Int): Gen[String] = {
    val scalar = Gen.oneOf(
      Gen.choose(-999, 99999).map(_.toString),
      Gen.oneOf("null", "true", "false", "1.5", "-0.25", "\"str\"", "\"\""))
    if (depth <= 0) scalar
    else Gen.frequency(
      3 -> scalar,
      2 -> (for {
        n <- Gen.choose(0, 3); sp <- Gen.oneOf("", " ")
        vs <- Gen.listOfN(n, jsonValueGen(depth - 1))
      } yield vs.mkString("[", "," + sp, "]")),
      2 -> (for {
        n <- Gen.choose(0, 3); sp <- Gen.oneOf("", " ")
        ks <- Gen.listOfN(n, Gen.oneOf("a", "b", "Lat", "k9"))
        vs <- Gen.listOfN(n, jsonValueGen(depth - 1))
      } yield ks.zip(vs).map { case (k, v) => s""""$k":$sp$v""" }
        .mkString("{", "," + sp, "}")))
  }

  /** A feed line with one extra field whose value is a random VALID
   *  nested JSON value — under a schema key (conversion semantics) or
   *  an unknown one (skip semantics), injected as the first field. */
  private val nestedFieldLineGen: Gen[String] = for {
    base <- adsbLineGen
    key <- Gen.oneOf("Id", "Icao", "PosTime", "Lat", "Gnd", "Extra", "Zz")
    v <- jsonValueGen(3)
  } yield {
    val field = s""""$key":$v"""
    if (base.startsWith("{}")) "{" + field + base.substring(1)
    else "{" + field + "," + base.substring(1)
  }

  property("AdsbReport kernel == from_json when fields hold VALID nested " +
      "JSON (skip / conversion / string re-serialization semantics)") =
    forAll(Gen.listOfN(25, nestedFieldLineGen)) { lines =>
      import spark.implicits._
      val df = lines.toDF("line")
      val fields = Seq("Id", "Icao", "PosTime", "Lat", "Long", "Spd", "Trak", "Gnd")
      val kernel = df.select(graft.functions.native.adsb_report(col("line")).as("s"))
        .selectExpr(fields.map(f => s"s.$f"): _*).collect().map(_.toSeq).toSeq
      val json = df.select(from_json(regexp_replace(col("line"), ",$", ""),
        graft.model.Schemas.adsb).as("j"))
        .selectExpr(fields.map(f => s"j.$f"): _*).collect().map(_.toSeq).toSeq
      kernel == json
    }

  property("AdsbReport kernel == from_json field-for-field on random lines") =
    forAll(Gen.listOfN(25, adsbLineGen)) { lines =>
      import spark.implicits._
      val df = lines.toDF("line")
      val fields = Seq("Id", "Icao", "PosTime", "Lat", "Long", "Spd", "Trak", "Gnd")
      val kernel = df.select(graft.functions.native.adsb_report(col("line")).as("s"))
        .selectExpr(fields.map(f => s"s.$f"): _*).collect().map(_.toSeq).toSeq
      val json = df.select(from_json(regexp_replace(col("line"), ",$", ""),
        graft.model.Schemas.adsb).as("j"))
        .selectExpr(fields.map(f => s"j.$f"): _*).collect().map(_.toSeq).toSeq
      kernel == json
    }

  // corrupt a well-formed wire line: truncate, inject a character,
  // delete a character, or replace with free-form garbage — the kernel
  // scanner and Jackson must agree (both null, or identical fields) on
  // EVERY input, not just well-formed ones. The junk set deliberately
  // excludes '{' and '[': injecting one right after a schema-field
  // colon creates a BROKEN nested value, and Jackson's behavior there
  // depends on where its exception leaves the token stream (measured
  // 6 in 9000 such mutations diverge between keep-partial and
  // all-null) — implementation folklore the kernel does not chase; it
  // deterministically keeps the record built so far (documented in
  // VectorMath.adsbReport's contract).
  private val corruptLineGen: Gen[String] = {
    val junkChar = Gen.oneOf('}', '"', ':', ',', 'x', '0', ' ')
    Gen.oneOf(
      for { l <- adsbLineGen; n <- Gen.choose(0, 20) } yield l.take(n),
      for { l <- adsbLineGen; i <- Gen.choose(0, 40); c <- junkChar }
        yield { val p = math.min(i, l.length); l.substring(0, p) + c + l.substring(p) },
      for { l <- adsbLineGen; i <- Gen.choose(0, 40) }
        yield { val p = math.min(i, math.max(l.length - 1, 0)); l.substring(0, p) + l.substring(math.min(p + 1, l.length)) },
      Gen.oneOf("", "null", "[]", "[1,2]", "\"Id\":5", "{{}}", "not json at all"))
  }

  property("AdsbReport kernel == from_json on MALFORMED lines too") =
    forAll(Gen.listOfN(25, corruptLineGen)) { lines =>
      import spark.implicits._
      val df = lines.toDF("line")
      val fields = Seq("Id", "Icao", "PosTime", "Lat", "Long", "Spd", "Trak", "Gnd")
      val kernel = df.select(graft.functions.native.adsb_report(col("line")).as("s"))
        .selectExpr(fields.map(f => s"s.$f"): _*).collect().map(_.toSeq).toSeq
      val json = df.select(from_json(regexp_replace(col("line"), ",$", ""),
        graft.model.Schemas.adsb).as("j"))
        .selectExpr(fields.map(f => s"j.$f"): _*).collect().map(_.toSeq).toSeq
      kernel == json
    }

  // corrupted page-view TSV lines: the kernel implements the
  // reference's RAW tab-split (PageView.fromString — no quoting), so
  // the comparable from_csv formulation disables Univocity's quote
  // char; with it enabled, a '"' in the input switches tokenization
  // modes and the two legitimately diverge (quote-free feed contract)
  private val corruptPvGen: Gen[String] = {
    val pvLine = for {
      p <- Gen.choose(0, 9); st <- Gen.choose(100, 599)
      zip <- Gen.choose(94700, 94709); uid <- Gen.choose(0L, 100000L)
    } yield s"/page/p$p\t$st\t$zip\t$uid"
    val junkChar = Gen.oneOf('\t', '"', '0', 'x', ' ', '-', '+', '.', ',')
    Gen.oneOf(
      for { l <- pvLine; n <- Gen.choose(0, 12) } yield l.take(n),
      for { l <- pvLine; i <- Gen.choose(0, 30); c <- junkChar }
        yield { val p = math.min(i, l.length); l.substring(0, p) + c + l.substring(p) },
      for { l <- pvLine; i <- Gen.choose(0, 30) }
        yield { val p = math.min(i, math.max(l.length - 1, 0)); l.substring(0, p) + l.substring(math.min(p + 1, l.length)) },
      Gen.oneOf("", "\t", "\t\t\t\t\t", "a\tb\tc\td\te",
        "99999999999999\t1\t2\t3", "1.5\t2\t3\t4"))
  }

  property("PageViewFields kernel == unquoted from_csv on malformed lines") =
    forAll(Gen.listOfN(25, corruptPvGen)) { lines =>
      import spark.implicits._
      val df = lines.toDF("line")
      val kernel = df.select(graft.functions.native.pageview_fields(col("line")).as("pv"))
        .selectExpr("pv.*").collect().map(_.toSeq).toSeq
      val csv = df.select(from_csv(col("line"), graft.model.Schemas.pageView,
        Map("sep" -> "\t", "quote" -> "")).as("pv"))
        .selectExpr("pv.*").collect().map(_.toSeq).toSeq
      kernel == csv
    }

  property("lastNSorted == sorted suffix of arrival order") =
    forAll(Gen.listOfN(20, Gen.choose(0.0, 50.0)), Gen.choose(1, 25)) { (vals, n) =>
      import spark.implicits._
      // arrival order = event_id (ts constant -> tiebreaker decides)
      val rows = vals.zipWithIndex.map { case (v, i) =>
        (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), i.toLong, v) }
      val got = WindowOps.lastNSorted(rows.toDF("ts", "event_id", "value"),
        Seq(col("ts"), col("event_id")), n, Seq("value", "event_id"))
        .as[(Long, Double, Long)].collect().toSeq
      val want = rows.takeRight(n).map { case (_, id, v) => (v, id) }.sorted
        .zipWithIndex.map { case ((v, id), r) => (r + 1L, v, id) }
      got == want
    }

  property("two-pass distributionRanks == rank-window reference") =
    forAll(
      Gen.choose(1, 60).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"),
          Gen.chooseNum(-50, 50).map(_ / 4.0))))) { rows =>
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      // unique ids fix the tiebroken total order; duplicate values are
      // common by construction (quarter-integer grid) so the tiebreak
      // path is really exercised
      val df = rows.zipWithIndex
        .map { case ((t, v), i) => (i.toLong, t, v) }
        .toDF("event_id", "event_type", "value")
      val got = graft.queries.AnalyticsQueries.distributionRanks(df)
        .as[(Long, String, Double, Long, Double, Double)].collect().toSet
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val want = df
        .withColumn("q4", ntile(4).over(w).cast("bigint"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .as[(Long, String, Double, Long, Double, Double)].collect().toSet
      got == want
    }

  // random text over the full character-class zoo (whitespace runs,
  // stopwords of several languages, unicode, astral pairs, punctuation,
  // digits) — every text kernel must equal its composed formulation on
  // ALL of it, not just the curated spec fixtures
  private val textGen: Gen[String] = {
    val token = Gen.oneOf(
      Gen.oneOf("the", "a", "of", "el", "la", "de", "der", "und", "le",
        "est", "une", "word", "xyzzy"),
      Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString),
      Gen.oneOf("don't", "a.b,c!", "(par)", "42", "ÜNÏcödé", "wörd",
        "😀", "😀🎉", " nbsp", "MIXED-Case"),
      Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", ""))
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, token).map(_.mkString(" ")))
  }

  property("text kernels == composed formulations on random text") =
    forAll(Gen.listOfN(15, textGen)) { texts =>
      import spark.implicits._
      import graft.ops.TextAnalyticsOps._
      val df = texts.toDF("text")
      val rows = df.select(
        langId(col("text")).as("ln"), langIdHof(col("text")).as("lh"),
        wsTokenCount(col("text")).as("wn"), wsTokenCountHof(col("text")).as("wh"),
        bpeishTokenCount(col("text")).as("bn"), bpeishTokenCountHof(col("text")).as("bh"))
        .as[(String, String, Long, Long, Long, Long)].collect()
      val quality = df.select(qualityFeatures(col("text")).as("q"))
        .selectExpr("q.*").collect().map(_.toSeq).toSeq
      val qualityHof = df.select(qualityFeaturesHof(col("text")).as("q"))
        .selectExpr("q.*").collect().map(_.toSeq).toSeq
      rows.forall { case (ln, lh, wn, wh, bn, bh) =>
        ln == lh && wn == wh && bn == bh
      } && quality == qualityHof
    }

  // stratified sampling invariants: exactly min(N, |stratum|) rows per
  // group, and the SAME rows regardless of how the input is
  // partitioned (WindowGroupLimit must not make the choice
  // placement-dependent)
  property("stratified top-N by hash: per-group size + partitioning invariance") =
    forAll(
      Gen.listOf(Gen.zip(Gen.oneOf("s0", "s1", "s2"), Gen.alphaStr.map(_.take(12)))),
      Gen.choose(1, 4), Gen.choose(1, 8)) { (rows, n, parts) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      def sample(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
          .cast("bigint"))
        .filter(col("rn") <= n)
      val df = rows.zipWithIndex
        .map { case ((src, txt), i) => (i.toLong, src, txt) }
        .toDF("doc_id", "source", "text")
      val a = sample(df).collect().map(_.toSeq).toSet
      val b = sample(df.repartition(parts)).collect().map(_.toSeq).toSet
      val sizes = a.groupBy(_(1)).view.mapValues(_.size).toMap
      val strata = rows.groupBy(_._1).view.mapValues(_.size).toMap
      a == b && strata.forall { case (src, total) =>
        sizes.getOrElse(src, 0) == math.min(n, total)
      }
    }

  // incremental dedup against a brute-force reference: admitted =
  // fingerprints present in the new batch but absent from history,
  // each with the smallest new doc_id carrying it
  property("dedupIncremental == brute-force set difference") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(0L, 60L), Gen.oneOf("a", "b", "c", "d", "e")))) { raw =>
      import spark.implicits._
      // unique ids, text drawn from a tiny pool so cross-batch
      // collisions are common
      val rows = raw.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      val docs = df.select(col("doc_id"), md5(col("text")).as("fp"))
      val hist = docs.filter(col("doc_id") % 5 =!= 0)
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val got = fresh.join(hist.select(col("fp")), Seq("fp"), "left_anti")
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")).as[Long].collect().toSet
      val histTexts = rows.filter(_._1 % 5 != 0).map(_._2).toSet
      val want = rows.filter(_._1 % 5 == 0)
        .filterNot(r => histTexts.contains(r._2))
        .groupBy(_._2).values.map(_.map(_._1).min).toSet
      got == want
    }

  // ---- loader projections vs pure-Scala references on adversarial ---------
  // whitespace (every Java \s char, runs, leading ws, unicode tokens,
  // the sentinel itself appearing in the input)

  private val ldrTokenGen =
    Gen.oneOf("the", "a", "cat", "dog", "x1", "Ω≈ç", "zz..!", "<scrub>")
  private val ldrWsGen =
    Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ")
  private val ldrDocGen: Gen[String] = for {
    n <- Gen.choose(0, 130)
    toks <- Gen.listOfN(n, ldrTokenGen)
    seps <- Gen.listOfN(n, ldrWsGen)
    lead <- ldrWsGen
  } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  property("chunkProjection == reference tokenize-and-cut") =
    forAll(Gen.listOfN(5, ldrDocGen)) { docs =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.queries.PipelineQueries.chunkProjection(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      val k = graft.queries.PipelineQueries.ChunkTokens
      val expected = docs.zipWithIndex.flatMap { case (t, i) =>
        val w = t.split("\\s+").filter(_.nonEmpty)
        w.grouped(k).zipWithIndex.map { case (chunk, c) =>
          (i.toLong, c.toLong, chunk.length.toLong, md5Hex(chunk.mkString(" ")))
        }
      }.toSet
      got == expected
    }

  property("scrubProjection == reference in-place redaction") =
    forAll(Gen.listOfN(5, ldrDocGen)) { docs =>
      import spark.implicits._
      val bl = graft.queries.PipelineQueries.ScrubBlocklist.toSet
      val tok = graft.queries.PipelineQueries.ScrubToken
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.queries.PipelineQueries.scrubProjection(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val expected = docs.zipWithIndex.map { case (t, i) =>
        val w = t.split("\\s+").filter(_.nonEmpty)
        (i.toLong, w.count(bl).toLong,
          md5Hex(w.map(x => if (bl(x)) tok else x).mkString(" ")))
      }.toSet
      got == expected
    }

  property("splitProjection bucket == md5-prefix mod 100 on any text") =
    forAll(Gen.listOfN(5, ldrDocGen)) { docs =>
      import spark.implicits._
      val d = graft.queries.PipelineQueries.SplitHexDigits
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.queries.PipelineQueries.splitProjection(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val expected = docs.zipWithIndex.map { case (t, i) =>
        val b = java.lang.Long.parseLong(md5Hex(t).take(d), 16) % 100
        (i.toLong, b, if (b < 80) "train" else if (b < 90) "val" else "test")
      }.toSet
      got == expected
    }

  property("exactGroups: group sizes partition the input") =
    forAll(Gen.listOfN(25, Gen.oneOf("a", "b", "c", "d"))) { texts =>
      import spark.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val groups = DedupOps.exactGroups(df, col("id"), col("text"))
        .as[(Long, Long)].collect()
      groups.map(_._2).sum == texts.size &&
        groups.forall { case (keeper, _) => keeper >= 0 && keeper < texts.size }
    }

  // ---- span-family joint invariants ---------------------------------------
  // Generated corpora with shared passages spliced in, so qualifying
  // same-content spans actually occur (the DedupOpsSpec fuzz lesson:
  // random text alone almost never repeats a whole span).

  private val spanTok = Gen.oneOf((0 until 30).map(i => f"t$i%02d"))
  private val spanCorpusGen: Gen[List[List[String]]] = for {
    passage <- Gen.listOfN(7, spanTok)
    n <- Gen.choose(6, 12)
    docs <- Gen.listOfN(n, for {
      base <- Gen.choose(0, 10).flatMap(Gen.listOfN(_, spanTok))
      inject <- Gen.prob(0.5)
      cut <- Gen.choose(0, math.max(base.size, 1))
    } yield if (inject) base.take(cut) ++ passage ++ base.drop(cut) else base)
  } yield docs

  property("span family: measure, maximal and removal agree on every " +
      "joint invariant") =
    forAll(spanCorpusGen) { corpus =>
      import spark.implicits._
      val n = 3
      val minLen = 6
      val df = corpus.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val measure = DedupOps.repeatedSpanStats(df, col("doc_id"), col("text"), n)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val maximal = DedupOps.maximalRepeatedSpans(df, col("doc_id"),
        col("text"), n, minLen).as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val removal = DedupOps.removeRepeatedSpans(df, col("doc_id"),
        col("text"), n, minLen).as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      corpus.indices.forall { i =>
        val id = i.toLong
        val (nG, nDup, dupTok) = measure(id)
        val (nSp, maxSp, spTok) = maximal(id)
        val (nTok, nRem, keptHash) = removal(id)
        val ws = corpus(i)
        // measure sanity: gram count and union bounds
        nG == math.max(ws.size - n + 1, 0) && nDup <= nG &&
          dupTok <= ws.size &&
          // maximal: zero-triples together; qualified runs obey bounds
          ((nSp == 0) == (maxSp == 0)) && ((nSp == 0) == (spTok == 0)) &&
          (nSp == 0 || (maxSp >= minLen && spTok >= maxSp && nDup > 0)) &&
          // a qualifying run's positions are dup positions: its token
          // span can't exceed the measure's covered-token union by more
          // than the sub-minLen runs it ignores... the safe direction:
          (nSp == 0 || dupTok >= maxSp) &&
          // removal: bounded, implies a qualifying span, and an
          // untouched doc reconstructs to its normalized words
          nTok == ws.size && nRem <= nTok &&
          (nRem == 0 || nSp > 0) &&
          (nRem > 0 || keptHash == md5Hex(ws.mkString(" ")))
      }
    }

  // ---- byte-level media parsers: total on adversarial input ---------------

  /** Arbitrary payloads + structured adversarial ones (valid media
   *  truncated at any point or with one byte flipped — the corruption
   *  shapes a real blob column actually carries). */
  private val mediaBytesGen: Gen[Array[Byte]] = {
    val raw = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    val seeds = Gen.oneOf(
      Gen.choose(0, graft.tools.Mp4Fixture.N - 1).map(graft.tools.Mp4Fixture.mp4Bytes),
      Gen.choose(0, graft.tools.WavFixture.N - 1).map(graft.tools.WavFixture.wavBytes))
    val truncated = for {
      b <- seeds; cut <- Gen.choose(0, b.length)
    } yield b.take(cut)
    val flipped = for {
      b <- seeds; p <- Gen.choose(0, b.length - 1); v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
    } yield { val c = b.clone(); c(p) = v; c }
    Gen.oneOf(raw, truncated, flipped)
  }

  property("gifStructure is never silently partial: every STRICT " +
      "prefix of a valid GIF walks to None (the trailer must land " +
      "exactly at EOF), the whole file to its frame count, and a " +
      "flipped byte never crashes the walk") =
    forAll(
      Gen.choose(0, graft.tools.GifFixture.N - 1),
      Gen.choose(0.0, 1.0),
      Gen.choose(Byte.MinValue, Byte.MaxValue)) { (i, fcut, v) =>
      val b = graft.tools.GifFixture.gifBytes(i)
      val full = graft.ops.MultimodalOps.gifStructure(b)
      val cut = 1 + ((b.length - 2) * fcut).toInt // strict, non-empty
      val prefix = graft.ops.MultimodalOps.gifStructure(b.take(cut))
      val flipped = {
        // totality only: a flipped byte may legally restructure the
        // block stream (the DECODE cross-check catches those), but the
        // walk itself must never throw
        val c = b.clone(); c(cut) = v
        scala.util.Try(graft.ops.MultimodalOps.gifStructure(c)).isSuccess
      }
      full.contains(graft.tools.GifFixture.frames(i)) &&
        prefix.isEmpty && flipped
    }

  property("charEntropy bounds: 0 <= entropy <= ln(n) micro-nats, zero " +
      "iff <= 1 distinct code point, and concatenation-invariant under " +
      "permutation") =
    forAll(Gen.listOfN(6, Gen.oneOf("a", "b", "cd", " ", "xyz", "😀"))) { parts =>
      val t = parts.mkString
      val r = graft.functions.VectorMath.charEntropy(t)
      val (n, nd, e) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val perm = new scala.util.Random(42).shuffle(t.codePoints().toArray.toSeq)
      val shuffled = new String(perm.toArray, 0, perm.length)
      val r2 = graft.functions.VectorMath.charEntropy(shuffled)
      e >= 0L && e <= math.ceil(StrictMath.log(math.max(n, 1).toDouble) * 1e6).toLong &&
        ((nd <= 1) == (e == 0L)) &&
        (r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((n, nd, e))
    }

  property("minhashCandidates cap monotonicity: capped candidates are a " +
      "subset of uncapped, and cap >= corpus size changes nothing") =
    forAll(Gen.choose(2, 6), Gen.choose(1, 4)) { (nDocs, cap) =>
      import spark.implicits._
      val docs = (0 until nDocs).map { i =>
        (i.toLong, if (i % 2 == 0) "the quick brown fox jumps over the lazy dog"
        else s"unique words for document number $i only here today")
      }.toDF("doc_id", "text")
      def pairs(c: Option[Int]) = DedupOps.minhashCandidates(
        docs, col("doc_id"), col("text"), maxBandDf = c)
        .as[(Long, Long)].collect().toSet
      val un = pairs(None)
      pairs(Some(cap)).subsetOf(un) && pairs(Some(nDocs * 16)) == un
    }

  property("probeMp4/decodeWav are total: any payload zoo yields one " +
      "row per input — parsed or quarantined, never a task kill") =
    forAll(Gen.listOfN(6, mediaBytesGen)) { payloads =>
      import spark.implicits._
      val df = payloads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("doc_id", "bytes")
      val mp4 = MultimodalOps.probeMp4Partitioned(df, "doc_id", "bytes").collect()
      val wav = MultimodalOps.decodeWavPartitioned(df, "doc_id", "bytes").collect()
      mp4.length == payloads.length && wav.length == payloads.length &&
        mp4.forall(m => m.brand == "corrupt" ||
          (m.timescale > 0 && m.duration_ms >= 0 && m.n_tracks >= 0)) &&
        wav.forall(w => w.sample_rate == -1 ||
          (w.sample_rate > 0 && w.n_samples >= 0 &&
            w.amp_hist.sum == w.n_samples * w.channels))
    }

  /** Adversarial zoo for the r19 CONTAINER-GENERAL dispatches: valid
    * payloads from every committed corpus the sniffers route (WAV,
    * AU, GIF, MJPEG-AVI), truncated at any point, one byte flipped,
    * raw junk, and MAGIC-PREFIXED junk (a correct magic over garbage
    * is exactly what a corrupt blob column carries — the sniffer must
    * route it into the strict walk and come back with a quarantine,
    * never a crash). */
  private val containerBytesGen: Gen[Array[Byte]] = {
    val raw = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    val seeds = Gen.oneOf(
      Gen.choose(0, graft.tools.AudioRemuxFixture.Total - 1)
        .map(graft.tools.AudioRemuxFixture.audioBytes),
      Gen.choose(0, graft.tools.VideoRemuxFixture.Total - 1)
        .map(graft.tools.VideoRemuxFixture.videoBytes),
      Gen.choose(0, graft.tools.AviFixture.N - 1)
        .map(graft.tools.AviFixture.aviBytes),
      Gen.choose(0, graft.tools.AudioDupFixture.Total - 1)
        .map(graft.tools.AudioDupFixture.wavBytes),
      // the r20 containers: MJPEG-MP4 (incl. the avc1 codec decoy)
      // and AIFF (incl. the 8-bit decoy)
      Gen.choose(0, graft.tools.Mp4RemuxFixture.Total - 1)
        .map(graft.tools.Mp4RemuxFixture.mp4Bytes),
      Gen.choose(0, graft.tools.AiffRemuxFixture.Total - 1)
        .map(graft.tools.AiffRemuxFixture.aiffBytes))
    val truncated = for {
      b <- seeds; cut <- Gen.choose(0, b.length)
    } yield b.take(cut)
    val flipped = for {
      b <- seeds; p <- Gen.choose(0, b.length - 1)
      v <- Gen.choose(Byte.MinValue, Byte.MaxValue)
    } yield { val c = b.clone(); c(p) = v; c }
    val magicJunk = for {
      magic <- Gen.oneOf(".snd", "RIFF    WAVE",
        "RIFF    AVI ", "GIF89a", "FORM    AIFF",
        "   ftypisom") // u32 size + ftyp: the MP4 sniff
      n <- Gen.choose(0, 48)
      tail <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
    } yield magic.getBytes("ISO-8859-1") ++ tail.toArray
    Gen.oneOf(raw, truncated, flipped, magicJunk)
  }

  property("container-general dispatches are total: audioClipFingerprint " +
      "and clipPhashes route ANY payload to a parse or a quarantine " +
      "sentinel — never a crash, never a silent drop") =
    forAll(Gen.listOfN(8, containerBytesGen)) { payloads =>
      payloads.zipWithIndex.forall { case (b, i) =>
        val fp = MultimodalOps.audioClipFingerprint(i.toLong, b)
        val audioOk = fp.id == i.toLong &&
          (fp.sample_rate == -1 ||
            (fp.sample_rate > 0 && fp.n_samples >= 64))
        val rows = MultimodalOps.clipPhashes(i.toLong, b, brightShift = 0)
        val videoOk = rows.nonEmpty && rows.forall(_.id == i.toLong) && {
          if (rows.exists(_.width == -1))
            rows.length == 1 && rows.head.frame == -1L // ONE sentinel
          else rows.map(_.frame).sorted ==
            (0L until rows.length.toLong) // contiguous decoded frames
        }
        audioOk && videoOk
      }
    }

  property("dsirPrefix60 == the relational conv(substring(md5, 1, 15), " +
      "16, 10) device, bit-for-bit, on arbitrary words") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.oneOf("", "é", "😀", "ß")) {
      (base, salt) =>
        val w = base + salt
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString
        val want = java.lang.Long.parseLong(hex.take(15), 16)
        graft.functions.VectorMath.dsirPrefix60(w) == want
    }

  private val bloomTextGen: Gen[String] =
    Gen.listOfN(12, Gen.oneOf("a", "b", "cc", "d9", "é", "zz", "a"))
      .map(_.mkString(" "))

  property("bloom one-sidedness: every inserted hash probes true, and " +
      "any probe agrees with the plain all-k-positions definition") =
    forAll(Gen.listOfN(25, Gen.identifier), Gen.listOfN(10, Gen.identifier),
        Gen.choose(1, 7), Gen.oneOf(64, 512, 4096)) { (ins, extra, k, m) =>
      // independent position arithmetic (not the kernel's)
      def positions(h: Long): Seq[Long] = {
        val mask = (m - 1).toLong
        val (a, b, c) =
          (h & 0xFFFFFL, (h >>> 20) & 0xFFFFFL, (h >>> 40) & 0xFFFFFL)
        (0 until k).map(i => (a + i * b + (i.toLong * (i - 1) / 2) * c) & mask)
      }
      val bits = new Array[Long](m / 64)
      val hs = ins.map(graft.functions.VectorMath.dsirPrefix60)
      hs.foreach(h => positions(h).foreach(p =>
        bits((p >>> 6).toInt) |= (1L << (p & 63))))
      val noFalseNeg = hs.forall(h =>
        graft.functions.VectorMath.bloomHashHit(h, k, bits))
      val agrees = extra.map(graft.functions.VectorMath.dsirPrefix60)
        .forall { h =>
          graft.functions.VectorMath.bloomHashHit(h, k, bits) ==
            positions(h).forall(p => (bits((p >>> 6).toInt) &
              (1L << (p & 63))) != 0)
        }
      noFalseNeg && agrees
    }

  property("bloomHits decomposes: n_grams = distinct portable gram " +
      "hashes, n_hits = those whose hash probes true (scalar and " +
      "document kernels agree on arbitrary bit patterns)") =
    forAll(bloomTextGen, Gen.choose(1, 6), Gen.choose(2, 4),
        Gen.listOfN(8, Gen.choose(Long.MinValue, Long.MaxValue))) {
      (text, k, n, words) =>
        val bits = words.toArray // arbitrary pattern, fresh per case
        val gh = graft.functions.VectorMath
          .gramHashes(text, n, portable = true).toLongArray().distinct
        val r = graft.functions.VectorMath.bloomHits(text, n, k, bits)
        r.getLong(0) == gh.length &&
          r.getLong(1) == gh.count(h =>
            graft.functions.VectorMath.bloomHashHit(h, k, bits))
    }

  property("dsirScore totality + additivity: any text yields " +
      "(n_words >= 0, finite sum); score of a concatenation with a " +
      "space equals the sum of the parts' scores") =
    forAll(Gen.listOfN(4, Gen.oneOf("word", "a", "zz9", " ", "\t", "é é")),
        Gen.listOfN(3, Gen.choose(-500000L, 500000L))) { (parts, m3) =>
      val model = (m3 ++ m3 ++ m3).padTo(64, 7L).toArray
      def sc(t: String) = {
        val r = graft.functions.VectorMath.dsirScore(t, model)
        (r.getLong(0), r.getLong(1))
      }
      val (a, b) = (parts.take(2).mkString(" "), parts.drop(2).mkString(" "))
      val ((na, sa), (nb, sb)) = (sc(a), sc(b))
      val (nc, scc) = sc(s"$a $b")
      na >= 0 && nb >= 0 && nc == na + nb && scc == sa + sb
    }

  property("wordpiece greedy segmentation invariants on arbitrary " +
      "words: pieces concatenate back to the word (or the whole word " +
      "is [UNK]), position classes are correct, every vocab lookup " +
      "succeeded, and each piece is MAXIMAL (no longer vocab piece " +
      "matches at its position — max-munch, not just a segmentation)") =
    forAll(Gen.listOfN(8,
        Gen.oneOf("a", "b", "g", "q", "u", "z", "#", "t", "c", "h")),
        Gen.choose(1, 8)) { (cs, len) =>
      val w = cs.take(len).mkString
      val vocab = graft.functions.VectorMath.WordpieceVocab
      val vset = vocab.toSet
      val maxC = graft.functions.VectorMath.WordpieceMaxContent
      val got = graft.functions.VectorMath.wordpieceSegment(
        w, vocab.toArray, maxC)
      // reference greedy scan — deterministic, so the [UNK] claim is
      // fully checkable (a kernel that UNKs everything must fail)
      def refDeadEnds: Boolean = {
        var pos = 0
        while (pos < w.length) {
          val hit = (math.min(maxC, w.length - pos) to 1 by -1).find { l =>
            vset(if (pos == 0) w.substring(0, l)
              else "##" + w.substring(pos, pos + l))
          }
          hit match {
            case None => return true
            case Some(l) => pos += l
          }
        }
        false
      }
      if (got == graft.functions.VectorMath.WordpieceUnk) refDeadEnds
      else {
        val pieces = got.split(" ").toSeq
        val contents = pieces.zipWithIndex.map { case (p, i) =>
          if (i == 0) p else { assert(p.startsWith("##")); p.substring(2) }
        }
        var pos = 0
        val maximal = pieces.zip(contents).forall { case (p, c) =>
          val inVocab = vset(p)
          // no LONGER piece matches at this position
          val longerHit = ((c.length + 1) to
            math.min(maxC, w.length - pos)).exists { l =>
            val cand = if (pos == 0) w.substring(0, l)
              else "##" + w.substring(pos, pos + l)
            vset(cand)
          }
          pos += c.length
          inVocab && !longerHit
        }
        contents.mkString == w && maximal
      }
    }

  // ---- NB langid kernel: code-point bigram walk ----------------------------

  private val uniCharGen: Gen[String] = Gen.frequency(
    (6, Gen.alphaNumChar.map(_.toString)),
    (2, Gen.oneOf(" ", "\t", "é", "ß", "雪", "Ω")),
    (1, Gen.const(new String(Character.toChars(0x1F600)))), // emoji (surrogate pair)
    (1, Gen.const(new String(Character.toChars(0x10348))))) // Gothic hwair

  property("NbLangId's decode-once code-point walk scores identically " +
      "to a plain codePoints-based reference on arbitrary unicode " +
      "(incl. supplementary-plane chars)") = {
    val langs = Array("aa", "bb", "cc")
    val priors = Array(-100L, -200L, -50L)
    val model = new java.util.HashMap[String, Array[Long]]()
    // a tiny deterministic model over a few bigrams incl. an
    // emoji-containing one
    def put(bg: String, a: Long, b: Long, c: Long): Unit = {
      model.put(bg, Array(a, b, c)); ()
    }
    put("ab", -10L, -1L, -5L)
    put("b ", -2L, -20L, -7L)
    put("éß", -1L, -2L, -30L)
    put(new String(Character.toChars(0x1F600)) + "a", -40L, -3L, -9L)
    forAll(Gen.listOf(uniCharGen).map(_.mkString)) { s =>
      val got = graft.functions.VectorMath.nbLangIdArgmax(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        model, priors, langs)
      // reference: code-point array pairing, independent of the
      // kernel's charCount window arithmetic
      val cps = s.codePoints().toArray
      val scores = priors.clone()
      cps.sliding(2).filter(_.length == 2).foreach { w =>
        val bg = new String(w, 0, 2)
        val v = model.get(bg)
        if (v != null) (0 until 3).foreach(l => scores(l) += v(l))
      }
      val best = (1 until 3).foldLeft(0)((b, l) =>
        if (scores(l) > scores(b)) l else b)
      got.getUTF8String(0).toString == langs(best) &&
        got.getLong(1) == scores(best)
    }
  }
}
