package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{GeoOps, SimilarityOps}

class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("FloatVectorDot is bit-identical to the HOF fold formulation") {
    val df = Seq(
      (Seq(1.5f, -2.25f, 3.125f), Seq(0.5f, 4.0f, -1.0f)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(0.4f, 0.5f, 0.6f))).toDF("a", "b")
    val rows = df.select(
      SimilarityOps.dot(col("a"), col("b")).as("native"),
      SimilarityOps.dotHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) => assert(n == h) } // exact, not approx
  }

  test("AdsbLatLng kernel equals the from_json formulation on all line shapes") {
    val df = Seq(
      """{"Id":1,"Icao":"A1B2C3","PosTime":1700000000000,"Lat":40.64,"Long":-73.78,"Spd":250.0,"Trak":90.0},""",
      """{"Id":2,"Icao":"FFF","Lat":-12.5,"Long":179.99},""",
      """{"Id":3,"Icao":"ABC","Lat":null,"Long":-73.78},""",
      """{"Id":4,"Icao":"ABC","Long":-73.78},""", // Lat missing
      """{"Id":5,"Lat":1e2,"Long":-1.5E-3},""", // exponents
      """{"Id":6,"Lat": 7.25 ,"Long": -0.5},""", // spaces after colon
      """not json at all""",
      """{"Id":7,"Lat":40.0,"Long":-73.0}""" // no trailing comma
    ).toDF("line")
    val kernel = df.select(graft.ops.AdsbOps.zoneOfLine(col("line"))).collect().toSeq
    val hof = df.select(graft.ops.AdsbOps.zoneOfLineHof(col("line"))).collect().toSeq
    assert(kernel == hof)
    // and the raw struct matches from_json field-for-field
    val k2 = df.select(native.adsb_latlng(col("line")).as("s"))
      .selectExpr("s.lat", "s.lng").collect().map(_.toSeq).toSeq
    val j2 = df.select(from_json(regexp_replace(col("line"), ",$", ""),
      graft.model.Schemas.adsb).as("j"))
      .selectExpr("j.Lat", "j.Long").collect().map(_.toSeq).toSeq
    assert(k2 == j2)
  }

  test("AdsbReport kernel equals the from_json formulation on all 8 fields") {
    val df = Seq(
      """{"Id":1,"Icao":"A1B2C3","PosTime":1700000000000,"Lat":40.64,"Long":-73.78,"Spd":250.0,"Trak":90.0,"Gnd":false},""",
      """{"Id":2,"Icao":"C3D4","PosTime":1500000000001,"Lat":40.0,"Long":-74.0,"Spd":250.0,"Trak":180.0},""", // Gnd absent
      """{"Id":3,"Icao":"E5F6","PosTime":1500000000002,"Lat":41.0,"Long":-72.0,"Spd":5.0,"Trak":0.0,"Gnd":true},""",
      """{"Id":4,"Icao":"G7H8","PosTime":1500000000003,"Lat":41.0,"Long":-72.0,"Spd":null,"Trak":0.0},""", // Spd null
      """{"Id":5,"Icao":"I9J0","PosTime":1500000000004},""", // most fields missing
      """{"Id":6,"Icao":"K1L2","PosTime":-7,"Lat":1e2,"Long":-1.5E-3,"Spd": 33.5 ,"Trak":359.9,"Gnd":null},""",
      """not json at all""",
      """{"Id":7,"Icao":"M","PosTime":1,"Lat":40.0,"Long":-73.0,"Spd":1.0,"Trak":2.0,"Gnd":false}""" // no trailing comma
    ).toDF("line")
    val fields = Seq("Id", "Icao", "PosTime", "Lat", "Long", "Spd", "Trak", "Gnd")
    val kernel = df.select(native.adsb_report(col("line")).as("s"))
      .selectExpr(fields.map(f => s"s.$f"): _*).collect().map(_.toSeq).toSeq
    val json = df.select(from_json(regexp_replace(col("line"), ",$", ""),
      graft.model.Schemas.adsb).as("j"))
      .selectExpr(fields.map(f => s"j.$f"): _*).collect().map(_.toSeq).toSeq
    assert(kernel == json)
  }

  test("AdsbReport kernel bounds nesting depth like Jackson: deep " +
      "corruption nulls the record in BOTH engines, never a stack overflow") {
    // > MaxJsonDepth (1000) nested containers: Jackson's
    // StreamReadConstraints rejects the record (PERMISSIVE -> null
    // fields); the kernel must fail lexically at its depth bound
    // instead of recursing one frame per '[' and killing the task
    def nest(n: Int, inner: String) = ("[" * n) + inner + ("]" * n)
    val df = Seq(
      s"""{"Id":8,"Unknown":${nest(2000, "1")},"Icao":"DEEP"},""",
      s"""{"Id":9,"Icao":${nest(2000, "\"x\"")}},""", // under the string field
      s"""{"Id":10,"Lat":${nest(2000, "1.5")},"Icao":"N"},""", // numeric field
      s"""{"Id":11,"Unknown":${nest(500, "1")},"Icao":"OK"},""", // within bounds
      s"""{"Id":12,"Icao":${nest(500, "\"y\"")}},"""
    ).toDF("line")
    val fields = Seq("Id", "Icao", "PosTime", "Lat", "Long", "Spd", "Trak", "Gnd")
    val kernel = df.select(native.adsb_report(col("line")).as("s"))
      .selectExpr(fields.map(f => s"s.$f"): _*).collect().map(_.toSeq).toSeq
    val json = df.select(from_json(regexp_replace(col("line"), ",$", ""),
      graft.model.Schemas.adsb).as("j"))
      .selectExpr(fields.map(f => s"j.$f"): _*).collect().map(_.toSeq).toSeq
    assert(kernel == json)
    // the in-bounds cases actually parsed (the guard isn't over-eager)
    assert(kernel(3)(0) == 11L)
  }

  test("PageViewFields kernel equals the from_csv formulation per line shape") {
    val df = Seq(
      "/page/a\t200\t94709\t42", // well-formed
      "/page/b\t404\t94117\t7",
      "only\ttwo", // short
      "/u\t200\t94709\t1\textra", // extra field
      "\t200\t94709\t42", // empty url token
      "/u\tabc\t94709\t42", // non-numeric status
      "/u\t-200\t94709\t42", // negative int
      "" // empty line
    ).toDF("line")
    val kernel = df.select(native.pageview_fields(col("line")).as("pv"))
      .selectExpr("pv.*").collect().map(_.toSeq).toSeq
    val csv = df.select(from_csv(col("line"), graft.model.Schemas.pageView,
      Map("sep" -> "\t")).as("pv"))
      .selectExpr("pv.*").collect().map(_.toSeq).toSeq
    assert(kernel == csv)
  }

  test("QualityStats-backed features equal the composed regex formulation") {
    val df = Seq(
      "the quick brown fox jumps of the lazy dog",
      "  leading\tand   multiple\nwhitespace  runs ",
      "", "   ", "word",
      "Ünïcödé, text! 12 😀 emoji & MIXED case").toDF("text")
    val kernel = df.select(graft.ops.TextAnalyticsOps.qualityFeatures(col("text")).as("q"))
      .selectExpr("q.*").collect().map(_.toSeq)
    val hof = df.select(graft.ops.TextAnalyticsOps.qualityFeaturesHof(col("text")).as("q"))
      .selectExpr("q.*").collect().map(_.toSeq)
    assert(kernel.toSeq == hof.toSeq) // exact, including null features
  }

  test("IvfProbeCells equals the composed (-score, cid) struct-sort form") {
    val cents: Array[Array[Float]] = Array(
      Array(1.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f),
      Array(0.7f, 0.7f, 0.0f),
      Array(0.0f, 0.0f, 0.0f), // zero-norm centroid -> -inf score, ranks last
      Array(-1.0f, 0.0f, 0.0f))
    val cNorms = cents.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    val df = Seq(
      Seq(1.0f, 0.1f, 0.0f),
      Seq(0.1f, 1.0f, 0.0f),
      Seq(0.5f, 0.5f, 0.5f),
      Seq(-2.0f, 0.0f, 1.0f),
      Seq(0.0f, 0.0f, 0.0f) // zero-norm vector: every score -inf -> cid order
    ).toDF("e")
    val nrm = sqrt(SimilarityOps.dot(col("e"), col("e")))
    val composed = df.select(transform(slice(array_sort(array(
      cents.indices.map { i =>
        val s = coalesce(
          SimilarityOps.dot(col("e"), typedlit(cents(i).toSeq)) /
            nullif(nrm * cNorms(i), lit(0.0)),
          lit(Double.NegativeInfinity))
        struct((-s).as("ns"), lit(i).as("cid"))
      }: _*)), 1, 3), p => p.getField("cid")).as("cells"))
      .as[Seq[Int]].collect()
    val nativeC = df.select(
      native.ivf_probe_cells(col("e"), cents, cNorms, 3).as("cells"))
      .as[Seq[Int]].collect()
    assert(composed.toSeq == nativeC.toSeq)
  }

  test("FloatVectorDot null propagation") {
    val df = Seq((Option(Seq(1.0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    val r = df.select(SimilarityOps.dot(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }

  test("ShingleHashes is bit-identical to the composed shingle+hash columns") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "  leading\tand   multiple\nwhitespace  runs ",
      "a b a b a b", // repeated shingles -> distinct dedup
      "two words", // fewer than n -> empty
      "").toDF("text")
    val composed = df.select(
      transform(graft.ops.DedupOps.shingles(col("text"), 3), s => xxhash64(s)).as("h"))
      .as[Seq[Long]].collect()
    val nativeH = df.select(native.shingle_hashes(col("text"), 3).as("h"))
      .as[Seq[Long]].collect()
    assert(composed.toSeq == nativeH.toSeq)
  }

  test("MinhashSig kernel is bit-identical to the explode + k-column " +
      "min aggregate form (the old minhashSignatures shape)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b c d e f g h i j"),
      (3L, "  leading\tand   multiple\nwhitespace  runs here too "),
      (4L, "único wörd ünïcode mixed with ascii words in one doc"))
      .toDF("id", "text")
    val k = 64
    val agg = df.select(col("id"),
        explode(native.shingle_hashes(col("text"), 3)).as("h0"))
      .groupBy("id")
      .agg(min(xxhash64(lit(0), col("h0"))).as("m0"),
        (1 until k).map(i => min(xxhash64(lit(i), col("h0"))).as(s"m$i")): _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    val kernel = df.select(col("id"),
        native.shingle_hashes(col("text"), 3).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"), native.minhash_sig(col("shs"), k).as("sig"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(agg.toSeq == kernel.toSeq)
    // shingle-less docs drop out of both forms
    val short = Seq((9L, "two words")).toDF("id", "text")
    assert(graft.ops.DedupOps.minhashSignatures(
      short, col("id"), col("text")).count() == 0)
  }

  test("WordHashes matches the composed split+hash columns, both families") {
    val df = Seq(
      "the quick brown fox the quick", // duplicates kept
      "  leading\tand   multiple\nwhitespace  runs ",
      "único wörd ünïcode", // multi-byte UTF-8
      "").toDF("text")
    val composedXx = df.select(
      transform(filter(split(col("text"), "\\s+"), w => length(w) > 0),
        w => xxhash64(w)).as("h")).as[Seq[Long]].collect()
    val nativeXx = df.select(native.word_hashes(col("text"), portable = false).as("h"))
      .as[Seq[Long]].collect()
    assert(composedXx.toSeq == nativeXx.toSeq)
    val composedMd5 = df.select(
      transform(filter(split(col("text"), "\\s+"), w => length(w) > 0),
        w => conv(substring(md5(w), 1, 15), 16, 10).cast("long")).as("h"))
      .as[Seq[Long]].collect()
    val nativeMd5 = df.select(native.word_hashes(col("text"), portable = true).as("h"))
      .as[Seq[Long]].collect()
    assert(composedMd5.toSeq == nativeMd5.toSeq)
  }

  test("ClassifyScore kernel is bit-identical to the composed " +
      "aggregate-HOF fold, including the md5 bucket arithmetic") {
    val df = Seq(
      "The Quick Brown Fox Jumps Over the Lazy Dog",
      "  leading\tand   multiple\nwhitespace  runs ",
      "único wörd ünïcode", // multi-byte UTF-8 md5 input
      "repeat repeat repeat repeat", // memo hit path
      "one",
      "").toDF("text")
    val composed = df.select(
      graft.queries.PipelineQueries.classifyScoreHof(col("text")).as("cs"))
      .select("cs.n_words", "cs.score_sum").as[(Long, Long)].collect()
    val nativeCs = df.select(
      native.classify_score(lower(col("text"))).as("cs"))
      .select("cs.n_words", "cs.score_sum").as[(Long, Long)].collect()
    assert(composed.toSeq == nativeCs.toSeq)
  }

  test("LangId kernel equals the composed split/filter/isin argmax") {
    val df = Seq(
      "the cat sat on the mat and the dog is in a box", // en
      "el que la de una y los", // es
      "der die das und ist nicht", // de
      "le et les une est", // fr
      "la de", // hits es AND fr equally -> es by precedence
      "xyzzy plugh", // no hits -> und
      "  the\t\nde   la  ", // whitespace runs + multi-lang hits
      "").toDF("text")
    val rows = df.select(
      graft.ops.TextAnalyticsOps.langId(col("text")).as("native"),
      graft.ops.TextAnalyticsOps.langIdHof(col("text")).as("hof"))
      .as[(String, String)].collect()
    rows.foreach { case (n, h) => assert(n == h) }
    // null text -> "und" on both paths (the SQL CASE/ELSE contract)
    val nulls = Seq(Option.empty[String]).toDF("text").select(
      graft.ops.TextAnalyticsOps.langId(col("text")).as("native"),
      graft.ops.TextAnalyticsOps.langIdHof(col("text")).as("hof"))
      .as[(String, String)].collect()
    assert(nulls.head == (("und", "und")))
  }

  test("token-count kernels equal the split/regex formulations") {
    val df = Seq(
      "the quick brown fox",
      "  leading\tand   multiple\nwhitespace  runs ",
      "don't stop! 42 is a number, ok?",
      "ABC Mixed-CASE 123 ... (parens)",
      "único wörd ünïcode  nbsp", // NBSP is NOT Java \\s
      "emoji 😀 pair", // astral code point counts once
      "").toDF("text")
    import graft.ops.TextAnalyticsOps._
    val rows = df.select(
      wsTokenCount(col("text")).as("wn"), wsTokenCountHof(col("text")).as("wh"),
      bpeishTokenCount(col("text")).as("bn"), bpeishTokenCountHof(col("text")).as("bh"))
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (wn, wh, bn, bh) =>
      assert(wn == wh, s"ws: $wn != $wh")
      assert(bn == bh, s"bpe: $bn != $bh")
    }
  }

  test("BpeTokenCount applies the frozen merge table with the documented " +
      "schedule (min-rank pair, leftmost occurrence, one merge per step)") {
    // independent reference implementation (immutable-list style, no
    // sharing with the kernel's ArrayList loop or its memo)
    val rank: Map[(String, String), Int] =
      VectorMath.BpeMerges.zipWithIndex.toMap
    def refWord(w: String): Int = {
      var syms: List[String] = w.map(_.toString).toList
      var halt = false
      while (!halt && syms.size > 1) {
        val pairs = syms.zip(syms.tail).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (pairs.isEmpty) halt = true
        else {
          val (_, at) = pairs.min // min rank, then leftmost index
          syms = syms.take(at) ::: (syms(at) + syms(at + 1)) :: syms.drop(at + 2)
        }
      }
      syms.size
    }
    def refText(s: String): Long =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).map(refWord(_).toLong).sum
    // pinned segmentations: frequent corpus words collapse to ONE
    // token, rare/unseen words stay multi-token — the property that
    // makes these counts meaningful (the bpeish heuristic counts both
    // cases identically as one letter-run)
    assert(refWord("customer") == 1 && refWord("vector") == 1)
    assert(refWord("group") == 5 && refWord("the") == 3)
    assert(refWord("tokenizer") > 1)
    // kernel == reference on corpus-like text, edge shapes, and fuzz
    val fixed = Seq(
      "the customer hash join order merge",
      "  leading\tand   multiple\nwhitespace  runs ",
      "UPPER Case Vector CUSTOMER", // lowered before segmenting
      "unseen tokenizer wordshapes zzz qqq",
      "parthashrow partpart rowrow", // concatenations re-segment
      "")
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdehjlmnorstuvw " // merge-table letters + space
    val fuzz = Seq.fill(200)(
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = (fixed ++ fuzz).toDF("text")
    val rows = df.select(col("text"),
      graft.ops.TextAnalyticsOps.bpeTokenCount(col("text")).as("n"))
      .as[(String, Long)].collect()
    rows.foreach { case (t, n) => assert(n == refText(t), s"'$t': $n") }
    // null propagates like every unary kernel
    val nulls = Seq[String](null).toDF("text")
      .select(graft.ops.TextAnalyticsOps.bpeTokenCount(col("text"))).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("BpeEncode emits the actual token stream of the documented " +
      "schedule; n_tokens agrees with BpeTokenCount on every input") {
    // independent piece-level reference (immutable-list style, no
    // sharing with the kernel loop or either memo)
    val rank: Map[(String, String), Int] =
      VectorMath.BpeMerges.zipWithIndex.toMap
    def refPieces(w: String): List[String] = {
      var syms: List[String] = w.map(_.toString).toList
      var halt = false
      while (!halt && syms.size > 1) {
        val pairs = syms.zip(syms.tail).zipWithIndex
          .flatMap { case (p, i) => rank.get(p).map(r => (r, i)) }
        if (pairs.isEmpty) halt = true
        else {
          val (_, at) = pairs.min
          syms = syms.take(at) ::: (syms(at) + syms(at + 1)) :: syms.drop(at + 2)
        }
      }
      syms
    }
    def refEnc(s: String): String =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(refPieces(_).mkString(" ")).mkString(" ")
    // hand-pinned streams (derivable from the table by eye):
    // "join" merges (i,n) -> (j,o) -> (jo,in); "zzq" never merges
    assert(refEnc("join zzq") == "join z z q")
    val fixed = Seq(
      "the customer hash join order merge",
      "UPPER Case Vector CUSTOMER",
      "unseen tokenizer wordshapes zzz qqq",
      "  ragged\twhitespace  ", "")
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdehjlmnorstuvw "
    val fuzz = Seq.fill(150)(
      Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val rows = (fixed ++ fuzz).toDF("text")
      .select(col("text"), native.bpe_encode(lower(col("text"))).as("e"),
        graft.ops.TextAnalyticsOps.bpeTokenCount(col("text")).as("cnt"))
      .select(col("text"), col("e.n_tokens"), col("e.enc"), col("cnt"))
      .as[(String, Long, String, Long)].collect()
    rows.foreach { case (t, n, enc, cnt) =>
      assert(enc == refEnc(t), s"'$t': '$enc'")
      assert(n == cnt, s"'$t': encode count $n != count kernel $cnt")
      assert(n == (if (enc.isEmpty) 0 else enc.split(" ").length),
        s"'$t': n_tokens inconsistent with the stream itself")
    }
  }

  test("ProjectedDist is bit-identical to the composed column math") {
    val df = Seq(
      (40.1, -73.9, 95.0, 12.5, 40.6, -73.2, 270.0, 3.75),
      (40.0, -74.0, 0.0, 0.0, 40.0, -74.0, 0.0, 0.0), // zero distance
      (-33.9, 151.2, 45.0, 100.0, -37.8, 144.9, 300.0, 55.0))
      .toDF("lat1", "lng1", "trak1", "d1", "lat2", "lng2", "trak2", "d2")
    val p1 = GeoOps.destinationPoint(col("lat1"), col("lng1"), col("trak1"), col("d1"))
    val p2 = GeoOps.destinationPoint(col("lat2"), col("lng2"), col("trak2"), col("d2"))
    val rows = df.select(
      native.projected_dist(col("lat1"), col("lng1"), col("trak1"), col("d1"),
        col("lat2"), col("lng2"), col("trak2"), col("d2")).as("fused"),
      GeoOps.haversineKm(p1.getField("lat"), p1.getField("lng"),
        p2.getField("lat"), p2.getField("lng")).as("composed"))
      .as[(Double, Double)].collect()
    rows.foreach { case (f, c) => assert(f == c, s"fused=$f composed=$c") }
  }

  test("GramHashes portable family equals the composed gram+md5-60 " +
      "columns (values, not a count-equivalence)") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b a b a b a", // repeated grams kept in order
      "one two", // fewer than n -> empty
      "  spaced\tout\ntokens  here ",
      "").toDF("text")
    val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val composed = df.select(
      when(size(ws) >= 3,
        transform(sequence(lit(0), size(ws) - 3),
          i => conv(substring(md5(concat_ws(" ",
            element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3))),
            1, 15), 16, 10).cast("long")))
        .otherwise(array().cast("array<long>")).as("h"))
      .as[Seq[Long]].collect()
    val nativeH = df.select(native.gram_hashes(col("text"), 3, portable = true).as("h"))
      .as[Seq[Long]].collect()
    assert(composed.toSeq == nativeH.toSeq)
  }

  test("GopherStats fused kernel: quality fields bit-equal QualityStats, " +
      "top_c equals the composed distinct/filter argmax") {
    import spark.implicits._
    val df = Seq(
      "a b a c a b", // a:3
      "the tie the breaker the", // stopwords + dominance together
      "solo",
      "único wörd ünïcode único",
      "  ", "").toDF("text")
    val qs = df.select(native.quality_stats(col("text")).as("q"))
      .select("q.n_words", "q.n_nonws", "q.n_stop", "q.n_alpha", "q.n_chars")
      .as[(Long, Long, Long, Long, Long)].collect()
    val gs = df.select(native.gopher_stats(col("text")).as("g"))
      .select("g.n_words", "g.n_nonws", "g.n_stop", "g.n_alpha", "g.n_chars", "g.top_c")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    qs.zip(gs).foreach { case (q, g) =>
      assert((g._1, g._2, g._3, g._4, g._5) == q, s"quality fields: $g vs $q")
    }
    val ws = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val composedTop = df.select(coalesce(
      array_max(transform(array_distinct(ws),
        w => size(filter(ws, x => x === w)).cast("long"))), lit(0L)).as("t"))
      .as[Long].collect()
    assert(gs.map(_._6).toSeq == composedTop.toSeq)
    assert(gs.map(_._6).toSeq == Seq(3L, 3L, 1L, 2L, 0L, 0L))
  }

  test("WinnowStats kernel handles the edge shapes: empty, sub-gram, " +
      "single-window, tie runs — matching a direct per-window scan") {
    import spark.implicits._
    val k = graft.queries.PipelineQueries.WinnowK
    val w = graft.queries.PipelineQueries.WinnowW
    def ref(text: String): (Long, Long, Long) = {
      val words = text.split("\\s+").filter(_.nonEmpty)
      val grams = words.sliding(k).filter(_.length == k).map(_.mkString(" ")).toArray
      val h = grams.map { g =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8"))
        var v = 0L; (0 until 8).foreach(b => v = (v << 8) | (d(b) & 0xFFL))
        (v >>> 4) & ((1L << 40) - 1)
      }
      val sel = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
      if (h.nonEmpty) {
        val ends = if (h.length < w) Seq(h.length - 1) else (w - 1) until h.length
        ends.foreach { e =>
          var best = math.max(0, e - w + 1)
          (math.max(0, e - w + 1) to e).foreach(p => if (h(p) <= h(best)) best = p)
          sel += ((best, h(best)))
        }
      }
      (grams.length.toLong, sel.size.toLong, sel.toSeq.map(_._2).sum)
    }
    val texts = Seq("", " ", "one two", "exactly three words",
      "same same same same same same same same", // all-tie run
      "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      (1 to 50).map(i => s"t${i % 7}").mkString(" ")) // periodic grams
    val got = texts.toDF("text")
      .select(native.winnow_stats(col("text"), k, w).as("s"))
      .select("s.n_grams", "s.n_fp", "s.fp_sum")
      .as[(Long, Long, Long)].collect()
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ref(t), s"'$t': kernel $g != reference ${ref(t)}")
    }
  }

  test("CharEntropy: known values (degenerate 0, uniform ln k), a " +
      "plain-Scala recompute on corpus docs, surrogate pairs count " +
      "once, and the projection plans zero exchanges") {
    def ent(text: String): (Long, Long, Long) = {
      val cps = text.codePoints().toArray
      val n = cps.length.toLong
      val counts = cps.groupBy(identity).view.mapValues(_.length).toMap
      val e = counts.values.map(c => math.floor(
        (c.toDouble / n.toDouble) * StrictMath.log(n.toDouble / c.toDouble)
          * 1000000.0).toLong).sum
      (n, counts.size.toLong, if (n > 0) e else 0L)
    }
    val texts = Seq("aaaaaaaa", "abcdefgh", "", "a", "ab ab ab",
      "😀😀x", // two identical surrogate pairs + x
      (1 to 40).map(i => s"w$i").mkString(" "))
    val got = texts.toDF("text")
      .select(native.char_entropy(col("text")).as("e"))
      .select("e.n_cp", "e.n_distinct", "e.entropy_micro")
      .as[(Long, Long, Long)].collect()
    texts.zip(got).foreach { case (t, g) =>
      assert(g == ent(t), s"'$t': kernel $g != reference ${ent(t)}")
    }
    assert(got(0)._3 == 0L, "single-character text has zero entropy")
    // uniform 8 distinct chars: entropy = ln 8 up to the per-class floor
    assert(math.abs(got(1)._3 - math.floor(StrictMath.log(8.0) * 1000000.0)) <= 8,
      s"uniform text entropy ${got(1)._3} != ~ln(8) micro")
    assert(got(5)._1 == 3L && got(5)._2 == 2L,
      "a surrogate pair must count as ONE code point")
    // corpus recompute + plan shape
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = graft.queries.PipelineQueries.textEntropy(spark, "/root/testdata/sf0.001")
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
      "textEntropy must be a pure row-local projection")
    val byId = q.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      assert(byId(r.getLong(0)) == ent(r.getString(1)), s"doc ${r.getLong(0)}")
    }
  }

  test("winnowCollide quarantines a packed-position-overflow document " +
      "(> 2^20 grams) as a rejection instead of a task kill; " +
      "winnowFingerprints fails loud on the same input but accepts " +
      "exactly 2^20 grams (the relational twin's domain boundary)") {
    val giant = ("x " * ((1 << 20) + 4)).trim
    intercept[IllegalArgumentException] {
      graft.functions.VectorMath.winnowFingerprints(giant, 3, 4)
    }
    val r = graft.functions.VectorMath.winnowCollide(giant, 3, 4, Array(1L, 2L))
    assert(r.getLong(0) == -1L && r.getLong(1) == Long.MaxValue,
      s"poison-pill doc must quarantine: (${r.getLong(0)}, ${r.getLong(1)})")
    // boundary: m == 2^20 grams means max position 2^20 - 1, which
    // still fits the 20-bit field — the kernel must compute, exactly
    // where the relational winnowSelection guard stays silent (it
    // raises only when a position >= 2^20 APPEARS, i.e. m > 2^20)
    val atBoundary = ("x " * ((1 << 20) + 2)).trim // m = 2^20 at k=3
    val fps = graft.functions.VectorMath.winnowFingerprints(atBoundary, 3, 4)
    assert(fps.numElements() > 0, "m == 2^20 must be inside the domain")
  }
}
