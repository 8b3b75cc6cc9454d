package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PipelineQueriesSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("dedupClusters is deterministic: each call converges its own " +
      "fixpoint to the same clusters") {
    def rows() = PipelineQueries.dedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = rows()
    assert(a.nonEmpty)
    assert(rows() == a, "a second call converged differently")
  }

  test("dedupSurvivors reads the shared frame and stays consistent " +
      "with dedupClusters: every survivor belongs to a multi-doc cluster") {
    val clusters = PipelineQueries.dedupClusters(spark, sfDir)
    val survivors = PipelineQueries.dedupSurvivors(spark, sfDir)
    val multi = clusters.groupBy("cluster")
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    val joined = survivors.join(multi, Seq("cluster"), "left")
    assert(joined.filter(col("n").isNull).count() == 0,
      "survivor emitted for a cluster that is not multi-doc")
    assert(survivors.filter(col("n_docs") < 2).count() == 0)
    // the survivor is a member of its own cluster
    val member = survivors.join(clusters,
      survivors("survivor") === clusters("doc_id") &&
        survivors("cluster") === clusters("cluster"))
    assert(member.count() == survivors.count())
  }

  test("textChunks partitions every document exactly: chunk ids " +
      "contiguous from 0, full chunks except the ragged last, token " +
      "sums equal the doc's word count, and the plan has no Exchange") {
    import graft.ops.TextAnalyticsOps
    val k = PipelineQueries.ChunkTokens
    val chunks = PipelineQueries.textChunks(spark, sfDir)
    val perDoc = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"), sum("n_tokens").as("tok_sum"),
      max("chunk_id").as("max_id"), min("chunk_id").as("min_id"),
      sum(when(col("n_tokens") === k, 1L).otherwise(0L)).as("full"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        TextAnalyticsOps.wsTokenCount(col("text")).as("n_tokens"))
    val joined = perDoc.join(docs, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nc, tokSum, maxId, minId, full, tok) = (r.getAs[Long]("n_chunks"),
        r.getAs[Long]("tok_sum"), r.getAs[Long]("max_id"),
        r.getAs[Long]("min_id"), r.getAs[Long]("full"),
        r.getAs[Long]("n_tokens"))
      assert(tokSum == tok, s"chunk tokens must reassemble the doc: $r")
      assert(minId == 0 && maxId == nc - 1, s"ids must be 0..n-1: $r")
      assert(nc == (tok + k - 1) / k, s"ceil(tok/k) chunks: $r")
      assert(full >= nc - 1, s"only the last chunk may be ragged: $r")
    }
    // row-local split + explode: a shuffle here would be a planner bug
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "textChunks must not shuffle")
  }

  test("decontaminate flags exactly the training docs sharing a " +
      "DecontN-gram with the holdout, with exact distinct-overlap counts " +
      "(recomputed in Scala from raw text)") {
    val n = PipelineQueries.DecontN
    val h = PipelineQueries.DecontHoldout
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(text: String): Set[String] = {
      val w = text.split("\\s+").filter(_.nonEmpty)
      if (w.length < n) Set.empty
      else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % h == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % h != 0)
      .map { case (id, t) => id -> (grams(t) & bench).size.toLong }
      .filter(_._2 > 0).toMap
    val got = PipelineQueries.decontaminate(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(got.nonEmpty, "holdout shares no n-gram with training docs")
    assert(got == expected)
  }

  test("decontaminateRatio audits every training doc with >=1 gram: " +
      "denominators are distinct-gram counts, numerators agree with " +
      "decontaminate, and the drop verdict is the threshold compare " +
      "(recomputed in Scala from raw text)") {
    val n = PipelineQueries.DecontN
    val h = PipelineQueries.DecontHoldout
    val thr = PipelineQueries.DecontRatioThreshold
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(text: String): Set[String] = {
      val w = text.split("\\s+").filter(_.nonEmpty)
      if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % h == 0).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(_._1 % h != 0)
      .map { case (id, t) => val g = grams(t); id -> (g.size.toLong, (g & bench).size.toLong) }
      .filter(_._2._1 > 0).toMap
    val got = PipelineQueries.decontaminateRatio(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hits"),
          r.getAs[Boolean]("drop_doc")))).toMap
    assert(got.keySet == expected.keySet,
      "audit table must cover exactly the training docs with >=1 gram")
    got.foreach { case (id, (ng, nh, drop)) =>
      val (eng, enh) = expected(id)
      assert((ng, nh) == ((eng, enh)), s"doc $id")
      assert(drop == (nh.toDouble / ng >= thr), s"verdict for doc $id")
    }
    // clean docs MUST appear (n_hits = 0) — the LEFT-join contract
    assert(got.values.exists(_._2 == 0L), "no clean doc in the audit")
  }

  test("textClassify scores every doc with the exact hashed-linear " +
      "model (recomputed in Scala) and plans ZERO exchanges") {
    val dim = PipelineQueries.ClassifyDim
    val mult = PipelineQueries.ClassifyMult
    val mod = PipelineQueries.ClassifyMod
    val hex = PipelineQueries.ClassifyHexDigits
    def weight(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val j = java.lang.Long.parseLong(h.take(hex), 16) % dim
      j * mult % mod - 510L
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> ((ws.length.toLong, ws.map(weight).sum))
    }.toMap
    val q = PipelineQueries.textClassify(spark, sfDir)
    val got = q.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_words"), r.getAs[Long]("score_sum"),
        r.getAs[Boolean]("keep")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (nw, s, keep)) =>
      assert((nw, s) == expected(id), s"doc $id")
      assert(keep == (s > 0), s"keep verdict for doc $id")
    }
    // frozen-model apply is one row-local fold: any Exchange is a bug
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "textClassify must not shuffle")
  }

  test("textPplBuckets is a monotone partition of the scored corpus: " +
      "head < middle < tail by score, every scored doc bucketed, " +
      "buckets within one tie-run of n/3") {
    val scored = PipelineQueries.textUnigramNll(spark, sfDir).count()
    val rows = PipelineQueries.textPplBuckets(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("mean_nll_micro"), r.getAs[String]("ppl_bucket")))
    assert(rows.length.toLong == scored, "every scored doc gets a bucket")
    val byBucket = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max < byBucket("middle").min)
    assert(byBucket("middle").max < byBucket("tail").min)
    // interpolated tertiles: sizes are n/3 up to the width of a tie run
    val n = rows.length
    val maxTie = rows.groupBy(_._1).values.map(_.size).max
    byBucket.values.foreach(v =>
      assert(math.abs(v.size - n / 3.0) <= maxTie + 1,
        s"bucket sizes ${byBucket.view.mapValues(_.size).toMap}"))
  }

  test("bpeFertility rolls the per-doc token counts up by language " +
      "exactly (recomputed from the gated textTokensBpe frame)") {
    val perDoc = PipelineQueries.textTokensBpe(spark, sfDir)
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "lang"), "doc_id")
      .collect()
      .map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("ws_tokens"), r.getAs[Long]("bpe_tokens")))
    val expected = perDoc.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum)
    }.toMap
    val got = PipelineQueries.bpeFertility(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("ws_tokens"),
          r.getAs[Long]("bpe_tokens"), r.getAs[Double]("fertility")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (lang, (nd, ws, bpe, fert)) =>
      assert((nd, ws, bpe) == expected(lang), s"lang $lang")
      // subword splitting can only grow the token count
      assert(fert >= 1.0, s"fertility < 1 for $lang")
      assert(math.abs(fert - bpe.toDouble / ws) < 1e-6)
    }
  }

  test("corpusReport agrees with the independently gated per-doc " +
      "frames it composes (quality, langid, classifier, token counts)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "lang")
    val joined = docs
      .join(PipelineQueries.textTokens(spark, sfDir)
        .select("doc_id", "ws_tokens"), "doc_id")
      .join(PipelineQueries.textQuality(spark, sfDir)
        .select("doc_id", "score"), "doc_id")
      .join(PipelineQueries.textLangId(spark, sfDir), "doc_id")
      .join(PipelineQueries.textClassify(spark, sfDir)
        .select("doc_id", "keep"), "doc_id")
      .collect()
    val expected = joined.groupBy(_.getAs[String]("source")).view.mapValues { rs =>
      (rs.length.toLong,
        rs.map(_.getAs[Long]("ws_tokens")).sum,
        rs.flatMap(r => Option(r.getAs[java.lang.Double]("score")))
          .map(s => math.floor(s * 1e6).toLong).sum,
        rs.count(r => r.getAs[String]("lang_pred") != r.getAs[String]("lang")).toLong,
        rs.count(_.getAs[Boolean]("keep")).toLong)
    }.toMap
    val got = PipelineQueries.corpusReport(spark, sfDir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("q_micro_sum"), r.getAs[Long]("n_lang_mismatch"),
          r.getAs[Long]("n_keep")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (src, v) => assert(v == expected(src), s"source $src") }
  }

  test("sourceOverlap counts exactly the distinct shared n-grams per " +
      "source pair with their Jaccard (recomputed in Scala from raw text)") {
    val n = PipelineQueries.DecontN
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def grams(text: String): Set[String] = {
      val w = text.split("\\s+").filter(_.nonEmpty)
      if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val bySource = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => grams(d._2)).toSet).toMap
    val expected = (for {
      (s1, g1) <- bySource; (s2, g2) <- bySource if s1 < s2
      shared = (g1 & g2).size if shared > 0
    } yield (s1, s2) -> ((shared.toLong,
      shared.toDouble / (g1.size + g2.size - shared)))).toMap
    val got = PipelineQueries.sourceOverlap(spark, sfDir).collect()
      .map(r => (r.getAs[String]("src1"), r.getAs[String]("src2")) ->
        ((r.getAs[Long]("shared_grams"), r.getAs[Double]("jaccard_r")))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (sh, j)) =>
      assert(sh == expected(k)._1, s"pair $k")
      assert(math.abs(j - expected(k)._2) < 1e-5, s"jaccard $k")
    }
  }

  test("eventAnomalies flags exactly the >3-sigma events per type " +
      "(moments recomputed in Scala with exact decimal sums)") {
    val k = AnalyticsQueries.AnomalySigma
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val stats = ev.groupBy(_._2).view.mapValues { rs =>
      val dec = rs.map(r => BigDecimal(r._3).setScale(2, BigDecimal.RoundingMode.HALF_EVEN))
      val n = rs.length
      val m = (dec.sum.toDouble) / n
      val msq = (dec.map(d => d * d).sum.toDouble) / n
      (m, math.sqrt(msq - m * m))
    }.toMap
    val expected = ev.filter { case (_, t, v) =>
      val (m, sd) = stats(t); math.abs(v - m) > k * sd
    }.map { case (id, t, v) =>
      val (m, sd) = stats(t); id -> ((t, v, (v - m) / sd))
    }.toMap
    val got = AnalyticsQueries.eventAnomalies(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("event_type"), r.getAs[Double]("value"),
          r.getAs[Double]("z_r")))).toMap
    assert(got.nonEmpty, "no anomalies at 3 sigma — fixture degenerate?")
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (t, v, z)) =>
      assert(t == expected(id)._1 && v == expected(id)._2, s"event $id")
      assert(math.abs(z - expected(id)._3) < 1e-3, s"z for event $id")
      assert(math.abs(z) > k, s"under-threshold z escaped the filter: $id")
    }
  }

  test("eventFunnel and weeklyRetention match independent Scala " +
      "recomputations of the windowed funnel and week-bucket cohorts") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id", "event_type", "ts").collect()
      .map { r =>
        val t = r.getAs[java.time.LocalDateTime]("ts")
          .toInstant(java.time.ZoneOffset.UTC)
        // full microseconds: ms truncation could flip a strict > at
        // a window edge the engine decides at us precision
        (r.getLong(0), r.getString(1),
          t.getEpochSecond * 1000000L + t.getNano / 1000L)
      }
    val w = AnalyticsQueries.FunnelWindowSec * 1000000L
    val byUser = ev.groupBy(_._1)
    def firstAfter(u: Long, tpe: String, lo: Long, hi: Long): Option[Long] =
      byUser(u).filter(e => e._2 == tpe && e._3 > lo && e._3 <= hi)
        .map(_._3).minOption
    val views = byUser.keys.flatMap { u =>
      byUser(u).filter(_._2 == "view").map(_._3).minOption.map(u -> _)
    }.toMap
    val clicks = views.flatMap { case (u, v) =>
      firstAfter(u, "click", v, v + w).map(u -> _) }
    val buys = clicks.flatMap { case (u, c) =>
      firstAfter(u, "purchase", c, c + w).map(u -> _) }
    val gotF = AnalyticsQueries.eventFunnel(spark, sfDir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_users")).toMap
    assert(gotF == Map("view" -> views.size.toLong,
      "click" -> clicks.size.toLong, "purchase" -> buys.size.toLong))
    assert(clicks.size < views.size && buys.size < clicks.size,
      "attribution window produced no drop-off — fixture degenerate?")
    // retention: distinct (user, epoch-week), retained iff active in w+1
    val weeks = ev.map(e => (e._1, e._3 / 1000000L / 604800)).distinct
    val wSet = weeks.toSet
    val expR = weeks.groupBy(_._2).view.mapValues { us =>
      (us.length.toLong, us.count(u => wSet.contains((u._1, u._2 + 1))).toLong)
    }.toMap
    val gotR = AnalyticsQueries.weeklyRetention(spark, sfDir).collect()
      .map(r => r.getAs[Long]("week") ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("n_retained")))).toMap
    assert(gotR == expR)
  }

  test("textBm25 ranks the exact Okapi top-k per embedded query " +
      "(recomputed in Scala from raw text)") {
    val k1 = PipelineQueries.Bm25K1
    val k1p1 = PipelineQueries.Bm25K1Plus1
    val b = PipelineQueries.Bm25B
    val omb = PipelineQueries.Bm25OneMinusB
    val topK = PipelineQueries.Bm25TopK
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty)))
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val df = docs.flatMap(_._2.distinct).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val expected = PipelineQueries.Bm25Queries.flatMap { case (qid, terms) =>
      val scored = docs.flatMap { case (id, ws) =>
        val dl = ws.length.toLong
        val contribs = terms.flatMap { t =>
          val tf = ws.count(_ == t).toLong
          if (tf == 0) None else Some {
            val idf = math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
            val tfn = (tf * k1p1) / (tf + k1 * (omb + b * dl / avgdl))
            math.floor(idf * tfn * 1e9).toLong
          }
        }
        if (contribs.isEmpty) None else Some(id -> contribs.sum)
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(topK).zipWithIndex
        .map { case ((id, s), i) => (qid, i + 1, id) -> s }
    }.toMap
    val got = PipelineQueries.textBm25(spark, sfDir).collect()
      .map(r => (r.getAs[String]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id")) -> r.getAs[Long]("score_nano")).toMap
    assert(got.keySet == expected.keySet,
      "top-k membership/order must match the reference ranking")
    got.foreach { case (key, s) => assert(s == expected(key), s"score at $key") }
    // no query may come back empty on this corpus
    assert(PipelineQueries.Bm25Queries.map(_._1).toSet ==
      got.keySet.map(_._1))
  }

  test("mixWeights: weights are positive, sum to ~1, and order by " +
      "token count with the sqrt temperature compressing ratios") {
    val rows = PipelineQueries.mixWeights(spark, sfDir)
      .select("source", "n_docs", "n_tokens", "weight").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val wSum = rows.map(_._4).sum
    assert(math.abs(wSum - 1.0) < rows.length * 1e-6,
      s"weights must sum to 1 up to rounding, got $wSum")
    // per-source counts match a direct recompute
    val direct = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(graft.ops.TextAnalyticsOps.wsTokenCount(col("text"))).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { case (src, nd, nt, _) => assert(direct(src) == ((nd, nt))) }
    // monotone in tokens; sqrt temperature: weight ratio ≤ token ratio
    for (a <- rows; b <- rows if a._3 > b._3) {
      assert(a._4 >= b._4, s"more tokens must not weigh less: $a vs $b")
      assert(a._4 / b._4 <= a._3.toDouble / b._3 + 1e-3,
        s"sqrt temperature must compress the ratio: $a vs $b")
    }
  }

  test("mixSample realizes the temperature mixture: deterministic " +
      "md5-thresholded keep, over-represented sources downsampled") {
    val kept = PipelineQueries.mixSample(spark, sfDir)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.ops.TextAnalyticsOps.wsTokenCount(col("text")).as("t"),
        conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long").as("h24"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty && kept.size < docs.length,
      s"sampling must drop something (${kept.size}/${docs.length}) — " +
        "an identity output would make the query vacuous")
    // independent threshold recompute: rate = target share / natural share
    val byt = docs.groupBy(_._2).map { case (s, ds) => s -> ds.map(_._3).sum }
    val scaled = byt.map { case (s, t) =>
      s -> math.floor(math.sqrt(t.toDouble) * PipelineQueries.MixScale).toLong }
    val (totS, totT) = (scaled.values.sum, byt.values.sum)
    val thresh = byt.map { case (s, t) =>
      s -> math.min(PipelineQueries.MixHashSpace,
        math.floor((scaled(s).toDouble / totS) / (t.toDouble / totT) *
          PipelineQueries.MixHashSpace.toDouble).toLong) }
    docs.foreach { case (id, s, _, h24) =>
      assert(kept.contains(id) == (h24 < thresh(s)),
        s"doc $id (source $s, h24 $h24, thresh ${thresh(s)})")
    }
    // capped sources (at/below target) keep every document
    val full = thresh.filter(_._2 == PipelineQueries.MixHashSpace).keySet
    assert(full.nonEmpty, "some source should be at/below its target share")
    docs.filter(d => full.contains(d._2))
      .foreach(d => assert(kept.contains(d._1)))
  }

  test("splitAssign is the pure md5-bucket split: assignment matches a " +
      "JVM MessageDigest recompute, covers every doc, and never shuffles") {
    val df = PipelineQueries.splitAssign(spark, sfDir)
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = df.select("doc_id", "bucket", "split").collect()
    assert(rows.length == texts.size, "split must cover every document")
    rows.foreach { r =>
      val hex = md.digest(texts(r.getLong(0)).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val bucket = java.lang.Long.parseLong(
        hex.take(PipelineQueries.SplitHexDigits), 16) % 100
      val split = if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
      assert(r.getAs[Long]("bucket") == bucket && r.getString(2) == split, s"$r")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "splitAssign must be row-local")
  }

  test("textScrub redacts in place: counts and redacted text match a " +
      "Scala recompute, multiplicity/position preserved, zero Exchange") {
    val bl = PipelineQueries.ScrubBlocklist.toSet
    val df = PipelineQueries.textScrub(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = df.select("doc_id", "n_redacted", "clean_hash").collect()
    assert(rows.length == docs.size)
    var totalRedacted = 0L
    rows.foreach { r =>
      val w = docs(r.getLong(0)).split("\\s+").filter(_.nonEmpty)
      val expected = w.map(t => if (bl(t)) PipelineQueries.ScrubToken else t)
        .mkString(" ")
      val hash = md.digest(expected.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getLong(1) == w.count(bl), s"$r")
      assert(r.getString(2) == hash, s"$r")
      totalRedacted += r.getLong(1)
    }
    assert(totalRedacted > 0, "blocklist must have real effect on the corpus")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "textScrub must be row-local")
  }

  test("shuffleShard is the deterministic epoch shuffle: shard and " +
      "position match a JVM recompute, positions are contiguous per " +
      "shard, and the plan never funnels to one partition") {
    val df = PipelineQueries.shuffleShard(spark, sfDir)
    df.collect()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = docs.toSeq
      .map { case (id, t) =>
        val h = hex(PipelineQueries.ShuffleSeed + "|" + t)
        val shard = java.lang.Long.parseLong(
          h.take(PipelineQueries.SplitHexDigits), 16) %
          PipelineQueries.ShuffleShards
        (id, h, shard)
      }
      .groupBy(_._3).flatMap { case (shard, members) =>
        members.sortBy(m => (m._2, m._1)).zipWithIndex.map {
          case ((id, _, _), i) => id -> ((shard, i + 1L))
        }
      }.toMap
    val got = df.select("doc_id", "shard", "pos").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == docs.length && got == expected)
    // one hash exchange on shard; a single-partition sort would be the
    // global-shuffle anti-pattern this operator exists to avoid
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("SinglePartition"))
    assert(plan.contains("hashpartitioning(shard"))
  }

  test("packSequences plans one hash exchange on source and no global " +
      "single-partition sort") {
    val df = PipelineQueries.packSequences(spark, sfDir)
    df.collect()
    // AQE's toString appends the pre-adaptive "Initial Plan" — guard
    // only the final executed section
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("SinglePartition"),
      "packing must never funnel to one partition")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1 && plan.contains("hashpartitioning(source"),
      s"expected exactly one hash exchange on source:\n$plan")
  }

  test("bpePairStats counts corpus-weighted adjacent char pairs " +
      "exactly, and at sf0.01 reproduces the frozen merge table's " +
      "first rules") {
    // independent Scala recompute from the raw parquet
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val vocab = texts.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pc = scala.collection.mutable.Map[(String, String), Long]()
    vocab.foreach { case (w, f) =>
      w.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p.substring(0, 1), p.substring(1))
        pc(k) = pc.getOrElse(k, 0L) + f
      }
    }
    val expected = pc.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }
      .take(PipelineQueries.BpePairTopK)
      .map { case ((a, b), c) => (a, b, c) }
    val got = PipelineQueries.bpePairStats(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // provenance check: the learner that froze BpeMerges ran on
    // sf0.01 — its first rules are this query's top pairs there
    val top = PipelineQueries.bpePairStats(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(top.take(5) ==
      graft.functions.VectorMath.BpeMerges.take(5).toSeq,
      s"sf0.01 top pairs diverge from the frozen merge table: $top")
  }

  test("bpeLearn reproduces the frozen BpeMerges table at sf0.01 " +
      "rule-for-rule (the corpus the table was learned from)") {
    val learned = PipelineQueries.bpeLearn(spark, "/root/testdata/sf0.01")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(learned == graft.functions.VectorMath.BpeMerges.toSeq,
      s"learned merge table diverges from the frozen one: " +
        s"${learned.zip(graft.functions.VectorMath.BpeMerges)
          .find(p => p._1 != p._2)}")
  }

  test("bpeLearn matches an independent reference learner on a corpus " +
      "the frozen table was NOT learned from (sf0.001)") {
    // Sennrich reference learner, immutable-list form: most frequent
    // corpus-weighted adjacent pair, ties lexicographically smallest,
    // left-to-right non-overlapping merge of all occurrences
    def pairCounts(vocab: Map[List[String], Long]): Map[(String, String), Long] =
      vocab.toSeq.flatMap { case (ss, f) =>
        ss.zip(ss.drop(1)).map(p => p -> f)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    def applyMerge(ss: List[String], a: String, b: String): List[String] =
      ss.foldLeft(List.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == a && t == b)
          acc.init :+ (a + b)
        else acc :+ t
      }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    var vocab = docs.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(s => s).map { case (w, xs) =>
        w.split("").filter(_.nonEmpty).toList -> xs.length.toLong
      }
    val expect = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (expect.size < PipelineQueries.BpeLearnK) {
      val pc = pairCounts(vocab)
      assert(pc.nonEmpty, "fixture corpus merged out before K rules")
      val (a, b) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      expect += ((a, b))
      vocab = vocab.map { case (ss, f) => applyMerge(ss, a, b) -> f }
    }
    val learned = PipelineQueries.bpeLearn(spark, sfDir)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(learned == expect.toSeq,
      s"first divergence: ${learned.zip(expect).find(p => p._1 != p._2)}")
  }

  test("textUnigramNll scores docs with the exact quantized corpus " +
      "unigram model") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val words = docs.map { case (id, t) =>
      (id, t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    }
    val vocab = words.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val tot = vocab.values.sum.toDouble
    val model = vocab.map { case (w, f) =>
      w -> math.floor(-math.log(f / tot) * PipelineQueries.NllMicro).toLong
    }
    val expected = words.filter(_._2.nonEmpty).map { case (id, ws) =>
      (id, ws.size.toLong, ws.map(model).sum)
    }.toSet
    val got = PipelineQueries.textUnigramNll(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("textBigramNll scores docs with the exact add-one-smoothed " +
      "bigram model (V = distinct contexts); <2-word docs drop out") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairs = docs.map { case (id, t) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      (id, ws.zip(ws.drop(1)))
    }
    val bg = pairs.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val ca = bg.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = ca.size.toLong
    val model = bg.map { case (p, c) =>
      p -> math.floor(-math.log((c + 1).toDouble / (ca(p._1) + v).toDouble) *
        PipelineQueries.NllMicro).toLong
    }
    val expected = pairs.filter(_._2.nonEmpty).map { case (id, ps) =>
      (id, ps.size.toLong, ps.map(model).sum)
    }.toSet
    val got = PipelineQueries.textBigramNll(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("packSequences is the exact concatenate-then-cut packing: " +
      "recomputed per-source running cut matches seq_id for every doc") {
    val n = PipelineQueries.PackTokens
    val rows = PipelineQueries.packSequences(spark, sfDir)
      .select("source", "doc_id", "n_tokens", "seq_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._2).foreach { case (src, id, tok, seq) =>
        assert(seq == cum / n,
          s"doc $id in $src: expected seq ${cum / n}, got $seq")
        cum += tok
      }
    }
  }

  test("sampleDsir shifts the selection toward the target domain on the " +
      "driver corpus, and a planted two-vocabulary fixture ranks every " +
      "target-vocabulary doc above every off-domain doc") {
    import spark.implicits._
    // driver corpus: the selected slice must be measurably more
    // target-lang than the corpus base rate (the whole point of
    // importance resampling; languages differ in vocabulary, so the
    // hashed features carry the signal)
    val sfd = "/root/testdata/sf0.01"
    val sel = PipelineQueries.sampleDsir(spark, sfd)
      .select("doc_id").as[Long].collect().toSet
    val langs = spark.read.parquet(s"$sfd/documents.parquet")
      .select("doc_id", "lang").as[(Long, String)].collect()
    val base = langs.count(_._2 == PipelineQueries.DsirTargetLang).toDouble /
      langs.length
    val selFrac = langs.filter(l => sel(l._1))
      .count(_._2 == PipelineQueries.DsirTargetLang).toDouble / sel.size
    assert(selFrac > base + 0.1,
      f"selection must skew to target: selected $selFrac%.3f vs base $base%.3f")
    // planted fixture: vocab-A docs labeled target-lang, vocab-B docs
    // labeled other; every A doc must outrank every B doc
    def filler(tag: String, n: Int, salt: Int): String =
      (1 to n).map(i => s"$tag${(i * salt) % 17}").mkString(" ")
    val planted =
      (0L until 8L).map(i => (i, s"src0", "en", filler("tvoc", 30, i.toInt + 2))) ++
        (8L until 16L).map(i => (i, s"src0", "xx", filler("ovoc", 30, i.toInt + 2)))
    val dir = tempDir("dsir-fix")
    planted.toDF("doc_id", "source", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ranked = PipelineQueries.sampleDsir(spark, dir)
      .select("rank", "doc_id").as[(Long, Long)].collect().sortBy(_._1)
    val topA = ranked.take(8).map(_._2).toSet
    assert(topA == (0L until 8L).toSet,
      s"target-vocabulary docs must occupy the top ranks: ${ranked.toSeq}")
  }

  test("packEval is consistent with the packing it monitors: every " +
      "seq_id < its source's n_seqs, split counts equal a plain-Scala " +
      "boundary walk, and fill_r is total/(n_seqs*budget)") {
    import spark.implicits._
    val eval = PipelineQueries.packEval(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val packed = PipelineQueries.packSequences(spark, sfDir)
      .select("source", "doc_id", "n_tokens", "seq_id")
      .as[(String, Long, Long, Long)].collect()
    packed.groupBy(_._1).foreach { case (src, rows) =>
      val (nDocs, tot, nSeqs, nSplit, fill) = eval(src)
      assert(rows.length == nDocs && rows.map(_._3).sum == tot)
      assert(rows.forall(_._4 < nSeqs),
        s"$src: a doc was packed past the monitor's sequence count")
      // plain-Scala boundary walk over the same (doc_id) order
      val p = PipelineQueries.PackTokens
      var cum = 0L; var splits = 0L
      rows.sortBy(_._2).foreach { case (_, _, n, _) =>
        if (n > 0 && (cum / p) != ((cum + n - 1) / p)) splits += 1
        cum += n
      }
      assert(splits == nSplit, s"$src: split count $nSplit, walked $splits")
      val wantFill = BigDecimal(tot.toDouble / (nSeqs * p))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(fill - wantFill) < 1e-9, s"$src: fill $fill vs $wantFill")
    }
  }

  test("packEval edge shapes: a trailing zero-token doc at an exact " +
      "budget boundary and an all-empty source stay consistent with the " +
      "packer (no NPE, no seq_id past the monitor's count)") {
    import spark.implicits._
    val p = PipelineQueries.PackTokens
    // srcA: exactly one full sequence (p tokens) then an EMPTY doc —
    // the assignment formula places the empty doc at the next
    // sequence's boundary, so the packer emits 2 sequence ids;
    // srcB: only empty docs — one (empty) sequence, fill 0
    val docs = Seq(
      (0L, "srcA", ("w " * p).trim), (1L, "srcA", ""),
      (2L, "srcB", ""), (3L, "srcB", "   "))
    val dir = tempDir("pack-edge")
    docs.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val eval = PipelineQueries.packEval(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val packed = PipelineQueries.packSequences(spark, dir)
      .select("source", "seq_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(eval("srcA") == (2L, p.toLong, 2L, 0L, 0.5),
      s"srcA: ${eval("srcA")}")
    assert(eval("srcB") == (2L, 0L, 1L, 0L, 0.0), s"srcB: ${eval("srcB")}")
    eval.foreach { case (src, (_, _, nSeqs, _, _)) =>
      assert(packed(src) < nSeqs,
        s"$src: packer seq_id ${packed(src)} must stay below n_seqs $nSeqs")
    }
  }
}
