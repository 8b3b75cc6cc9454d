package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Gates for [[PipelineQueries.langIdNbOf]] — the trained char-bigram
 * Naive Bayes: a plain-Scala reference (no Spark expressions shared
 * with the query) re-trains the identical model and must agree
 * score-for-score, and a planted multilingual corpus with genuinely
 * distinct character statistics must classify 100% diagonally — the
 * real-learning proof the driver corpus (text-independent labels, the
 * classifyTrain convention) cannot provide.
 */
class LangIdNbSpec extends SparkSpec {

  /** Plain-Scala NB: same lowercased bigrams, same Laplace grid, same
   *  micro-nat floor quantization, same (score desc, lang asc)
   *  argmax. */
  private def ref(docs: Seq[(Long, String, String)])
      : Map[Long, (String, Long)] = {
    def bigrams(t: String): Seq[String] = {
      val s = t.toLowerCase
      if (s.length < 2) Nil else (0 until s.length - 1).map(i => s.substring(i, i + 2))
    }
    val counts = docs.flatMap { case (_, lang, t) =>
      bigrams(t).map(lang -> _)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocab = counts.keySet.map(_._2)
    val langs = counts.keySet.map(_._1)
    val totals = langs.map(l =>
      l -> counts.collect { case ((`l`, _), c) => c }.sum).toMap
    def lnMicro(num: Double, den: Double): Long =
      math.floor(math.log(num / den) * 1e6).toLong
    val lp = (for (l <- langs; b <- vocab) yield (l, b) ->
      lnMicro(counts.getOrElse((l, b), 0L) + 1.0,
        (totals(l) + vocab.size).toDouble)).toMap
    val docsL = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val prior = docsL.map { case (l, n) =>
      l -> lnMicro(n.toDouble, docs.size.toDouble) }
    docs.flatMap { case (id, _, t) =>
      val bs = bigrams(t)
      if (bs.isEmpty) None
      else {
        val scored = langs.toSeq.map(l =>
          l -> (prior(l) + bs.map(b => lp((l, b))).sum))
        val (bl, bs2) = scored.minBy { case (l, s) => (-s, l) }
        Some(id -> (bl, bs2))
      }
    }.toMap
  }

  private def run(docs: Seq[(Long, String, String)])
      : Map[Long, (String, Long)] = {
    import spark.implicits._
    PipelineQueries.langIdNbOf(docs.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
  }

  test("plain-Scala reference equality: model, priors, quantization, " +
      "and argmax all agree score-for-score (incl. ties and short docs)") {
    val docs = Seq(
      (1L, "aa", "the quick brown fox jumps"),
      (2L, "aa", "the lazy dog sleeps"),
      (3L, "bb", "zzyzx qqgh wvvk"),
      (4L, "bb", "zzqq wwvv kkhh"),
      (5L, "aa", "x"), // < 2 chars: no bigrams, drops out
      (6L, "cc", "the zz mixed qq signals"),
      (7L, "aa", "THE QUICK CASE test"), // lowercasing matters
      (8L, "bb", "the quick brown fox jumps")) // same text, other label
    val got = run(docs)
    val want = ref(docs)
    assert(got == want, s"got $got\nwant $want")
    assert(!got.contains(5L), "a 1-char doc has no bigrams and drops out")
    // the over-cap DISTRIBUTED route (driverCap = 0 forces the
    // relational apply) must produce the identical integers — the cap
    // switches plans, never results
    import spark.implicits._
    val relational = PipelineQueries
      .langIdNbOf(docs.toDF("doc_id", "lang", "text"), driverCap = 0L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(relational == want,
      s"relational route diverged: $relational\nwant $want")
  }

  test("a corpus with no bigrams has an empty model and labels nothing " +
      "on either arm") {
    import spark.implicits._
    val docs = Seq((1L, "aa", "x"), (2L, "bb", ""), (3L, "aa", "y"))
      .toDF("doc_id", "lang", "text")
    Seq(PipelineQueries.langIdNbOf(docs),
        PipelineQueries.langIdNbOf(docs, driverCap = 0L)).foreach { out =>
      assert(out.columns.toSeq == Seq("doc_id", "lang_pred", "score_micro"))
      assert(out.collect().isEmpty)
    }
  }

  test("REAL LEARNING on a planted multilingual corpus: distinct " +
      "character statistics classify 100% diagonally, unlike the " +
      "driver corpus's text-independent labels") {
    // three planted 'languages' with disjoint character inventories —
    // an exaggeration of real script/orthography differences
    def doc(alphabet: String, seed: Int, words: Int): String =
      (0 until words).map { w =>
        val len = 3 + (seed + w) % 4
        (0 until len).map(c =>
          alphabet((seed * 7 + w * 3 + c) % alphabet.length)).mkString
      }.mkString(" ")
    val docs = (0 until 30).map { i =>
      val (lang, ab) = (i % 3) match {
        case 0 => ("lat", "etaoinshr")
        case 1 => ("cyr", "оеаинтс")
        case _ => ("grk", "αειοντσ")
      }
      (i.toLong, lang, doc(ab, i, 6))
    }
    val got = run(docs)
    val byLang = docs.map(d => d._1 -> d._2).toMap
    assert(got.size == docs.size)
    got.foreach { case (id, (pred, _)) =>
      assert(pred == byLang(id),
        s"doc $id must classify as its true language: " +
          s"got $pred want ${byLang(id)}")
    }
    // and the reference agrees on the planted corpus too
    assert(got == ref(docs))
  }
}
