package graft.queries

import graft.SparkSpec

/** Driver-side tokenizer merge loop ([[PipelineQueries.bpeLearnOf]] /
  * [[PipelineQueries.wordpieceLearnOf]] under
  * [[PipelineQueries.TokenizerDriverVocab]], the dict cap of
  * [[graft.ops.DriverGate]]) == the distributed fold,
  * row-for-row including the wordpiece one-division scores. The cap
  * parameter forces each path: 0 → distributed (the 100 TB form),
  * Long.MaxValue → driver. Corpora are chosen so the loops exercise
  * ties, same-symbol runs, and early merge interactions — the exact
  * places an argmax-order or apply-order drift would show. */
class TokenizerDriverLoopSpec extends SparkSpec {
  import spark.implicits._

  private val corpora = Seq(
    // likelihood-ratio signature corpus (WordpieceSpec fixture 1)
    Seq("the that then quiz quay queen tall hat tin",
      "the that then toll ham tap hit hop"),
    // five-long same-symbol run: left-to-right fold order sensitive
    Seq("xxxxxx xa xb ya yb za zb wa wb"),
    // tie-heavy: every pair count 1 on round 1 → pure (a, b) tie-break
    Seq("ab cd ef gh ij kl mn op qr st uv wx yz"))

  private def df(lines: Seq[String]) =
    lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("bpeLearnOf: driver loop == distributed fold on every fixture " +
      "corpus and on sf0.001 documents (ranks and pairs, row-for-row)") {
    val frames = corpora.map(df) :+
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames.zipWithIndex.foreach { case (docs, i) =>
      val drv = PipelineQueries.bpeLearnOf(docs, Long.MaxValue)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val dist = PipelineQueries.bpeLearnOf(docs, 0L)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(drv == dist, s"corpus $i: first divergence " +
        s"${drv.zip(dist).find(p => p._1 != p._2)} " +
        s"(driver ${drv.size} rules, distributed ${dist.size})")
    }
  }

  test("wordpieceLearnOf: driver loop == distributed fold on every " +
      "fixture corpus and on sf0.001 documents, INCLUDING the rounded " +
      "likelihood-ratio scores bit-for-bit") {
    val frames = corpora.map(df) :+
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames.zipWithIndex.foreach { case (docs, i) =>
      val drv = PipelineQueries.wordpieceLearnOf(docs, Long.MaxValue)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      val dist = PipelineQueries.wordpieceLearnOf(docs, 0L)
        .orderBy("rank").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2),
            java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
      assert(drv == dist, s"corpus $i: first divergence " +
        s"${drv.zip(dist).find(p => p._1 != p._2)} " +
        s"(driver ${drv.size} rules, distributed ${dist.size})")
    }
  }

  test("driver gate takes the driver path at the default cap and the " +
      "schemas match the declared query contract on both paths") {
    val docs = df(corpora.head)
    val a = PipelineQueries.bpeLearnOf(docs, Long.MaxValue)
    val b = PipelineQueries.bpeLearnOf(docs, 0L)
    assert(a.schema == b.schema, s"bpe schema drift: ${a.schema} vs ${b.schema}")
    val c = PipelineQueries.wordpieceLearnOf(docs, Long.MaxValue)
    val d = PipelineQueries.wordpieceLearnOf(docs, 0L)
    assert(c.schema == d.schema,
      s"wordpiece schema drift: ${c.schema} vs ${d.schema}")
    assert(PipelineQueries.TokenizerDriverVocab ==
      graft.ops.DriverGate.Budget / 100,
      "the dict cap is the driver budget over 100-byte (word, freq) rows")
  }
}
