package graft.model

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Tables]]' per-session schema reuse: the second read of a table runs
 *  no Spark job, a rewritten table is inferred again, and both on-disk
 *  forms of `events.ts` still decode. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of the same table in the session runs no Spark " +
      "job and still returns a fresh relation") {
    val dir = tempDir("tables-spec")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val (first, inferJobs) = countJobs(Tables.documents(spark, dir))
    assert(inferJobs >= 1, "the first read infers the schema with a job")
    val (second, jobs) = countJobs(Tables.documents(spark, dir))
    assert(jobs == 0, s"second read ran $jobs jobs")
    assert(second.schema == first.schema)
    // fresh attribute ids: a self-join resolves as with a plain read
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert((ids(first) & ids(second)).isEmpty)
    val joined = first.as("a")
      .join(second.as("b"), col("a.doc_id") === col("b.doc_id") + 1)
      .select(col("a.text"), col("b.text")).as[(String, String)].collect()
    assert(joined.toSeq == Seq(("b", "a")))
  }

  test("overwriting the table with an extra column makes the next read " +
      "return the new schema") {
    val dir = tempDir("tables-spec")
    val path = s"$dir/documents.parquet"
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(path)
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(path)
    val again = Tables.documents(spark, dir)
    assert(again.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(again.as[(Long, String, String)].collect().toSeq == Seq((1L, "a", "en")))
  }

  test("events.ts decodes from both the nanos-as-long and the " +
      "TIMESTAMP_NTZ parquet forms, on first and cached reads") {
    val nanos = 1704067200123456789L // 2024-01-01T00:00:00.123456789Z
    val wantMicros = 1704067200123456L
    // TIMESTAMP(NANOS): Spark cannot write it, so parquet-mr does
    val nanosDir = tempDir("tables-spec")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet"))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try {
      writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("event_id", 1L).append("ts", nanos))
    } finally writer.close()
    // TIMESTAMP(MICROS) without UTC adjustment: Spark's TIMESTAMP_NTZ
    val ntzDir = tempDir("tables-spec")
    Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 123456000)))
      .toDF("event_id", "ts").write.parquet(s"$ntzDir/events.parquet")
    for (dir <- Seq(nanosDir, ntzDir); pass <- 1 to 2) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
        s"$dir pass $pass")
      assert(ev.select(unix_micros(col("ts"))).as[Long].collect().toSeq ==
        Seq(wantMicros), s"$dir pass $pass")
    }
  }
}
