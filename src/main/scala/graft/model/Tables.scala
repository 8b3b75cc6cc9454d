package graft.model

import java.util.WeakHashMap

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Loaders for the generated parquet test tables (TESTDATA.md) and the
 * committed scale-free fixtures. Parquet scans go through the DataSource
 * V2 path, so filters/projections composed downstream are pushed into
 * the scan by Catalyst — callers should NOT cache or materialize here.
 *
 * Schema reuse: a plain `spark.read.parquet` infers the schema on every
 * call, which is one Spark job (`mergeSchemasInParallel`, plus a
 * broadcast of the Hadoop conf) per read — most of a query's build time
 * at small scale. [[parquet]] infers each file's schema once per
 * session and then reads with `spark.read.schema(cached)`, which runs no
 * job. The cached schema is keyed by
 *  - the session, held weakly, so it goes away with the session;
 *  - the session's explicitly set parquet confs (e.g. the nanosAsLong
 *    flag [[events]] sets), which shape the inferred types;
 *  - the path plus the file count, total length and latest modification
 *    time under it, so a rewritten table is inferred again.
 * This is catalog metadata — what Spark's own catalog tables keep — not
 * a result cache: every call still returns a fresh relation (new file listing, new attribute
 * ids, so self-joins and plan shapes are as with a plain read) that
 * lists and scans its input when executed.
 */
object Tables {
  private type Key = (String, (Long, Long, Long), Seq[(String, String)])

  private val schemas = new WeakHashMap[SparkSession, TrieMap[Key, StructType]]()

  private def sessionSchemas(spark: SparkSession): TrieMap[Key, StructType] =
    schemas.synchronized(schemas.computeIfAbsent(spark, _ => TrieMap.empty))

  /** (file count, total bytes, latest mtime) of the file or the tree
   *  under `path`; None when it cannot be listed, in which case the read
   *  goes through uncached so Spark reports the error as usual. The walk
   *  uses `listStatus`, not `listFiles`: `listFiles` wraps each status in
   *  a `LocatedFileStatus`, whose constructor reads the permission, and
   *  on a local file system without native Hadoop that forks one
   *  `ls -ld` per file. */
  private def stamp(spark: SparkSession, path: String): Option[(Long, Long, Long)] =
    scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      var n, len, mtime = 0L
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else { n += 1; len += f.getLen; mtime = math.max(mtime, f.getModificationTime) }
      }
      walk(p)
      (n, len, mtime)
    }.toOption

  /** A fresh parquet relation over `path`, with its schema inferred once
   *  per session and file version (see the object doc). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val confs = spark.conf.getAll.toSeq
          .filter { case (k, _) => k.contains(".parquet.") }.sorted
        val cache = sessionSchemas(spark)
        val key = (path, st, confs)
        cache.get(key) match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.put(key, df.schema)
            df
        }
    }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** events.ts varies by testdata drop: earlier generations wrote parquet
   *  TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so it is
   *  read as long nanos (legacy conf, runtime-settable) and converted with
   *  exact integer division — while later ones write TIMESTAMP(MICROS)
   *  without UTC adjustment, which Spark reads as TIMESTAMP_NTZ. Both are
   *  normalized to a session-UTC TimestampType (the session time zone is
   *  UTC everywhere — Verify/Bench/SparkSpec — so the NTZ cast is
   *  wall-clock-identity, matching DuckDB's naive read). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    raw.withColumn("ts", ts)
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
