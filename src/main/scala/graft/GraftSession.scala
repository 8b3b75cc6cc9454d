package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every graft main: Run, Bench, Verify,
  * the probes, ExplainAll and the fixture generators. The
  * session policy lives here so the mains cannot drift apart:
  *  - cores: `SPARK_GRAFT_CPUS`, else every available processor; the
  *    master is `local[cores]` unless the caller passes one (Run's
  *    `SPARK_MASTER` deployment setting);
  *  - shuffle partitions equal the core count;
  *  - session time zone UTC (oracle-compared timestamps), UI off;
  *  - the generated-code cache holds [[CodegenCacheEntries]] classes.
  *
  * The ContextCleaner's periodic GC keeps Spark's 30-minute default.
  * Checkpoint blocks and per-round broadcast relations are released by
  * the ContextCleaner, which only drains on a driver GC; Bench and
  * Verify drain it BETWEEN queries with an explicit System.gc() outside
  * every timed region. A shorter timer (r21 ran 45 s) put 2-3 full-GC
  * pauses INSIDE whichever query happened to be running, scattering
  * ~0.8x phantom regressions across untouched sub-second queries.
  */
object GraftSession {

  /** Generated-code cache size (a static conf). Spark's default of 100
    * classes is sized for a handful of repeated plans, not a many-query
    * service: 189 distinct queries hold thousands of codegen fragments,
    * so at the default every fragment is EVICTED before its query runs
    * again and each warm pass re-runs Janino and re-enters HotSpot
    * interpretation for every stage (measured: warm pass totals
    * 150-167 s at the default vs 119-125 s retained, graph_pagerank
    * 5.0 -> 2.5 s, matching its fresh-JVM standalone floor). Bounded:
    * ~5000 compiled classes of heap-resident bytecode; pairs with the
    * ReservedCodeCacheSize raise in build.sbt (overflowing the JIT code
    * cache disables compilation, which showed up as a uniform tail
    * slowdown). */
  val CodegenCacheEntries = 5000

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cores: Int = GraftEnv.int("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors, min = 1)

  /** The session for `appName` under the policy above; `master`
    * overrides `local[cores]`. */
  def apply(appName: String, master: Option[String] = None): SparkSession = {
    val n = cores
    SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
  }
}

/** The one parser of graft's numeric `SPARK_GRAFT_*` environment
  * variables. Bad configuration fails loudly instead of silently
  * changing a plan: a malformed or below-minimum value throws an
  * IllegalArgumentException naming the variable. */
object GraftEnv {

  /** `value` of variable `name` as a Long: `default` when unset, else
    * the trimmed integer, which must be at least `min`. Pure. */
  def parse(name: String, value: Option[String], default: Long,
      min: Long): Long = value match {
    case None => default
    case Some(raw) =>
      val v = raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$name='$raw' is not an integer"))
      if (v < min)
        throw new IllegalArgumentException(s"$name=$v is below its minimum $min")
      v
  }

  /** [[parse]] of variable `name` in `env` (the process environment
    * unless a caller passes another map). */
  def long(name: String, default: Long, min: Long,
      env: collection.Map[String, String] = sys.env): Long =
    parse(name, env.get(name), default, min)

  /** [[long]] for an Int-sized setting; a value past Int.MaxValue is
    * rejected like a malformed one. */
  def int(name: String, default: Int, min: Int): Int = {
    val v = long(name, default, min)
    if (v > Int.MaxValue)
      throw new IllegalArgumentException(s"$name=$v does not fit an Int")
    v.toInt
  }
}
