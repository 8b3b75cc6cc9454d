package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact,
 * fingerprint, n-gram Jaccard, MinHash+LSH, SimHash.
 *
 * Scale design (100 TB): signature computation (minhash/simhash/
 * fingerprint) is row-local projection — no shuffle, fully parallel.
 * The only shuffles are (a) the band-bucket join for LSH candidates,
 * which shuffles small (id, band-hash) pairs, never documents, and
 * (b) the verify join, which touches candidate pairs only. Exact
 * all-pairs verification is restricted to candidates/blocks, never the
 * full cross product.
 */
object DedupOps {

  /** Node-state frames (labels, ranks, frontiers, peel sets) at or
   *  under this row count broadcast into each round's join across the
   *  iterative graph engines ([[connectedComponents]] here; ppr/lpa/
   *  bfs/sssp/kCore in AnalyticsQueries) — a MEASURED verdict from
   *  counts the loops already materialize, the er_candidates/
   *  TriBroadcastEdges device. ~64 MB of (long, long) pairs at the
   *  cap. Past it the shuffled join stands: node state at graph scale
   *  outgrows any executor, and that fallback is the honest 100 TB
   *  form. Env-parameterized so a cluster deployment sizes it to its
   *  executor memory instead of this local default. */
  private[graft] lazy val MaxBroadcastNodes: Long =
    graft.GraftEnv.long("SPARK_GRAFT_GRAPH_BC_NODES", 4000000L, min = 0)

  /** Exact dedup: group identical keys, keep the smallest id as the
   *  canonical survivor. Output: (keeper, n) per duplicate group. */
  def exactGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(min(id).as("keeper"), count(lit(1)).as("n"))
      .select(col("keeper"), col("n"))

  /** Distinct word n-gram shingles of `text` (empty array when the text
   *  has fewer than n words). */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = filter(split(text, "\\s+"), x => length(x) > 0)
    val grams = transform(sequence(lit(0), size(w) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))
    when(size(w) >= n, array_distinct(grams)).otherwise(array().cast("array<string>"))
  }

  /**
   * Exact n-gram Jaccard near-duplicate pairs within a blocking column
   * (e.g. source/shard). Output: (id1, id2, jaccard) for jaccard >=
   * threshold, id1 < id2. The block join keeps the pair space bounded;
   * for unblocked discovery at scale use [[minhashCandidates]] first.
   */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column, block: Column,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    shinglePairStats(df, id, text, block, n)
      .withColumn("jaccard",
        col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))

  /** Shared candidate-pair statistics for the exact n-gram pair family
   *  — (id1, id2, inter, sz1, sz2) within a blocking column; ONE
   *  definition of the shingle subtree, size aggregate, and blocked
   *  self-join so [[ngramJaccardPairs]] and [[ngramContainmentPairs]]
   *  cannot silently diverge.
   *
   *  Join on the 64-bit shingle hash, not the string: the shuffle
   *  carries fixed-width longs and the sort-merge compares ints
   *  (collisions are 2^-64-scale and would only perturb one inter
   *  count by 1). fanOut: shingle building is the heavy per-row stage
   *  and must not inherit a narrow scan layout (e.g. one small file)
   *  — but a wide scan passes through with no exchange (FanOut
   *  contract). x/y join sides shuffle on the same keys from the same
   *  child, so ReuseExchange computes the shingle subtree once for
   *  both. */
  private def shinglePairStats(df: DataFrame, id: Column, text: Column,
      block: Column, n: Int): DataFrame = {
    val fanned = FanOut.fanOut(df)
    // SNAPSHOT the exploded shingle relation hash-partitioned on the
    // join keys (the dedup_eval device): the self-join's two sides
    // defeat a lazy recompute (r22-measured: the kernel+explode
    // subtree executed once per side), and on the preserved (sh, blk)
    // partitioning the join plans with NO Exchange on either side.
    val sh = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(
        fanned.select(id.as("id"), block.as("blk"),
          explode(graft.functions.native.shingle_hashes(text, n)).as("sh")),
        Seq("sh", "blk"), eager = false)
    // per-doc sizes ROW-LOCALLY: shingle_hashes emits DISTINCT hashes
    // and ids are unique per input row, so the exploded per-id count
    // IS the array size — the former groupBy over the exploded
    // relation re-ran the kernel pass AND paid a corpus-wide (id)
    // exchange for the same longs (bit-equal: a zero-shingle doc gains
    // a sz row here, but no inter pair ever joins it)
    val sizes = fanned.select(id.as("id"),
      size(graft.functions.native.shingle_hashes(text, n))
        .cast("bigint").as("sz"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.blk") === col("y.blk") &&
          col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("s1"), col("id1") === col("s1.id"))
      .join(sizes.as("s2"), col("id2") === col("s2.id"))
      .select(col("id1"), col("id2"), col("inter"),
        col("s1.sz").as("sz1"), col("s2.sz").as("sz2"))
  }

  /**
   * Exact n-gram CONTAINMENT near-duplicate pairs within a blocking
   * column — the ASYMMETRIC sibling of [[ngramJaccardPairs]] (Broder
   * 1997's containment coefficient): c(A⊆B) = |S(A)∩S(B)| / |S(A)|
   * reads 1.0 when document A's shingles all appear in B, however
   * much longer B is — the quote-and-extend / boilerplate-wrapping
   * shape that symmetric Jaccard under-scores by exactly the size
   * imbalance (a doc fully embedded in one 4× its length scores
   * J ≈ 0.25 but containment 1.0). Output: (id1, id2, cont1, cont2)
   * with id1 < id2 — cont1 = how much of doc1 lies inside doc2 and
   * vice versa — kept when either direction reaches `threshold`.
   *
   * Scale shape identical to [[ngramJaccardPairs]]: both join sides
   * shuffle the same fixed-width (hash, block) keys from the same
   * shingle subtree (ReuseExchange computes it once), sizes reduce
   * two-phase, and the block key bounds the pair space.
   */
  def ngramContainmentPairs(df: DataFrame, id: Column, text: Column,
      block: Column, n: Int = 3, threshold: Double = 0.9): DataFrame =
    shinglePairStats(df, id, text, block, n)
      .withColumn("cont1", col("inter") / col("sz1"))
      .withColumn("cont2", col("inter") / col("sz2"))
      .filter(greatest(col("cont1"), col("cont2")) >= threshold)
      .select(col("id1"), col("id2"), col("cont1"), col("cont2"))

  /**
   * MinHash signatures: k seeded-hash minima over each doc's shingle
   * set. Hash family: h_i(s) = xxhash64(i, s) — k independent keyed
   * hashes (an affine family over one base hash would need mod-2^64
   * multiplies, which ANSI mode rejects as long overflow).
   *
   * Shape: ONE row-local kernel pass — the native
   * [[graft.functions.MinhashSig]] loop over the doc's
   * [[graft.functions.ShingleHashes]] array (hash each shingle string
   * once, derive the k family members from the fixed-width base) —
   * zero exchanges at any corpus size: signature computation is pure
   * projection, the scale contract in this file's header. The
   * previous explode + k-column min aggregate paid a corpus-wide
   * (id, shingle-hash) partial-agg exchange per consumer for the same
   * integers (bit-identical — NativeExprSpec asserts kernel == agg);
   * the composed SQL-expression row-local form rejected back then
   * duplicated the shingle pipeline k times as interpreted lambdas
   * (measured 50x slower) — the JIT'd kernel has neither problem.
   * Docs with no shingles drop out (the explode contract, kept).
   */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      k: Int = 64, shingleN: Int = 3): DataFrame =
    // fanOut: see ngramJaccardPairs (heavy per-row stage; narrow scans only)
    FanOut.fanOut(df)
      .select(id.as("id"),
        graft.functions.native.shingle_hashes(text, shingleN).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("id"),
        graft.functions.native.minhash_sig(col("shs"), k).as("sig"))

  /** LSH band hashes over a minhash signature: `bands` buckets of
   *  `rows` signature slots each (b=16, r=4 targets J ~ 0.5+). */
  def lshBandHashes(sig: Column, bands: Int = 16, rows: Int = 4): Column =
    array((0 until bands).map { b =>
      xxhash64((0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
    }: _*)

  /** Lineage truncation with the fault-tolerance trade made once for
   *  the whole dedup family (the [[connectedComponents]] rule):
   *  reliable `checkpoint()` when the session has a checkpoint dir —
   *  recomputable from storage after executor loss — and executor-
   *  local `localCheckpoint()` otherwise (local/dev, where blocks and
   *  executors die together). RECLAMATION: a one-shot caller's
   *  snapshot must outlive its consuming job, so unlike
   *  connectedComponents (which eagerly deletes superseded ITERATION
   *  snapshots) there is no in-op cleanup point here — reliable-dir
   *  sessions should set
   *  `spark.cleaner.referenceTracking.cleanCheckpoints=true` so Spark
   *  reclaims the files when the DataFrame is collected, or sweep the
   *  checkpoint dir between jobs. A session configured with a reliable
   *  dir but WITHOUT cleanCheckpoints gets a one-time warning naming
   *  the leak instead of silently accumulating snapshot dirs. */
  private val warnedUnreclaimed = new java.util.concurrent.atomic.AtomicBoolean
  /** RDD classes whose logger already carries the unpersist filter. */
  private val silencedUnpersistLoggers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Attach a DENY filter for Spark's "cannot be recomputed after
   *  unpersisting" warning to `loggerName`, leaving every other message
   *  from that class at its configured level. No-op on a non-log4j2
   *  backend (the context type is checked, never assumed). The filter
   *  is per-logger, not global, and matches only the one message class
   *  release() intentionally triggers. */
  private def denyUnpersistWarning(loggerName: String): Unit =
    org.apache.logging.log4j.LogManager.getContext(false) match {
      case ctx: org.apache.logging.log4j.core.LoggerContext =>
        val config = ctx.getConfiguration
        val filter = org.apache.logging.log4j.core.filter.RegexFilter
          .createFilter(
            ".*cannot be recomputed after unpersisting.*", null,
            java.lang.Boolean.FALSE,
            org.apache.logging.log4j.core.Filter.Result.DENY,
            org.apache.logging.log4j.core.Filter.Result.NEUTRAL)
        val existing = config.getLoggerConfig(loggerName)
        if (existing.getName == loggerName) existing.addFilter(filter)
        else {
          // No config exists for this exact logger: create an additive
          // one (no appenders of its own — events still flow to the
          // parent's) whose only job is to host the DENY filter.
          val lc = new org.apache.logging.log4j.core.config.LoggerConfig(
            loggerName, existing.getLevel, true)
          lc.addFilter(filter)
          config.addLogger(loggerName, lc)
        }
        ctx.updateLoggers()
      case _ => () // not log4j2-core: leave logging configuration alone
    }
  /** Release a frame produced by [[reliableTruncate]] /
   *  `localCheckpoint()`: delete its reliable snapshot file (if any)
   *  and unpersist its checkpoint RDD blocks EAGERLY.
   *  `Dataset.unpersist` is a NO-OP for checkpointed frames — it
   *  uncaches the query plan via the CacheManager, which never
   *  registered the checkpoint RDD, so the blocks sit in the block
   *  manager until a driver GC (the r14 cross-query leak class).
   *  Every superseded truncated artifact must come back through here
   *  (connectedComponents, bpeLearn, graphPagerank, unigramLearn,
   *  [[DriverGate]]'s snapshots). */
  /** CONTRACT: pass the exact checkpointed HANDLE (the frame
   *  `localCheckpoint()`/[[reliableTruncate]] returned), not a frame
   *  derived from it — the match is on the plan ROOT by design.
   *  Collecting every LogicalRDD leaf of a derived frame would also
   *  release checkpoints the caller still needs (graphPagerank's
   *  superseded rank frame carries the LIVE edgesDeg checkpoint as a
   *  leaf — leaf-collection broke iteration 5 with
   *  CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND); loops therefore track their
   *  last checkpoint handle in its own var and release THAT. */
  private[graft] def releaseTruncated(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
          ()
        }
        if (lr.rdd.getStorageLevel !=
            org.apache.spark.storage.StorageLevel.NONE) {
          if (silencedUnpersistLoggers.add(lr.rdd.getClass.getName))
            denyUnpersistWarning(lr.rdd.getClass.getName)
          lr.rdd.unpersist(blocking = false)
          ()
        }
      case _ => ()
    }

  /** Target rows per partition for [[checkpointHashPartitionedAdaptive]]:
   *  ~2M fixed-width rows ≈ 50–150 MB — the guide's 100 MB–1 GB
   *  post-shuffle band. Env-parameterized (`SPARK_GRAFT_ROWS_PER_PART`)
   *  so a cluster deployment can retune without code. */
  private[graft] lazy val AdaptiveRowsPerPartition: Long =
    graft.GraftEnv.long("SPARK_GRAFT_ROWS_PER_PART", 2000000L, min = 1)

  /** Row-count gate for the iterative engines' hash-partitioned
   *  snapshot rebuild: BELOW it the build (an edge-relation shuffle +
   *  a rebuild job) costs more than the node-sized per-round exchanges
   *  it removes, so small inputs take a narrow [[adaptiveCoalesceView]]
   *  instead (r21 verdict: the tiny CC riders — mm_phash_clusters /
   *  mm_video_clusters, short-wave bfs — paid the build without
   *  amortizing it). Row-derived, so the verdict is scale-adaptive,
   *  never a core-count constant; env-parameterized like its sibling
   *  knobs. Default: two partitions' worth of rows — any smaller and
   *  the whole relation is at most a couple of round-task's work. */
  private[graft] lazy val HashSnapMinRows: Long =
    graft.GraftEnv.long("SPARK_GRAFT_HASH_SNAP_MIN_ROWS",
      2L * AdaptiveRowsPerPartition, min = 0)

  /** Narrow READ VIEW over a materialized snapshot: coalesce to
   *  ceil(rows / rowsPerPartition) partitions — no shuffle, nothing
   *  re-materialized, checkpoint-handle discipline untouched (the
   *  kCore adaptView device, factored). Every downstream job then
   *  launches that many tasks instead of the snapshot's full width;
   *  at scale the target reaches the width and the view is the
   *  identity. Use only where the per-row consumer work is cheap
   *  (probes, min/count aggs) — narrowing serializes real compute. */
  private[graft] def adaptiveCoalesceView(df: DataFrame, rows: Long,
      rowsPerPartition: Long = AdaptiveRowsPerPartition): DataFrame = {
    val parts = df.rdd.getNumPartitions
    val target = math.max(1L, math.min(parts.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt
    if (target >= parts) df else df.coalesce(target)
  }

  /** [[org.apache.spark.sql.GraftColumnBridge.localCheckpointHashPartitioned]]
   *  with a SCALE-ADAPTIVE partition count (guide §2: derive
   *  partitioning from input size, never a constant tuned for one
   *  deployment): materialize at the session's shuffle width, count
   *  the in-memory snapshot (one cheap job), and when the relation is
   *  small re-hash its blocks down to ceil(rows / rowsPerPartition)
   *  partitions, releasing the wide snapshot. Every ROUND job of an
   *  iterative engine then launches that many tasks instead of
   *  spark.sql.shuffle.partitions near-empty ones. At scale
   *  ceil(rows/rowsPerPartition) reaches the shuffle width and the
   *  relation stays wide — the second (tiny, in-memory) shuffle never
   *  happens. APPLICABILITY (measured, r21): only for engines whose
   *  per-round consumer is CHEAP PER ROW — anti-join probes,
   *  min/count/distinct aggs (kcore, bfs, sssp, connectedComponents:
   *  kcore 4.7 → 2.7 s, sssp 3.1 → 1.7 s standalone sf0.1). Where the
   *  rounds carry real per-row compute the narrowing SERIALIZES it —
   *  pagerank's contribution products read 2.1 → 3.7 s and the
   *  triangle census 3.9 → 6.0 s narrowed, so those sites keep the
   *  full-width bridge call. Results are partition-count-independent;
   *  PartitionedCheckpointSpec pins row identity, the narrow pinned
   *  partitioning, and the exchange-free keyed agg at the narrow
   *  count. */
  private[graft] def checkpointHashPartitionedAdaptive(df: DataFrame,
      keys: Seq[String],
      rowsPerPartition: Long = AdaptiveRowsPerPartition): DataFrame = {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    val wide = bridge.localCheckpointHashPartitioned(df, keys)
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val target = math.max(1L, math.min(n.toLong,
      (wide.count() + rowsPerPartition - 1) / rowsPerPartition)).toInt
    if (target >= n) wide
    else {
      val narrow = bridge.localCheckpointHashPartitioned(wide, keys,
        numPartitions = Some(target))
      releaseTruncated(wide)
      narrow
    }
  }

  /** ROW-COUNT-GATED hash-partitioned snapshot (guide §2: derive the
   *  layout from input size): materialize plain (no shuffle), count
   *  the in-memory blocks, then EITHER rebuild hash-partitioned on
   *  `keys` at the scale-adaptive width (rows ≥ [[HashSnapMinRows]] —
   *  the zero-exchange round plan is worth its build) OR return a
   *  narrow [[adaptiveCoalesceView]] (small inputs: the per-round
   *  exchanges the pin would remove are node-sized and cheaper than
   *  an edge-relation shuffle + rebuild — the r21 graph_bfs finding:
   *  ~3 waves at bench SF never amortized the unconditional build).
   *  The gate trades one extra no-shuffle materialization pass on the
   *  large path for skipping the build entirely on the small one. */
  private[graft] def checkpointHashPartitionedGated(df: DataFrame,
      keys: Seq[String], minRows: Long = HashSnapMinRows): DataFrame = {
    val base = df.localCheckpoint()
    val rows = base.count() // cheap: in-memory checkpointed blocks
    if (rows >= minRows) {
      val width = df.sparkSession.sessionState.conf.numShufflePartitions
      val target = math.max(1L, math.min(width.toLong,
        (rows + AdaptiveRowsPerPartition - 1) / AdaptiveRowsPerPartition))
        .toInt
      val s = org.apache.spark.sql.GraftColumnBridge
        .localCheckpointHashPartitioned(base, keys,
          numPartitions = Some(target))
      releaseTruncated(base)
      s
    } else adaptiveCoalesceView(base, rows)
  }

  private[graft] def reliableTruncate(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isDefined) {
      if (!sc.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", false) &&
          warnedUnreclaimed.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "reliableTruncate: checkpoint dir {} is set but " +
            "spark.cleaner.referenceTracking.cleanCheckpoints is not — " +
            "each capped-dedup/span call leaves a snapshot dir behind; " +
            "enable the cleaner or sweep the dir between jobs",
          sc.getCheckpointDir.get)
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /**
   * MinHash+LSH candidate pairs: docs sharing any band bucket.
   * Shuffles only (id, band, hash) triples; the equi-join on
   * (band, hash) is a plain hash join — the 100 TB-safe path.
   *
   * `maxBandDf` is the mega-cluster guard: a template copied into
   * millions of documents puts ALL of them in the same bucket of
   * EVERY band, and that bucket's pair fan-out is inherently
   * quadratic — no join strategy fixes output size. When set, buckets
   * holding more than `maxBandDf` docs are dropped BEFORE the
   * self-join (a two-phase (band, bh) count — map-side combine
   * collapses the hot bucket — then a semi-join filter), bounding the
   * hottest bucket's fan-out at maxBandDf². The right pairing for a
   * dropped mega-bucket is the exact-dedup / cluster path (verbatim
   * template copies collapse there at linear cost); enumerating its
   * near-dup pairs was never useful output. Default None preserves
   * the oracle-gated semantics; SkewSpec pins the capped behavior on
   * a planted template corpus.
   */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      maxBandDf: Option[Int] = None): DataFrame = {
    val rows = k / bands
    // docs with < shingleN words have no shingles and drop out naturally
    val banded0 = minhashSignatures(df, id, text, k, shingleN)
      .select(col("id"), posexplode(lshBandHashes(col("sig"), bands, rows)))
      .toDF("id", "band", "bh")
    val banded = maxBandDf match {
      case Some(cap) =>
        // cut lineage before the fan-out: the bucket count, the
        // semi-join, and the x/y candidate aliases would otherwise
        // each re-plan the minhash-signature subtree (the
        // removeRepeatedSpans double-subtree failure mode); the
        // materialized relation is fixed-width (id, band, hash) rows
        val bandedM = reliableTruncate(banded0)
        bandedM.join(
          bandedM.groupBy("band", "bh").agg(count(lit(1)).as("bdf"))
            .filter(col("bdf") <= cap),
          Seq("band", "bh"), "left_semi")
      case None => banded0
    }
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
  }

  /** LSH candidates verified with exact shingle Jaccard. Output:
   *  (id1, id2, jaccard) for jaccard >= threshold. */
  def minhashNearDups(df: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxBandDf: Option[Int] = None): DataFrame = {
    val cands = minhashCandidates(df, id, text, shingleN = shingleN,
      maxBandDf = maxBandDf)
    // verify on hashed shingle sets (same sets the candidates came
    // from). LAZY snapshot (r22): the relation feeds BOTH verify join
    // sides, and the shingle kernel is the heavy per-row stage — the
    // differing join keys (id1 vs id2) defeat exchange reuse, so
    // without the cut the corpus-wide kernel pass ran once per side
    // (the incrementalClusterAssignPre fshs finding, §19 r21).
    val sh = FanOut.fanOut(df)
      .select(id.as("sid"),
        graft.functions.native.shingle_hashes(text, shingleN).as("shs"))
      .localCheckpoint(false)
    cands
      .join(sh.as("a"), col("id1") === col("a.sid"))
      .join(sh.as("b"), col("id2") === col("b.sid"))
      .withColumn("inter", size(array_intersect(col("a.shs"), col("b.shs"))))
      .withColumn("jaccard",
        col("inter") / (size(col("a.shs")) + size(col("b.shs")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** [[minhashNearDups]] with the banded triples and shingle sets
   *  PRECOMPUTED — the stored-state twin ([[clusterBandKeys]] /
   *  [[clusterShingleSets]] are the same expressions
   *  [[minhashCandidates]]'s banding and the verify side derive
   *  in-plan, so the pairs are identical by construction). Lets a
   *  caller that needs BOTH the pair set and the stored state (the
   *  incremental cluster maintenance query derives bands + shingles
   *  for its assignment joins anyway) pay the corpus shingle+minhash
   *  kernels ONCE instead of once per consumer (§1.2). */
  def minhashNearDupsPre(bands: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame = {
    val cands = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"))
      .distinct()
    cands
      .join(shingles.as("a"), col("id1") === col("a.sid"))
      .join(shingles.as("b"), col("id2") === col("b.sid"))
      .withColumn("inter", size(array_intersect(col("a.shs"), col("b.shs"))))
      .withColumn("jaccard",
        col("inter") / (size(col("a.shs")) + size(col("b.shs")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /**
   * Incremental NEAR-dup admission — the fingerprint ingest gate
   * (`PipelineQueries.dedupIncremental`) extended to near-duplicates:
   * a fresh document is ADMITTED only if no verified near-dup (exact
   * shingle Jaccard >= threshold on LSH band candidates) exists in the
   * HISTORY, nor among SMALLER-id fresh documents (the semDedup
   * smaller-id-survivor rule; near-dup is not transitive, so the rule
   * is deliberately pairwise — deterministic and engine-reproducible).
   * Documents too short to shingle admit unconditionally (no signature
   * ⇒ no candidates — both engines agree by construction).
   *
   * Scale shape: the [[minhashCandidates]] contract throughout — only
   * (id, band, hash) triples and id-keyed shingle-hash arrays shuffle,
   * never text; both candidate joins are hash equi-joins on (band,
   * hash). At 100 TB the history side's band table is precomputed and
   * bucketed by its combined band key (the sources.BucketedTables
   * story), so steady-state ingest shuffles only the BATCH's bands —
   * history is never re-shingled per ingest; here both sides derive
   * in-plan, the training-in-query convention the other dedup ops
   * follow. The claim is plan-PROVEN, not prose: BucketedTablesSpec's
   * band-bucketed ingest test shows the bucketed layout erasing
   * exactly the history side's two exchanges from the candidate join.
   */
  def incrementalNearDupAdmit(fresh: DataFrame, hist: DataFrame,
      id: Column, text: Column, threshold: Double = 0.5,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val rows = k / bands
    def banded(df: DataFrame) = minhashSignatures(df, id, text, k, shingleN)
      .select(col("id"), posexplode(lshBandHashes(col("sig"), bands, rows)))
      .toDF("id", "band", "bh")
    // shingle_hashes already emits DISTINCT hashes (sets — the same
    // frames minhashNearDups verifies on)
    def shingleSets(df: DataFrame) = FanOut.fanOut(df).select(id.as("sid"),
      graft.functions.native.shingle_hashes(text, shingleN).as("shs"))
    // LAZY snapshots (r22, the incrementalClusterAssignPre §19 device):
    // fb feeds THREE consumers (the history candidate join + both
    // sides of the fresh-fresh self-join) and fshs feeds three (both
    // verifies' fresh side + the fresh-fresh partner side) — each
    // consumer otherwise re-runs the batch-sized shingle+minhash
    // subtree. hist-side relations have one consumer each and stay
    // in-plan.
    val fb = banded(fresh).localCheckpoint(false)
    val histCand = fb.as("x").join(banded(hist).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("fid"), col("y.id").as("oid")).distinct()
    val freshCand = fb.as("x").join(fb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") > col("y.id")) // smaller-id partner rejects x
      .select(col("x.id").as("fid"), col("y.id").as("oid")).distinct()
    val fshs = shingleSets(fresh).localCheckpoint(false)
    val hshs = shingleSets(hist)
    def verified(cand: DataFrame, partner: DataFrame) = cand
      .join(fshs.as("a"), col("fid") === col("a.sid"))
      .join(partner.as("b"), col("oid") === col("b.sid"))
      .withColumn("inter", size(array_intersect(col("a.shs"), col("b.shs"))))
      .filter(col("inter") /
        (size(col("a.shs")) + size(col("b.shs")) - col("inter")) >= threshold)
      .select(col("fid"))
    val rejected = verified(histCand, hshs).union(verified(freshCand, fshs))
      .distinct().withColumnRenamed("fid", "doc_id")
    fresh.select(id.as("doc_id")).join(rejected, Seq("doc_id"), "left_anti")
  }

  /**
   * Incremental CLUSTER-ID maintenance — the assignment half the
   * admission gates don't answer: a fresh batch's documents ADOPT the
   * converged historical cluster ids (and trigger the merges they
   * cause) WITHOUT re-running the connected-components fixpoint over
   * the whole union. The device is graph contraction: history docs
   * never gain edges among themselves (their texts are unchanged), so
   * every historical cluster can be collapsed to one node — its
   * cluster id, which IS its min member id — and the union's new
   * components are exactly the components of the small contracted
   * graph {fresh docs} ∪ {touched clusters}. Because min-label CC
   * labels a component with its minimum node id, and a cluster node's
   * id is already the minimum of its members, the contracted fixpoint
   * reproduces the full-recompute labels EXACTLY: fresh docs get the
   * id a from-scratch run on the union would give them, merged
   * historical clusters relabel to the new component minimum, and
   * untouched history keeps its frame verbatim. (The gated
   * `dedup_clusters_incremental` query is hash-compared against the
   * very same recursive-CTE fixpoint the full `dedup_clusters` uses —
   * the equality is oracle-proven, not asserted.)
   *
   * Pair generation is the [[minhashNearDups]] contract restricted to
   * pairs touching the batch: minhash signatures are per-doc, so the
   * union's banding restricted to fresh docs is reproduced by a
   * fresh×fresh and a fresh×history band join (exact-Jaccard verified
   * like the full path — candidates only block, never decide).
   *
   * Scale shape: steady-state ingest cost is the BATCH's bands and
   * shingle sets plus one bounded fixpoint whose node set is
   * |batch| + |touched clusters| — the whole point. THIS overload
   * re-derives the history bands in-plan (the one-shot batch-query
   * convention); a steady-state ingest path persists them instead and
   * calls [[incrementalClusterAssignPre]], which is what the
   * `cluster_assign` topology does — history is then never
   * re-shingled per trigger. Only ids, band triples, and shingle-hash
   * arrays shuffle; text never does.
   *
   * @param fresh        the new batch
   * @param hist         the historical corpus
   * @param histClusters the CONVERGED historical frame (doc_id,
   *                     cluster) — cluster = min member id, the
   *                     [[connectedComponents]] output contract
   * @return (doc_id, cluster) for the ENTIRE union, equal to a full
   *         recompute on it
   */
  def incrementalClusterAssign(fresh: DataFrame, hist: DataFrame,
      histClusters: DataFrame, id: Column, text: Column,
      threshold: Double = 0.5, shingleN: Int = 3, k: Int = 64,
      bands: Int = 16, maxIters: Int = 30): DataFrame =
    incrementalClusterAssignPre(fresh,
      clusterBandKeys(hist, id, text, k, bands, shingleN),
      clusterShingleSets(hist, id, text, shingleN),
      histClusters, id, text, threshold, shingleN, k, bands, maxIters)

  /** The per-doc LSH band triples (id, band, bh) of a corpus — the
   *  deterministic, text-derived half of incremental cluster
   *  assignment that an ingest path persists ONCE (the
   *  `cluster_assign` topology's history) so a trigger never
   *  re-shingles history
   *  ([[incrementalClusterAssignPre]]). */
  def clusterBandKeys(df: DataFrame, id: Column, text: Column,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame =
    minhashSignatures(df, id, text, k, shingleN)
      .select(col("id"), posexplode(lshBandHashes(col("sig"), bands, k / bands)))
      .toDF("id", "band", "bh")

  /** The per-doc shingle-hash sets (sid, shs) — the exact-Jaccard
   *  verification side of the same persistable state. */
  def clusterShingleSets(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3): DataFrame =
    FanOut.fanOut(df).select(id.as("sid"),
      graft.functions.native.shingle_hashes(text, shingleN).as("shs"))

  /**
   * [[incrementalClusterAssign]] with the history side PRECOMPUTED —
   * the steady-state ingest form: `histBands` is the accumulated
   * [[clusterBandKeys]] of every prior batch and `histShingles` the
   * accumulated [[clusterShingleSets]], both persisted at ingest time
   * (band keys and shingle hashes are pure functions of text, so the
   * stored triples ARE what an in-plan recompute would produce). Per
   * trigger only the BATCH is shingled and minhashed; history
   * contributes fixed-width stored rows — ids, band triples,
   * shingle-hash arrays — never text. This is the difference between
   * incremental SEMANTICS (the contracted fixpoint) and incremental
   * COST: per-ingest compute is O(|batch|) + the band-key equi-join,
   * not O(|history|) re-shingling. At warehouse scale the stored band
   * table can ride the bucketed layout whose history side
   * BucketedTablesSpec's near-dup ingest test proves shuffle-free.
   */
  def incrementalClusterAssignPre(fresh: DataFrame, histBands: DataFrame,
      histShingles: DataFrame, histClusters: DataFrame, id: Column,
      text: Column, threshold: Double = 0.5, shingleN: Int = 3,
      k: Int = 64, bands: Int = 16, maxIters: Int = 30): DataFrame = {
    def banded(df: DataFrame) = clusterBandKeys(df, id, text, k, bands, shingleN)
    def shingleSets(df: DataFrame) = clusterShingleSets(df, id, text, shingleN)
    // LAZY snapshots of the batch's derived triples: fb executes
    // under three consumers and fshs under two, so without them each
    // consumer re-runs the batch-sized shingle+minhash subtree; the
    // checkpoint pins one derivation (ContextCleaner reclaims the
    // blocks when the result frame is dropped — the multi-consumer
    // snapshot idiom used throughout)
    val fb = banded(fresh).localCheckpoint(false)
    val histCand = fb.as("x").join(histBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("fid"), col("y.id").as("oid")).distinct()
    val freshCand = fb.as("x").join(fb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("fid"), col("y.id").as("oid")).distinct()
    val fshs = shingleSets(fresh).localCheckpoint(false)
    val hshs = histShingles
    def verified(cand: DataFrame, partner: DataFrame) = cand
      .join(fshs.as("a"), col("fid") === col("a.sid"))
      .join(partner.as("b"), col("oid") === col("b.sid"))
      .withColumn("inter", size(array_intersect(col("a.shs"), col("b.shs"))))
      .filter(col("inter") /
        (size(col("a.shs")) + size(col("b.shs")) - col("inter")) >= threshold)
      .select(col("fid"), col("oid"))
    // contraction: a fresh–history pair becomes an edge to the
    // history doc's CLUSTER node
    val histEdges = verified(histCand, hshs)
      .join(histClusters.select(id.as("oid"), col("cluster")), "oid")
      .select(col("fid").as("id1"), col("cluster").as("id2"))
    val freshEdges = verified(freshCand, fshs)
      .select(col("fid").as("id1"), col("oid").as("id2"))
    val touched = histEdges.select(col("id2").as("id")).distinct()
    // the bounded local fixpoint: |batch| + |touched clusters| nodes
    val local = connectedComponents(
      histEdges.union(freshEdges),
      fresh.select(id.as("id")).union(touched), maxIters)
    val freshOut = local
      .join(fresh.select(id.as("doc_id")), col("id") === col("doc_id"), "left_semi")
      .select(col("id").as("doc_id"), col("cluster"))
    // history: relabel clusters the local fixpoint merged (history and
    // fresh ids are disjoint corpora, so a cluster id can only match a
    // contracted cluster node, never a fresh doc node)
    val histOut = histClusters
      .join(local.select(col("id").as("cluster"), col("cluster").as("newc")),
        Seq("cluster"), "left")
      .select(col("doc_id"), coalesce(col("newc"), col("cluster")).as("cluster"))
    freshOut.unionByName(histOut)
  }

  /** The DISTINCT combined LSH band keys of a corpus — the offline
   *  "band model" the live near-dup admission gate
   *  (`StreamOps.nearDupGateStream`) broadcasts. Each (band index,
   *  band hash) pair folds to one 64-bit key `xxhash64(band, bh)` so
   *  the model is a flat long column (8 bytes/key sorted-array
   *  broadcast, the span_flag device); the native
   *  [[graft.functions.LshBandCollide]] kernel reproduces the exact
   *  same chain (seed 42, int band then long hash). Key count is
   *  bounded by bands × corpus docs (minus sharing). */
  def corpusBandKeys(df: DataFrame, id: Column, text: Column,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame =
    minhashSignatures(df, id, text, k, shingleN)
      .select(posexplode(lshBandHashes(col("sig"), bands, k / bands)))
      .toDF("band", "bh")
      .select(xxhash64(col("band"), col("bh")).as("bk"))
      .distinct()

  /**
   * Batch LSH band-collision ADMISSION — the candidate stage of
   * [[incrementalNearDupAdmit]] alone, as a gate: a fresh document is
   * admitted iff NONE of its LSH bands collides with any history band
   * (no exact-Jaccard verification — the gate trades the verify
   * join's latency for candidate-level recall, the right side of the
   * trade for a STREAMING admission filter where a false rejection
   * costs one recoverable doc and a verify join would re-run the
   * history agg per micro-batch). Docs too short to shingle admit
   * unconditionally (no bands ⇒ no collision). Output: the admitted
   * ids, one `doc_id` column — the live gate's semantics contract
   * (RunTopologySpec pins stream == this).
   */
  def bandCollideAdmit(fresh: DataFrame, hist: DataFrame,
      id: Column, text: Column, k: Int = 64, bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    val rows = k / bands
    val fb = minhashSignatures(fresh, id, text, k, shingleN)
      .select(col("id"), posexplode(lshBandHashes(col("sig"), bands, rows)))
      .toDF("id", "band", "bh")
      .select(col("id"), xxhash64(col("band"), col("bh")).as("bk"))
    val rejected = fb.join(corpusBandKeys(hist, id, text, k, bands, shingleN),
        Seq("bk"))
      .select(col("id").as("doc_id")).distinct()
    fresh.select(id.as("doc_id")).join(rejected, Seq("doc_id"), "left_anti")
  }

  /** Adds a `simhash` column: 64-bit SimHash over word-feature hashes —
   *  per bit, the sign of the +1/-1 sum across words. Row-local: one
   *  WordHashes + one SimHash64 native kernel call per row (the HOF
   *  split/filter/transform form is interpreted per element).
   *  `portable=true` (default) uses the md5-60 word-hash family so the
   *  signature is reproducible in any SQL engine (DuckDB oracle);
   *  `portable=false` uses xxhash64 — the faster production family. */
  def simhashOf(df: DataFrame, id: Column, text: Column,
      portable: Boolean = true): DataFrame =
    df.withColumn("simhash", graft.functions.native.simhash64(
      graft.functions.native.word_hashes(lower(text), portable)))

  /**
   * SimHash near-duplicate pairs with Hamming distance <= maxHamming,
   * found by the pigeonhole band trick refined Manku-style (Manku,
   * Jain & Sarma 2007 §3): split the 64-bit signature into SIX blocks
   * (4×11 + 2×10 bits); ≤ 3 bit errors touch at most 3 blocks, so any
   * qualifying pair has 3 blocks intact — enumerate all C(6,3) = 20
   * block triples as tables, key each on the ~32-bit packed triple
   * value, equi-join per table, verify with bit_count. Candidates are
   * EXACTLY re-verified, so the banding choice is pure performance —
   * and it is the scale lever: the previous 4×16-bit-chunk scheme's
   * bucket space was 2^16 per table, putting n/65536 docs in an
   * average bucket (Σ bucket² work ∝ n²/2^16 — the measured
   * 2.89×-per-10×-data curve); the packed-triple key space is ~2^32,
   * 5× more exploded rows but ~2^17× fewer accidental candidates.
   * Lossless for d ≤ 3 by the pigeonhole above (property-pinned:
   * any ≤3-bit perturbation of a signature remains a candidate).
   */
  def simhashNearDups(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "the 6-block/3-subset banding is lossless only for Hamming <= 3; " +
        "use more blocks (C(b, b - d) tables) for a larger radius")
    val sigs = simhashOf(df, id, text).select(id.as("id"), col("simhash"))
    // block b: width 11 for b < 4, else 10; offsets 0,11,22,33,44,54
    def block(b: Int) = {
      val (off, width) = if (b < 4) (b * 11, 11) else (44 + (b - 4) * 10, 10)
      shiftrightunsigned(col("simhash"), off).bitwiseAND(lit((1L << width) - 1))
    }
    val combos = (0 until 6).combinations(3).toSeq
    val keyed = sigs.select(col("id"), col("simhash"),
      posexplode(array(combos.map { c =>
        (block(c(0)) * lit(1L << 22)) + (block(c(1)) * lit(1L << 11)) +
          block(c(2))
      }: _*)))
      .toDF("id", "h", "tbl", "key")
    bandedHammingPairs(keyed, maxHamming)
  }

  /** The shared candidate-join-and-verify tail of [[simhashNearDups]]
   *  and [[hammingNearDups64]] — per banding table an equi-join on
   *  the packed key, canonical id order, exact popcount verification,
   *  multi-table dedup. `keyed` must carry (id, h, tbl, key). */
  private def bandedHammingPairs(keyed: DataFrame,
      maxHamming: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    val cond = (Seq("tbl", "key") ++ extraKeys)
      .map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.id") < col("y.id")
    keyed.as("x").join(keyed.as("y"), cond)
      .select(col("x.id").as("id1") +: col("y.id").as("id2") +:
        extraKeys.map(k => col(s"x.$k").as(k)) :+
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming"): _*)
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Near-duplicate pairs over ANY precomputed 64-bit hash column
   * (perceptual image hashes, audio fingerprints — the
   * [[simhashNearDups]] device decoupled from text signatures) with
   * Hamming distance <= maxHamming, by the same Manku block-combo
   * pigeonhole (Manku, Jain & Sarma 2007 §3) at a wider radius: split
   * the hash into EIGHT 8-bit blocks; <= 6 bit errors dirty at most 6
   * blocks, so any qualifying pair has some pair of blocks intact —
   * enumerate all C(8,2) = 28 block pairs as tables, key each on the
   * packed 16-bit value, equi-join per table, verify with bit_count.
   * Candidates are EXACTLY re-verified, so banding is pure
   * performance: the 2^16 key space per table prunes accidental
   * candidates ~256x harder than plain 8x8-bit single-block banding
   * (whose 2^8 buckets put n/256 hashes together), at 28/8 = 3.5x the
   * exploded rows. Lossless for d <= 6 by the pigeonhole
   * (property-pinned: any <=6-bit perturbation remains a candidate).
   *
   * Scale shape: the input never carries payloads — one (id, hash)
   * row per object in, 28 fixed-width (id, hash, tbl, key) rows
   * exploded, one shuffled equi-join on (tbl, key), exact popcount
   * verification inside the join projection. At 100 TB of images the
   * hash frame is ~16 bytes/object — a model-sized relation, the
   * decode/DCT cost stays in the upstream partition-batched pass.
   */
  def hammingNearDups64(df: DataFrame, id: Column, hash: Column,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 6,
      "the 8-block/2-intact banding is lossless only for Hamming <= 6; " +
        "use C(b, b - d) block combos for a larger radius")
    val sigs = df.select(id.as("id"), hash.as("h"))
    def block(b: Int) =
      shiftrightunsigned(col("h"), b * 8).bitwiseAND(lit(255L))
    val combos = (0 until 8).combinations(2).toSeq
    val keyed = sigs.select(col("id"), col("h"),
      posexplode(array(combos.map { c =>
        (block(c(0)) * lit(256L)) + block(c(1))
      }: _*)))
      .toDF("id", "h", "tbl", "key")
    bandedHammingPairs(keyed, maxHamming)
  }

  /**
   * [[hammingNearDups64]] with an ALIGNMENT key — near-dup pairs among
   * hashes that share a position (a video's frame index, a document's
   * chunk ordinal): the same C(8,2) block-pair banding, with the
   * alignment column joined ALONGSIDE the band key, so candidates are
   * generated only between same-position hashes — temporal alignment
   * is enforced by the join key, never by a post-filter over the
   * cross-position pair blowup. Emits one row per (id1, id2, align)
   * with the exact popcount distance; the caller rolls positions up
   * to object-level verdicts (e.g. "every aligned frame within
   * radius"). Lossless per position for d ≤ 6 by the same pigeonhole.
   *
   * Scale shape: identical to [[hammingNearDups64]] — fixed-width
   * (id, align, hash) rows in, 28 banded rows each, one shuffled
   * equi-join on (align, tbl, key). At 100 TB of video the per-frame
   * hash relation is ~24 bytes/frame; decode stays upstream.
   */
  def hammingNearDups64Aligned(df: DataFrame, id: Column, align: Column,
      hash: Column, maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 6,
      "the 8-block/2-intact banding is lossless only for Hamming <= 6; " +
        "use C(b, b - d) block combos for a larger radius")
    val sigs = df.select(id.as("id"), align.as("al"), hash.as("h"))
    def block(b: Int) =
      shiftrightunsigned(col("h"), b * 8).bitwiseAND(lit(255L))
    val combos = (0 until 8).combinations(2).toSeq
    val keyed = sigs.select(col("id"), col("al"), col("h"),
      posexplode(array(combos.map { c =>
        (block(c(0)) * lit(256L)) + block(c(1))
      }: _*)))
      .toDF("id", "al", "h", "tbl", "key")
    bandedHammingPairs(keyed, maxHamming, extraKeys = Seq("al"))
  }

  /**
   * Exact repeated n-gram SPAN statistics — the exact-substring pass of
   * corpus dedup (Lee et al. 2022, "Deduplicating Training Data Makes
   * Language Models Better"): a gram position is *duplicated* when the
   * identical word n-gram occurs anywhere else in the corpus (another
   * document or elsewhere in the same one). Per document:
   *   n_grams    — total gram positions (len(words) - n + 1, min 0);
   *   n_dup      — duplicated positions;
   *   dup_tokens — tokens covered by at least one duplicated gram (the
   *                union of the per-position [p, p+n-1] intervals — what
   *                the removal pass would cut).
   * Documents with fewer than n words report all zeros.
   *
   * Scale shape: ONE heavy pass. Gram hashing is one row-local
   * [[graft.functions.GramHashes]] kernel call per document, exploded
   * once; every downstream stage works on fixed-width (doc_id, pos,
   * hash) triples — raw text never shuffles, and the kernel never
   * re-runs (a join-based formulation re-evaluates the exploded
   * subtree per consumer; PlanShapeSpec pins the single-evaluation
   * shape). The corpus-wide occurrence count is a count() window
   * partitioned by the 64-bit hash (first exchange); the interval
   * union is a per-document lead() window over only the DUPLICATED
   * positions — expressed as a running min of following dup positions
   * partitioned by doc_id alone, so the doc-level aggregate reuses the
   * same partitioning (second and last exchange) — summed as
   * Σ least(n, next_pos - pos) with the last interval contributing n.
   * No per-token explode, no self-join. Hash collisions
   * (2^-64-scale) could flag one extra position, the same trade
   * [[ngramJaccardPairs]] documents.
   */
  def repeatedSpanStats(df: DataFrame, id: Column, text: Column,
      n: Int = 4): DataFrame = {
    // fanOut: gram hashing is the heavy per-row stage (see ngramJaccardPairs)
    val grams = FanOut.fanOut(df)
      .select(id.as("doc_id"),
        posexplode(graft.functions.native.gram_hashes(text, n)))
      .toDF("doc_id", "pos", "gh")
    val dup = count(lit(1)).over(Window.partitionBy("gh")) > 1
    // nearest FOLLOWING duplicated position in the same doc (null when
    // none): a running min over the frame after the current row — keeps
    // the window keyed by doc_id only, so the per-doc agg below adds no
    // third exchange (a lead() over a (doc_id, dup) partition would)
    val nxt = min(when(col("dup"), col("pos"))).over(
      Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(1, Window.unboundedFollowing))
    val perDoc = grams
      .withColumn("dup", dup)
      .withColumn("cov",
        when(col("dup"), least(coalesce(nxt - col("pos"), lit(n)), lit(n))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("dup"), lit(1))).as("n_dup"),
        coalesce(sum(col("cov")), lit(0)).cast("bigint").as("dup_tokens"))
    df.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /**
   * Unit-level exact dedup with document RECONSTRUCTION — the C4/
   * RefinedWeb "paragraph dedup" pass: cut the corpus into content
   * units, keep each distinct unit only at its globally FIRST
   * occurrence (ordered by (doc_id, unit_id) — a total order, so
   * survivorship is deterministic and engine-reproducible), and
   * rebuild every document from its surviving units. This corpus
   * carries no newline delimiters (TESTDATA.md), so units are
   * `unitTokens`-word blocks — the same cut textChunks trains on; on
   * newline-delimited text the unit boundary swaps for `split('\n')`
   * and nothing else changes. Unlike [[repeatedSpanStats]] (which
   * *measures* duplication), this op performs the removal: the output
   * is the deduplicated corpus, hash-verifiable per document.
   *
   * Per document: n_units, n_kept (surviving units), kept_tokens, and
   * kept_hash = md5 of the space-joined surviving text ('' empty-doc
   * sentinel hashes like everything else, so zero-unit docs are still
   * gated rows, not dropped ones).
   *
   * Scale shape: ONE heavy pass. Unit hashing is row-local (split +
   * slice + md5 per unit); everything that shuffles afterwards is
   * fixed-width (doc_id, unit_id, unit_hash) triples — raw text never
   * shuffles. Survivorship is a row_number() window partitioned by the
   * unit hash (first exchange, the same hash-partition device the
   * other dedup ops use; md5 collisions could merge two distinct units
   * — the 2^-128-scale trade [[ngramJaccardPairs]] documents); the
   * per-doc rollup regroups the triples by doc_id (second exchange —
   * surviving unit ids aggregate to a sorted array bounded by the
   * doc's own length). Reconstruction then re-joins that fixed-width
   * rollup to the corpus BY ID ONLY and re-slices each doc's words
   * row-locally: the id-keyed join is the one place the text relation
   * participates, co-partitioned (shuffle-free on the docs side) under
   * the bucketed-by-doc_id layout sources.BucketedLayout documents.
   */
  def unitDedup(df: DataFrame, id: Column, text: Column,
      unitTokens: Int): DataFrame = {
    val k = unitTokens
    val words = TextAnalyticsOps.words(text)
    // fanOut: unit hashing is the heavy per-row stage (see ngramJaccardPairs)
    val units = FanOut.fanOut(df)
      .select(id.as("doc_id"), words.as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          ceil(size(col("w")) / lit(k.toDouble)).cast("int") - 1)).as("c"))
      .select(col("doc_id"), col("c").cast("bigint").as("unit_id"),
        md5(array_join(slice(col("w"), col("c") * k + 1, lit(k)), " ")).as("uh"))
    val keep = row_number().over(
      Window.partitionBy("uh").orderBy("doc_id", "unit_id")) === 1
    val perDoc = units
      .withColumn("keep", keep)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_units"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        sort_array(collect_list(when(col("keep"), col("unit_id"))))
          .as("kept_ids"))
    df.select(id.as("doc_id"), words.as("w"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        flatten(transform(
          coalesce(col("kept_ids"), array().cast("array<bigint>")),
          c => slice(col("w"), (c * k + 1).cast("int"), lit(k)))).as("kw"))
      .select(col("doc_id"), col("n_units"), col("n_kept"),
        size(col("kw")).cast("bigint").as("kept_tokens"),
        md5(array_join(col("kw"), " ")).as("kept_hash"))
  }

  /**
   * VARIABLE-LENGTH maximal repeated spans — the full exact-substring
   * rung above [[repeatedSpanStats]] (which measures fixed-n gram
   * duplication): find each document's MAXIMAL runs of consecutive
   * duplicated gram positions and report the ones covering at least
   * `minLen` tokens. This is the distributed gram-chain formulation of
   * the Lee et al. 2022 suffix-array pass: a token span [p, q+n-1] is
   * reported iff every n-gram inside it occurs elsewhere in the corpus
   * (the suffix-array criterion for repeats ≥ n, applied at span
   * granularity) and it is not extendable in either direction — run
   * maximality IS span maximality because extending the span by one
   * token adds exactly one gram position at an end of the run.
   * Per document:
   *   n_spans     — maximal duplicated runs covering >= minLen tokens;
   *   max_span    — token length of the longest such run (0 if none);
   *   span_tokens — Σ run token lengths over qualifying runs (maximal
   *                 runs are disjoint as POSITION sets; their token
   *                 intervals can overlap by < n tokens when separated
   *                 by a short clean gap, and each run still reports
   *                 its own full length — the per-span removal measure,
   *                 not a union; [[repeatedSpanStats]].dup_tokens is
   *                 the union form).
   * Documents with fewer than n words report all zeros.
   *
   * Scale shape: ONE heavy pass, exactly [[repeatedSpanStats]]'s
   * contract — gram hashing is one row-local [[graft.functions
   * .GramHashes]] kernel call, and every downstream stage works on
   * fixed-width (doc_id, pos) pairs. Exchange 1 is the corpus-wide
   * occurrence count window partitioned by the 64-bit hash; exchange 2
   * re-keys the surviving DUPLICATED positions by doc_id for the
   * run-numbering window (pos - row_number, the standard
   * gaps-and-islands device); the run rollup groups by (doc_id, grp)
   * and the doc rollup by doc_id — both satisfied by the doc_id hash
   * partitioning already in place, so neither adds an exchange
   * (PlanShapeSpec pins 1 heavy kernel pass + these 2 shuffles + the
   * join-back). No self-join, no per-token explode. Hash collisions
   * (2^-64-scale) could extend one run, the [[ngramJaccardPairs]]
   * trade.
   */
  def maximalRepeatedSpans(df: DataFrame, id: Column, text: Column,
      n: Int = 4, minLen: Int = 8): DataFrame = {
    require(minLen >= n, "a span shorter than one gram cannot qualify")
    // fanOut: gram hashing is the heavy per-row stage (see ngramJaccardPairs)
    val grams = FanOut.fanOut(df)
      .select(id.as("doc_id"),
        posexplode(graft.functions.native.gram_hashes(text, n)))
      .toDF("doc_id", "pos", "gh")
    val dupPos = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: consecutive dup positions share (pos - row_number)
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("p0"), max("pos").as("p1"))
      .withColumn("len", (col("p1") - col("p0") + lit(n)).cast("bigint"))
      .filter(col("len") >= minLen)
    val perDoc = runs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max(col("len")).as("max_span"),
        sum(col("len")).as("span_tokens"))
    df.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        coalesce(col("span_tokens"), lit(0L)).as("span_tokens"))
  }

  /**
   * Maximal-span REMOVAL with document reconstruction — the transform
   * the Lee et al. exact-substring pass actually performs, where
   * [[maximalRepeatedSpans]] only measures: every maximal duplicated
   * run covering >= minLen tokens is an OCCURRENCE of some repeated
   * region; occurrences group by content (the run's ordered gram-hash
   * sequence — two runs of the same text have identical sequences);
   * each group keeps only its globally FIRST occurrence (min (doc_id,
   * start) — a total order, so survivorship is deterministic and
   * engine-reproducible, the [[unitDedup]] rule at span granularity)
   * and every other occurrence's token interval is cut from its
   * document. Per document: n_tokens, n_removed, kept_hash (md5 of
   * the space-joined surviving words — the reconstruction gate).
   *
   * Scale shape: ONE heavy pass, the [[repeatedSpanStats]] contract.
   * After the gram kernel + gh count window + doc_id islands window
   * (the [[maximalRepeatedSpans]] prefix), everything shuffles at RUN
   * granularity — fixed-width (doc_id, p0, p1, fingerprint) rows, two
   * orders of magnitude sparser than gram positions: one exchange on
   * the run fingerprint for first-occurrence survivorship, one doc_id
   * rollup of removal intervals. Reconstruction re-joins the interval
   * rollup to the corpus BY ID (the unitDedup device — co-partitioned
   * and shuffle-free under a doc_id-bucketed layout) and filters each
   * doc's words row-locally against its own removal intervals (an
   * index-aware HOF filter — intervals per doc are bounded by the
   * doc's own span count, no per-token explode, no text shuffle).
   * Skew note: a boilerplate span repeated across millions of docs
   * makes its fingerprint the hottest key of the survivorship stage —
   * so survivorship is NOT a row_number window (which would sort the
   * whole hot fp inside one partition, un-splittable) but a per-fp
   * min(struct(doc_id, p0)) two-phase AGGREGATE joined back: map-side
   * combine collapses the hot key to one row per map task before it
   * shuffles, and the join back is a hash join AQE can skew-split.
   * Identical result — (doc_id, p0) is unique per run, so the min
   * over the lexicographic total order IS the first occurrence.
   * SkewSpec pins both the equality and the planted-boilerplate
   * behavior. The run relation is materialized ONCE (localCheckpoint,
   * the bpe_learn device) before the survivorship branch: the agg and
   * the join-back both consume it, and without the cut the whole
   * gram-kernel subtree re-runs on each side (the text_ppl
   * double-subtree failure mode). `materialize` is the hook —
   * PlanShapeSpec passes identity to inspect the full lineage.
   * Fingerprint collisions (2^-64-scale xxhash64 over the hash
   * sequence) could merge two distinct span groups — the
   * [[ngramJaccardPairs]] trade.
   */
  def removeRepeatedSpans(df: DataFrame, id: Column, text: Column,
      n: Int = 4, minLen: Int = 8,
      materialize: DataFrame => DataFrame = reliableTruncate): DataFrame = {
    require(minLen >= n, "a span shorter than one gram cannot qualify")
    val words = TextAnalyticsOps.words(text)
    val grams = FanOut.fanOut(df)
      .select(id.as("doc_id"),
        posexplode(graft.functions.native.gram_hashes(text, n)))
      .toDF("doc_id", "pos", "gh")
    val dupPos = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos"), col("gh"))
    val runs = dupPos
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("p0"), max("pos").as("p1"),
        // content fingerprint: the run's gram hashes in position order
        xxhash64(concat_ws(",",
          transform(array_sort(collect_list(struct(col("pos"), col("gh")))),
            s => s.getField("gh").cast("string")))).as("fp"))
      .withColumn("len", (col("p1") - col("p0") + lit(n)).cast("bigint"))
      .filter(col("len") >= minLen)
    // run-granularity rows, two orders sparser than gram positions —
    // cut lineage HERE so survivorship's two consumers don't each
    // re-run the gram kernel subtree
    val runsM = materialize(runs)
    val firsts = runsM.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("p0"))).as("first"))
    val removed = runsM
      .join(firsts, Seq("fp"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("p0") === col("first.p0")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("p0"),
        (col("p1") + lit(n - 1)).as("pend"))).as("ivs"))
    df.select(id.as("doc_id"), words.as("w"))
      .join(removed, Seq("doc_id"), "left")
      .withColumn("kept", filter(col("w"), (_, i) =>
        !exists(coalesce(col("ivs"),
          array().cast("array<struct<p0:int,pend:int>>")),
          iv => i >= iv.getField("p0") && i <= iv.getField("pend"))))
      .select(col("doc_id"),
        size(col("w")).cast("bigint").as("n_tokens"),
        (size(col("w")) - size(col("kept"))).cast("bigint").as("n_removed"),
        md5(array_join(col("kept"), " ")).as("kept_hash"))
  }

  /** The distinct 64-bit hashes of grams occurring MORE THAN ONCE in
   *  `df` — the offline "dup model" the live span gate
   *  (`StreamOps.spanFlagStream`) broadcasts. Same kernel, hash
   *  family, and >1 rule as [[repeatedSpanStats]]; one explode + one
   *  two-phase count agg on the fixed-width hash. */
  def repeatedGramHashes(df: DataFrame, text: Column, n: Int = 4): DataFrame =
    FanOut.fanOut(df)
      .select(explode(graft.functions.native.gram_hashes(text, n)).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("gh")

  /**
   * Connected components over a near-dup pair graph by iterated
   * min-label propagation — the clustering step a real pipeline runs
   * after pairwise candidate generation (a pair list alone over-deletes:
   * A~B, B~C must collapse to ONE cluster even when A!~C). Each
   * iteration is one equi-join + one min-agg (both shuffles on the
   * 64-bit node id); iterations needed = graph diameter, which for
   * near-dup clusters is tiny. Runs to an exact fixpoint (label =
   * component minimum — deterministic, engine-reproducible; the oracle
   * computes the same fixpoint with a recursive CTE), with a
   * convergence check per round (a one-row count, not a data collect)
   * and per-round persist + lineage truncation so the plan doesn't grow
   * with iterations.
   *
   * Lineage truncation has a fault-tolerance trade: `localCheckpoint`
   * stores blocks on executors ONLY — fast, but after truncation there
   * is no recompute path, so one lost executor mid-iteration kills the
   * job. Fine locally and for short runs; at cluster scale set
   * `spark.sparkContext.setCheckpointDir(<reliable storage>)` first and
   * this operator automatically switches to reliable `checkpoint()`
   * (HDFS/object-store-backed, survives executor loss) every iteration.
   *
   * @param edges (id1, id2) undirected pairs
   * @param nodes one `id` column; isolated nodes become singletons
   * @return (id, cluster) — cluster = min node id of the component
   */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIters: Int = 30,
      driverCap: Long = LocalGraph.MaxDriverPairs): DataFrame = {
    // reliable checkpoint when a checkpoint dir is configured (cluster
    // mode); executor-memory localCheckpoint otherwise (local/dev).
    // Superseded snapshots go back through [[releaseTruncated]] as
    // soon as their successor materializes: Spark deletes reliable
    // files only with referenceTracking.cleanCheckpoints=true (and then
    // on driver GC), and localCheckpoint blocks wait for a driver GC —
    // a bench or service running many fixpoints between GCs held every
    // iteration's label set in the block manager, squeezing execution
    // memory for UNRELATED queries (measured as a uniform ~20%
    // slow-down across the suite once dedup_clusters_incremental's
    // two fixpoints ran per pass).
    def truncate(df: DataFrame): DataFrame = reliableTruncate(df)
    // DRIVER KERNEL behind [[DriverGate]] (rationale in [[LocalGraph]]):
    // under the cap the whole fixpoint — measured at 2-3 scheduled
    // jobs PER ROUND of label propagation (graph_components: 46 jobs
    // for 0.33 MB of total shuffle) — collapses to one union-find over
    // the collected pairs, bit-identical by construction (min-label
    // components are unique; LocalGraphSpec pins kernel == fixpoint on
    // randomized graphs, and the specs force this arm off with
    // driverCap = 0). A computed edge relation (minhash verify joins,
    // er_self's lev verification) is snapshotted ONCE by the gate, so
    // the collect and the fallback's symmetrizing union — which
    // references the edges twice — read the same blocks; a
    // pushed-filter table scan (graphComponents' backbone) is read
    // directly. Past the cap, or for non-long ids, the distributed
    // fixpoint below runs unchanged — the honest graph-scale form.
    val eSel = edges.select(col("id1").as("src"), col("id2").as("dst"))
    val longIds = eSel.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val e1 = DriverGate("connected_components", eSel,
        if (longIds) driverCap else 0L)(LocalGraph.pairOf) { pairs =>
      val lbl = LocalGraph.componentMinLabels(pairs)
      val lf = LocalGraph.pairFrame(edges.sparkSession,
        lbl.iterator, lbl.size.toLong, "id", "cluster")
      val lside =
        if (lbl.size.toLong <= MaxBroadcastNodes) broadcast(lf) else lf
      Some(nodes.select(col("id"))
        .join(lside, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster"), col("id")).as("cluster")))
    } match {
      case Right(out) => return out
      case Left(e) => e
    }
    val sym0 = truncate(
      e1.union(e1.select(col("dst").as("src"), col("src").as("dst"))))
    releaseTruncated(e1)
    // Propagate only over nodes that appear in an edge: at corpus scale
    // the near-dup subgraph is orders of magnitude smaller than the
    // node set, and isolated nodes are singleton clusters by definition
    // (unioned back, label = own id, at the end — no iteration cost).
    val labels0 = truncate(
      sym0.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster")))
    // MEASURED broadcast verdict for every round's two node-state
    // joins (the er_candidates/TriBroadcastEdges device): the label
    // relation is node-sized and CONSTANT across rounds, so one count
    // over the materialized snapshot decides the whole loop. Under the
    // budget, the edge relation never shuffles again — each round is
    // one BroadcastHashJoin + one node-sized min agg — where the
    // estimate-blind default planned a SortMergeJoin that re-shuffled
    // (and re-sorted) the EDGE side every round: localCheckpoint
    // reports UnknownPartitioning + default sizeInBytes, so the
    // planner can neither reuse the edge partitioning nor see how
    // small the labels are (plan-measured this round). Past the
    // budget the shuffled join stands — node state at graph scale
    // outgrows any executor, the honest fallback.
    val nLabels = labels0.count()
    val bcastLabels = nLabels <= MaxBroadcastNodes
    // Broadcast regime, LARGE edge sets: re-snapshot the symmetrized
    // edges partitioned on src — one cheap pass over the in-memory
    // blocks — so every round's neighbor-min agg (grouped by src,
    // partitioning preserved through the BroadcastHashJoin) runs with
    // NO Exchange (the ppr/lpa partitioning-preserving checkpoint).
    // SMALL edge sets (below [[HashSnapMinRows]]): the build costs
    // more than the node-sized per-round exchanges it removes (r21
    // verdict: the tiny CC riders paid it without amortizing), so the
    // rounds read sym0 through a narrow coalesce VIEW — no shuffle,
    // nothing rebuilt; each round pays one AQE-coalesced node-sized
    // exchange. Past the broadcast cap the rounds shuffle the edges
    // by dst for the label join anyway, so the extra pass is skipped
    // with the same verdict; with a reliable checkpoint dir configured
    // the fault-tolerance contract wins and the plain snapshot stands.
    var symHandle = sym0 // the live checkpoint HANDLE under `sym`
    val sym = if (bcastLabels &&
        edges.sparkSession.sparkContext.getCheckpointDir.isEmpty) {
      val nSym = sym0.count() // cheap: in-memory checkpointed blocks
      if (nSym >= HashSnapMinRows) {
        // scale-adaptive partition count (guide §2), built directly at
        // the final width — ceil(rows / rowsPerPartition), capped at
        // the session width — so the build is ONE shuffle (the former
        // wide-then-narrow adaptive path re-shuffled mid-size inputs
        // twice)
        val width =
          edges.sparkSession.sessionState.conf.numShufflePartitions
        val target = math.max(1L, math.min(width.toLong,
          (nSym + AdaptiveRowsPerPartition - 1) / AdaptiveRowsPerPartition))
          .toInt
        val s = org.apache.spark.sql.GraftColumnBridge
          .localCheckpointHashPartitioned(sym0, Seq("src"),
            numPartitions = Some(target))
        releaseTruncated(sym0)
        symHandle = s
        s
      } else adaptiveCoalesceView(sym0, nSym)
    } else sym0
    // Round jobs launch as many tasks as the LABEL snapshot has
    // partitions (the updated-labels join streams `labels`); narrow the
    // node state the same scale-adaptive way — a coalesce view over the
    // initial snapshot; each round's truncate then MATERIALIZES at the
    // narrow width, so the whole fixpoint stops launching
    // shuffle-width near-empty tasks on small graphs (the r21 verdict's
    // tiny-task storm on dedup_clusters_incremental's fixpoints).
    var labels = if (bcastLabels) adaptiveCoalesceView(labels0, nLabels)
      else labels0
    var converged = false
    var i = 0
    var prevLabels = labels0 // the live label checkpoint HANDLE
    while (!converged && i < maxIters) {
      val lblDst = labels.select(col("id").as("dst"), col("cluster"))
      val neighborMin = sym
        .join(if (bcastLabels) broadcast(lblDst) else lblDst, "dst")
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr_min"))
      // neighborMin has at most one row per node — the labels verdict
      // covers it
      val nm = neighborMin.withColumnRenamed("src", "id")
      val updated = truncate(labels
        .join(if (bcastLabels) broadcast(nm) else nm, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster")))
            .as("cluster"),
          (col("nbr_min") < col("cluster")).as("changed")))
      converged = updated.filter(col("changed")).limit(1).isEmpty
      // `updated`'s checkpoint is materialized (checkpoint() is eager),
      // so the previous label snapshot is unreachable — reclaim its
      // file AND its cached blocks now rather than waiting for a
      // driver GC that may never run
      releaseTruncated(prevLabels)
      prevLabels = updated
      labels = updated.select(col("id"), col("cluster"))
      i += 1
    }
    // an unconverged result is silently WRONG (labels are not yet the
    // component minimum and won't match the oracle fixpoint) — fail loud
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters iterations " +
        "(component diameter exceeds maxIters); raise maxIters")
    // the edge list is only read inside the loop; the returned plan
    // references just the final label snapshot (which must stay live).
    // Release via the HANDLE — `sym` itself may be a coalesce view
    // whose plan root is not the checkpoint.
    releaseTruncated(symHandle)
    nodes.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
