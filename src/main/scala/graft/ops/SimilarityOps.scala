package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Scale design (100 TB): the corpus stays partitioned and is streamed
 * once per search; queries are broadcast. Brute force is the exact
 * baseline (one BroadcastNestedLoopJoin, no shuffle of the corpus);
 * the LSH path buckets both sides so only same-bucket candidates are
 * scored (equi-join on bucket id — a hash join, no cross product).
 */
object SimilarityOps {

  /** Dot product in double precision, sequential accumulation order —
   *  reproducible across engines. Native codegen'd expression
   *  (graft.functions.FloatVectorDot); byte-identical results to the
   *  higher-order-function form [[dotHof]] but ~50x faster (the HOF
   *  lambda path is interpreted per element). */
  def dot(a: Column, b: Column): Column = graft.functions.native.vec_dot(a, b)

  /** Reference HOF formulation of [[dot]] (kept for cross-checking). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /**
   * Exact top-k cosine neighbors for `queryIds` against the whole corpus.
   * Output: (query_id, rank, neighbor_id, cos_r). Queries are broadcast;
   * the corpus side never shuffles for scoring (the only exchange is the
   * final per-query rank, keyed by query_id — tiny).
   */
  def cosineTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val scored = scoreAgainstQueries(emb, queryIds)
    cosineRankCut(scored, k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** The exact-cosine rank cut over a scored (query_id, vec_id, cos)
   *  frame — (cos desc, vec_id) tie-break, self-matches already
   *  excluded upstream. ONE definition shared by [[cosineTopK]] and
   *  the hybrid serving trigger, so a tie-break change cannot
   *  silently diverge stream from batch. */
  private[graft] def cosineRankCut(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("bigint"))
      .filter(col("rank") <= k)

  /** Score an EXTERNAL (query_id, q_emb, q_nrm) frame against a
   *  norm-carrying corpus relation — the [[scoreAgainstQueries]] body
   *  with the queries supplied rather than selected by id; shared
   *  with the hybrid serving trigger. query_ids must be DISJOINT from
   *  corpus vec_ids unless query-by-example self-exclusion is
   *  intended (the =!= filter removes equal-id pairs). */
  private[graft] def scoreExternalQueries(withNorm: DataFrame,
      q: DataFrame): DataFrame =
    withNorm.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb"),
        col("nrm"), col("q_nrm")))

  private def scoreAgainstQueries(emb: DataFrame, queryIds: Seq[Long]): DataFrame = {
    // fanOut the CORPUS side only: the brute scoring crossJoin does
    // |corpus|×|queries| sequential dots with the scan's parallelism —
    // a one-file local scan serialized it on one task (FanOut
    // contract; the query-side lookup stays on the raw scan, it reads
    // |queries| rows)
    val withNorm = FanOut.fanOut(emb).select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val q = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        l2Norm(col("embedding")).as("q_nrm"))
    scoreExternalQueries(withNorm, q)
  }

  /**
   * Random-hyperplane LSH bucket id: `bits` sign bits of projections onto
   * deterministic pseudorandom +/-1 hyperplanes (derived from hashes, so
   * identical on every executor with no broadcast). Native kernel
   * (graft.functions.LshBucket) — the composed column form is bits x dim
   * expression nodes and trips the JIT method-size limit.
   */
  /** Sequential-order double dot product — the FloatVectorDot kernel's
   *  (and DuckDB `list_sum`'s) accumulation order, so driver-side
   *  scalars reproduce on both engines. Shared by the PQ family. */
  private[graft] def seqDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { s += a(d).toDouble * b(d).toDouble; d += 1 }
    s
  }

  /**
   * The OR-amplified sign-LSH band relation (vec_id, band, bucket):
   * ONE [[lshBucket]] kernel call computes all bits×tables planes,
   * band sub-buckets are bit-sliced from it. THE single definition of
   * the banding used by [[embeddingNearDupsLsh]], [[knnGraph]], and
   * the embed_eval query — a change to the cap semantics or the
   * bit-slicing lands everywhere at once. `maxBucket` is the
   * mega-bucket guard (two-phase count collapses the hot bucket
   * map-side, then a left-semi filter drops buckets past the cap —
   * output-size bounding no join strategy provides; SkewSpec pins it
   * for both consumers).
   */
  private[graft] def bandedKeys(emb: DataFrame, bits: Int, tables: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    require(bits * tables <= 63, "bits * tables must fit in a long")
    val mask = (1L << bits) - 1
    // fanOut: the banded relation is small enough to BROADCAST into
    // its own candidate self-join, so the whole pre-distinct pair
    // stream (Σ bucket² rows through the broadcast probe — the heavy
    // cosine-candidate stage) executes with the SCAN's parallelism; a
    // one-file local scan serialized it on a single task (FanOut
    // contract: wide scans pass through untouched)
    val banded0 = FanOut.fanOut(emb).select(col("vec_id"),
        lshBucket(col("embedding"), bits * tables).as("allbits"))
      .select(col("vec_id"),
        posexplode(array((0 until tables).map(t =>
          shiftrightunsigned(col("allbits"), t * bits).bitwiseAND(lit(mask))): _*)))
      .toDF("vec_id", "band", "bucket")
    maxBucket match {
      case Some(cap) =>
        // lineage cut before the count/semi-join/self-join fan-out
        val bandedM = DedupOps.reliableTruncate(banded0)
        bandedM.join(
          bandedM.groupBy("band", "bucket").agg(count(lit(1)).as("bdf"))
            .filter(col("bdf") <= cap),
          Seq("band", "bucket"), "left_semi")
      case None => banded0
    }
  }

  def lshBucket(emb: Column, bits: Int = 12): Column =
    graft.functions.native.lsh_bucket(emb, bits)

  /**
   * Approximate top-k: score only same-LSH-bucket candidates. Recall is
   * tested against [[cosineTopK]] in the suite; at 100 TB this replaces
   * the corpus-wide scan with a bucket equi-join.
   */
  def annTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      bits: Int = 8): DataFrame = {
    val withB = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), bits).as("bucket"))
    val q = withB.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val scored = withB.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
    val rank = row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /** Sign table for [[randomProjection]]: deterministic ±1 vectors from
   *  XXH64((plane << 32) | dim, seed 43) parity — the same derivation
   *  family as [[lshBucket]]'s hyperplanes (seed 42), on an independent
   *  seed so the projection basis and the ANN bucket basis are
   *  uncorrelated. Identical on every executor with no broadcast, and
   *  re-derivable into oracle SQL (Oracles.embedProject). */
  def projectionSigns(planes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(planes)(p => Array.tabulate(dim) { d =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        (p.toLong << 32) | d.toLong, org.apache.spark.sql.types.LongType, 43L)
      if ((h & 1L) == 0L) 1.0f else -1.0f
    })

  /**
   * Random ±1 projection — Johnson–Lindenstrauss/Achlioptas
   * dimensionality reduction, the standard preprocessing that shrinks
   * a wide embedding column before ANN indexing or clustering at
   * corpus scale. Output is long-form (vec_id, plane, proj_r): plane
   * p's value is the signed sum Σ_d sign(p,d)·x_d in double precision,
   * sequential accumulation order (the [[dot]] contract — bit-stable
   * across engines; consumers wanting the isometry estimate scale by
   * 1/√planes, a constant deliberately not baked in). Scale shape:
   * pure row-local projection — one native [[dot]] kernel call per
   * plane against a literal sign vector, one Generate for the
   * long-form unpivot, ZERO shuffles; the scan reads only
   * (vec_id, embedding).
   */
  def randomProjection(emb: DataFrame, planes: Int, dim: Int): DataFrame = {
    val signs = projectionSigns(planes, dim)
    val projs = array(signs.map(s => dot(col("embedding"), typedlit(s.toSeq))): _*)
    emb.select(col("vec_id"), posexplode(projs))
      .toDF("vec_id", "plane", "proj")
      .select(col("vec_id"), col("plane").cast("bigint").as("plane"),
        round(col("proj"), 4).as("proj_r"))
  }

  /**
   * IVF (inverted-file) approximate top-k — the second scale path next
   * to [[annTopK]]'s LSH. Coarse quantizer: the first `nCells` vectors
   * by vec_id act as centroids (a deterministic "training sample"; a
   * production deployment would k-means them — the cell/probe structure
   * is identical either way). Every corpus vector is assigned to its
   * nearest centroid by cosine (ties -> smaller centroid id); a query
   * probes its `nProbe` nearest cells and scores only vectors in them.
   *
   * Scale shape: the centroid matrix is collected once (nCells x dim —
   * the trained quantizer artifact) and embedded as literals, so cell
   * assignment is a row-local codegen'd projection over the corpus —
   * zero shuffle, exactly how IVF ships its quantizer to every node.
   * The probe join is a broadcast hash equi-join on cell id; only
   * same-cell candidates are scored, never the whole corpus.
   */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame =
    ivfTopKWith(emb, queryIds, k, seedCentroids(emb, nCells), nProbe)

  /** The deterministic "training sample" quantizer: the first `nCells`
    * vectors by vec_id. [[kmeansCentroids]] is the trained variant. */
  def seedCentroids(emb: DataFrame, nCells: Int): Array[Array[Float]] =
    emb.filter(col("vec_id") < nCells)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)

  /** Vector cap of the driver-side Lloyd kernel's [[DriverGate]]
   *  (a vec_id plus a 64-dim float vector per row). */
  private[graft] lazy val KmDriverMaxVectors: Long =
    DriverGate.cap(DriverGate.KmVectorBytes)

  /** Spark's FLOAT → DECIMAL(20,10) cast, driver-side: the decimal
   *  string value of the widened double (BigDecimal.valueOf ==
   *  Decimal(BigDecimal(d)) for ≤17-significant-digit inputs) rounded
   *  HALF_UP to scale 10, returned as the UNSCALED long so the
   *  per-cell sums are plain exact long additions. */
  private def decimalUnscaled10(v: Float): Long =
    java.math.BigDecimal.valueOf(v.toDouble)
      .setScale(10, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** The [[kmeansCentroids]] rounds over driver-collected vectors —
   *  same seed rule (vec_id < k, ascending), same assignment kernel
   *  ([[graft.functions.VectorMath.ivfProbeCells]], nProbe = 1), same
   *  scale-10 decimal sums (held as unscaled longs — exact and
   *  order-independent) and the same exact-sum → double → /n → float
   *  rounding chain, so the trained centroids are bit-identical to the
   *  distributed rounds (SimilarityOpsSpec pins equality). None when a
   *  sum would overflow the unscaled-long representation or no seed
   *  vectors exist — the caller falls back to the distributed rounds. */
  private[graft] def kmeansLloydLocal(vecs: Array[(Long, Array[Float])],
      k: Int, iters: Int): Option[Array[Array[Float]]] = {
    var cents = vecs.filter(_._1 < k).sortBy(_._1).map(_._2.clone)
    if (cents.isEmpty) return None
    try {
      // iteration-invariant per-vector inputs, built once: the kernel's
      // ArrayData view and the scale-10 unscaled longs of every element
      val views = vecs.map(v =>
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v._2))
      val units = vecs.map(_._2.map(decimalUnscaled10))
      val dim = vecs.iterator.map(_._2.length).max
      for (_ <- 0 until iters) {
        val cNorms = cents.map(c =>
          math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
        val nc = cents.length
        val sums = Array.ofDim[Long](nc, dim)
        val cnts = Array.ofDim[Long](nc, dim)
        var i = 0
        while (i < vecs.length) {
          val cell = graft.functions.VectorMath.ivfProbeCells(
            views(i), cents, cNorms, 1).getInt(0)
          val u = units(i)
          var d = 0
          while (d < u.length) {
            sums(cell)(d) = Math.addExact(sums(cell)(d), u(d))
            cnts(cell)(d) += 1
            d += 1
          }
          i += 1
        }
        val next = cents.map(_.clone)
        var c = 0
        while (c < nc) {
          var d = 0
          while (d < math.min(dim, next(c).length)) {
            if (cnts(c)(d) > 0)
              next(c)(d) = (java.math.BigDecimal.valueOf(sums(c)(d), 10)
                .doubleValue() / cnts(c)(d)).toFloat
            d += 1
          }
          c += 1
        }
        cents = next
      }
      Some(cents)
    } catch {
      case _: ArithmeticException => None
    }
  }

  /**
   * Lloyd's k-means over the corpus: assign every vector to its
   * nearest-by-cosine centroid (the same [[graft.functions.IvfProbeCells]]
   * kernel the query path uses), recompute each centroid as the mean of
   * its members, repeat. Per-dimension sums are DECIMAL-exact (a double
   * sum is accumulation-order dependent across partitions — the trained
   * centroids would differ run to run and could never be
   * oracle-reproduced); the only float rounding is the final
   * exact-sum → double → /n → float chain, which any engine reproduces
   * deterministically. Each iteration is one row-local assignment
   * projection + one two-phase hash agg whose shuffle carries
   * k × dim partials per map partition — the corpus never shuffles.
   * Empty cells keep their previous centroid.
   */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int,
      driverCap: Long = KmDriverMaxVectors): Array[Array[Float]] = {
    // DRIVER KERNEL behind [[DriverGate]]: each distributed
    // Lloyd round is one serial assignment+explode+agg+collect job over
    // a corpus whose k × dim decimal partials fit in kilobytes —
    // measured as the dominant job count of every quantizer consumer
    // (sim_pq 29 jobs / 2.5 s, sim_ivfpq 33 / 2.7, JobProbe
    // sf0.1/32c). Over a table scan the gate is ONE bounded collect of
    // at most driverCap + 1 vectors (one job over a one-file table):
    // under the cap that is the whole corpus, and the rounds run
    // locally through the SAME VectorMath.ivfProbeCells assignment
    // kernel and the same scale-10 HALF_UP decimal sums (exact,
    // order-independent), so the trained centroids are bit-identical
    // by construction (SimilarityOpsSpec pins local == distributed).
    // Past the cap the corpus takes the distributed rounds — the
    // honest 100 TB form — as does a long-sum overflow (impossible
    // under the cap for unit-scale embeddings, but checked).
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val corpus = DriverGate("kmeans", vecs, driverCap)(
        r => (r.getLong(0), r.getSeq[Float](1).toArray))(
        kmeansLloydLocal(_, k, iters)) match {
      case Right(c) => return c
      case Left(f) => f
    }
    var cents = seedCentroids(corpus, k)
    for (_ <- 0 until iters) {
      val cNorms = cents.map(c =>
        math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
      val stats = corpus
        .withColumn("cell", element_at(
          graft.functions.native.ivf_probe_cells(col("embedding"), cents, cNorms, 1), 1))
        .select(col("cell"), posexplode(col("embedding")))
        .toDF("cell", "d", "v")
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("v").cast("decimal(20,10)")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone)
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
      }
      cents = next
    }
    if (corpus ne vecs) DedupOps.releaseTruncated(corpus) // the gate's snapshot
    cents
  }

  /** IVF top-k with a k-means-trained quantizer (the production IVF
    * shape: train on the corpus, then probe). */
  def ivfTopKKmeans(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int, iters: Int, nProbe: Int): DataFrame =
    ivfTopKWith(emb, queryIds, k, kmeansCentroids(emb, nCells, iters), nProbe)

  /**
   * IVF probe/score with an explicit quantizer. Cell assignment / probe
   * ranking is ONE native expression node
   * (graft.functions.IvfProbeCells): nearest cells by cosine, best
   * first, ties → smaller cid, zero-norm → −∞ score (ranks last, same
   * on the DuckDB side via nullif/coalesce). The quantizer rides along
   * as a codegen reference object, not as plan literals — the composed
   * per-centroid-struct form was a ~2000-node tree that (a) round 2's
   * self-referencing when-fold made exponential (the 2 GiB-plan hang)
   * and (b) even flattened, cost ~66 s of driver-side constraint
   * propagation once `cell` became a join key.
   */
  def ivfTopKWith(emb: DataFrame, queryIds: Seq[Long], k: Int,
      centArr: Array[Array[Float]], nProbe: Int): DataFrame = {
    // same sequential double fold as l2Norm/the oracle: bit-identical
    val cNorms = centArr.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    // fanOut the corpus/assignment side only (the scoreAgainstQueries
    // hazard): cell assignment + probe-join cosines run with the
    // scan's parallelism; the query-side probe lookup stays narrow
    val assigned = FanOut.fanOut(withNorm).withColumn("cell", element_at(
      graft.functions.native.ivf_probe_cells(col("embedding"), centArr, cNorms, 1), 1))
    val probes = withNorm.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(graft.functions.native.ivf_probe_cells(col("embedding"),
          centArr, cNorms, nProbe)).as("cell"))
    val scored = assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("embedding"), col("q_emb"), col("nrm"), col("q_nrm")))
    val rank = row_number().over(
      Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_r"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): k-means-cluster the
   * embedding corpus, then mark within-cluster semantic near-duplicates
   * (cosine >= threshold) and keep one survivor per duplicate pair —
   * the smaller vec_id, the same canonical-survivor convention as
   * [[graft.ops.DedupOps.exactGroups]]. (The published policy keeps one
   * representative per duplicate group chosen by centroid distance;
   * the smaller-id rule is the deterministic, engine-reproducible
   * variant: any vector with a smaller-id in-cell near-duplicate is
   * dropped — pair-wise, not connected components, so a chain a~b, b~c
   * drops both b and c even when a!~c.) Output: every corpus vector as
   * (vec_id, cell, keep).
   *
   * Scale shape: training is [[kmeansCentroids]] (iters corpus passes,
   * shuffles carry k x dim decimal partials); assignment is a row-local
   * [[graft.functions.IvfProbeCells]] projection. The near-dup scan is
   * a self equi-join on cell id — pair work is Σ|cell|², so k must
   * grow with the corpus (the paper uses ~100k clusters at web scale)
   * to keep cells bounded; the join shuffles each vector once,
   * hash-partitioned by cell, never all-pairs.
   */
  def semDedup(emb: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val cents = kmeansCentroids(emb, k, iters)
    val cNorms = cents.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    // fanOut: the self-join below broadcasts one side, so assignment
    // AND the within-cell pair cosines execute with the scan's
    // parallelism (the bandedKeys hazard)
    val assigned = FanOut.fanOut(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"))
      .withColumn("cell", element_at(
        graft.functions.native.ivf_probe_cells(col("embedding"), cents, cNorms, 1), 1))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding"),
        col("a.nrm"), col("b.nrm")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dropped").isNull.as("keep"))
  }

  /**
   * Centroid-distance OUTLIER flagging — the prototype-based quality
   * filter (SSL-prototypes style: vectors far from every learned
   * prototype are likely noise/low-quality) over the same k-means
   * quantizer [[semDedup]] and the IVF queries train. Every vector is
   * assigned to its nearest centroid (the shared [[graft.functions
   * .IvfProbeCells]] row-local kernel — identical cells to semDedup by
   * construction) and scored by cosine TO THAT CENTROID; vectors below
   * `threshold` are flagged. Output: (vec_id, cell, cos_r, is_outlier)
   * for every corpus vector — the downstream cut is the consumer's
   * (pipeline_quality_cut's offline-statistic/online-filter split).
   *
   * Scale shape: training is [[kmeansCentroids]] (the k×dim collected
   * quantizer artifact); scoring is fully row-local — the per-cell
   * cosines are k literal-vector [[dot]] kernels and the own-cell pick
   * is one element_at, so the corpus never shuffles and the query adds
   * ZERO exchanges beyond the training passes.
   */
  def centroidOutliers(emb: DataFrame, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val cents = kmeansCentroids(emb, k, iters)
    // fanOut HERE, not in centroidScore — the scoring expressions are
    // shared with the live gate, whose streaming frames must not hit
    // the batch width probe (FanOut contract: scan-stage frames only)
    centroidScore(FanOut.fanOut(emb.select(col("vec_id"), col("embedding"))),
      cents, threshold)
      .select(col("vec_id"), col("cell"), col("cos_r"), col("is_outlier"))
  }

  /**
   * Row-local own-centroid scoring against an ALREADY-TRAINED
   * quantizer — the apply stage of [[centroidOutliers]], factored so
   * the live admission gate (`StreamOps.outlierGateStream`) scores
   * with the IDENTICAL expressions (centroids ride as codegen
   * reference objects / literals — no stream-static join to re-run
   * per micro-batch). Appends (cell, cos_r, is_outlier) to `df`,
   * which must carry an `embedding` column; every input column passes
   * through. Zero-norm vectors (or centroids) make cosine's
   * dot/(|a||b|) divide by zero -> NULL, which would leak NULL flags
   * where the oracle's guarded expression coalesces to -infinity and
   * flags the vector — the coalesce mirrors that guard exactly.
   */
  def centroidScore(df: DataFrame, cents: Array[Array[Float]],
      threshold: Double): DataFrame = {
    val cNorms = cents.map(c =>
      math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))
    val assigned = df
      .withColumn("nrm__", l2Norm(col("embedding")))
      .withColumn("cell", element_at(
        graft.functions.native.ivf_probe_cells(col("embedding"), cents, cNorms, 1), 1))
    val cosArr = array(cents.indices.map(i =>
      cosine(col("embedding"), typedlit(cents(i).toSeq), col("nrm__"),
        lit(cNorms(i)))): _*)
    assigned.withColumn("cs__", coalesce(
        element_at(cosArr, col("cell") + 1), lit(Double.NegativeInfinity)))
      .withColumn("cos_r", round(col("cs__"), 4))
      .withColumn("is_outlier", col("cs__") < threshold)
      .drop("nrm__", "cs__")
  }

  /**
   * LSH-blocked near-duplicate pairs — the 100 TB path next to the
   * exact [[embeddingNearDups]]: `tables` independent bands of `bits`
   * sign bits each (OR-amplification — a pair is a candidate if ANY
   * band's sub-bucket matches, the standard recall fix for moderate
   * cosine thresholds where a single wide bucket misses almost
   * everything). One [[lshBucket]] kernel call computes all
   * bits×tables planes; band sub-buckets are bit-sliced from it.
   * Candidates flow as distinct (id1, id2) pairs through a self
   * equi-join on (band, bucket) — shuffle hash join on small keys,
   * no broadcast, no nested loop; vectors are re-joined by id only
   * for the surviving candidates (documents-never-shuffle pattern,
   * same as the text dedup ops). Recall is the LSH approximation
   * itself; the oracle (Oracles.embedNearDupLsh) mirrors the banding
   * exactly via the deterministic sign table, and SimilarityOpsSpec
   * asserts pairs ⊆ the exact variant's pairs.
   */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double,
      bits: Int = 4, tables: Int = 8,
      maxBucket: Option[Int] = None): DataFrame = {
    // mega-bucket guard (the minhashCandidates maxBandDf device): a
    // vector copied into millions of rows — or any band bucket grown
    // past `maxBucket` — has inherently quadratic pair fan-out; when
    // set, such buckets are dropped before the self-join. The dropped
    // cluster's right home is the exact-dedup path. Default None
    // preserves the oracle-gated semantics; SkewSpec pins the capped
    // behavior. Banding + cap live in [[bandedKeys]].
    val banded = bandedKeys(emb, bits, tables, maxBucket)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    cand
      .join(withNorm.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1")), "id1")
      .join(withNorm.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2")), "id2")
      .withColumn("cos", cosine(col("e1"), col("e2"), col("n1"), col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos_r"))
  }

  /**
   * Approximate k-NN GRAPH — every vector's top-k neighbors among its
   * LSH candidates: the standard preprocessing for graph-based corpus
   * work (NN-descent seeding, similarity-graph clustering, graph-walk
   * dedup). Candidate generation is [[embeddingNearDupsLsh]]'s
   * OR-amplified banding verbatim, but kept in BOTH orientations
   * (a graph row is per-node, so (a,b) and (b,a) both flow) and with
   * no cosine floor — the cut is the per-node rank ≤ k. Nodes whose
   * bands contain no other vector emit no rows (the LSH recall
   * contract; raise `tables` to densify).
   *
   * Scale shape: identical to the near-dup path — one [[lshBucket]]
   * kernel call, band equi-join on small keys, candidates as (src,
   * nb) id pairs, vectors re-joined BY ID for scoring only; the rank
   * window hash-partitions by src (fixed-width rows). The corpus
   * never shuffles whole; Σ per-bucket² bounds pair work.
   *
   * `maxBucket` is the same mega-bucket guard as
   * [[embeddingNearDupsLsh]]: a vector duplicated d× puts d copies in
   * every band bucket it touches, making the candidate stage O(d²)
   * and filling every duplicate's neighbor list with copies of
   * itself. When set, buckets deeper than the cap are dropped before
   * the self-join (two-phase count — map-side combine collapses the
   * hot bucket — then a semi-join filter); duplicate clusters belong
   * to the exact-dedup path, not a k-NN graph. Default None preserves
   * the oracle-gated semantics; SkewSpec fixture B pins the capped
   * behavior.
   */
  def knnGraph(emb: DataFrame, k: Int, bits: Int = 4,
      tables: Int = 8, maxBucket: Option[Int] = None): DataFrame = {
    val banded = bandedKeys(emb, bits, tables, maxBucket)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("nb"))
      .distinct()
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val scored = cand
      .join(withNorm.select(col("vec_id").as("src"), col("embedding").as("e1"),
        col("nrm").as("n1")), "src")
      .join(withNorm.select(col("vec_id").as("nb"), col("embedding").as("e2"),
        col("nrm").as("n2")), "nb")
      .withColumn("cos", cosine(col("e1"), col("e2"), col("n1"), col("n2")))
    val rank = row_number().over(
      Window.partitionBy("src").orderBy(col("cos").desc, col("nb")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("rank"),
        col("nb").as("neighbor_id"), round(col("cos"), 4).as("cos_r"))
  }

  // Live-gate banding defaults: wider buckets than the candidate join
  // (12 sign bits per band vs 4) because an ADMISSION gate wants band
  // equality to mean "very likely near-dup" — at 4 bits a realistic
  // corpus occupies all 16 buckets of every band and the gate would
  // admit nothing. 4 bands of 12 bits = 48 plane bits, inside the
  // kernel's 63-bit budget.
  val GateBandBits = 12
  val GateBandTables = 4

  /** DISTINCT combined LSH band keys of a corpus — the learn stage of
   *  the embedding near-dup admission gate: [[lshBucket]]'s
   *  sign-projection bits sliced `bits` at a time, key = `(band <<
   *  bits) | bucket` (disjoint fields, so `+` == `|`). At most
   *  `tables · 2^bits` distinct keys regardless of corpus size —
   *  the broadcast stays bounded even at 100 TB. */
  def embeddingBandKeys(emb: DataFrame, bits: Int = GateBandBits,
      tables: Int = GateBandTables): DataFrame = {
    require(bits * tables <= 63, "bits * tables must fit in a long")
    val mask = (1L << bits) - 1
    emb.select(lshBucket(col("embedding"), bits * tables).as("allbits"))
      .select(explode(array((0 until tables).map(t =>
        shiftrightunsigned(col("allbits"), t * bits).bitwiseAND(lit(mask)) +
          lit(t.toLong << bits)): _*)).as("band_key"))
      .distinct()
  }

  /**
   * Batch embedding near-dup ADMISSION: keep exactly the vectors
   * sharing NO LSH band sub-bucket with any corpus vector — the
   * relational twin of `StreamOps.embedNearDupGateStream`, pinned
   * equal by the suite (same banding arithmetic: the gate's kernel
   * computes the identical `(band << bits) | bucket` keys). Shape:
   * vectors explode to (vec_id, band_key) — `tables` fixed-width rows
   * each — semi-join the corpus key set (≤ tables·2^bits rows,
   * broadcast) to find colliders, then one id-only anti join back;
   * embeddings themselves never shuffle.
   */
  def bandCollideAdmitEmbedding(vecs: DataFrame, corpus: DataFrame,
      bits: Int = GateBandBits, tables: Int = GateBandTables): DataFrame = {
    val mask = (1L << bits) - 1
    val colliding = vecs
      .select(col("vec_id"),
        lshBucket(col("embedding"), bits * tables).as("allbits"))
      .select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          shiftrightunsigned(col("allbits"), t * bits).bitwiseAND(lit(mask)) +
            lit(t.toLong << bits)): _*)).as("band_key"))
      .join(broadcast(embeddingBandKeys(corpus, bits, tables)),
        Seq("band_key"), "left_semi")
      .select("vec_id").distinct()
    vecs.join(colliding, Seq("vec_id"), "left_anti")
  }

  /**
   * Product-quantization approximate top-k (Jégou, Douze & Schmid
   * 2011, PQ with ADC scoring) — the memory-side ANN rung next to
   * IVF's partition-side one: the `dim`-float corpus compresses to
   * `m` one-byte codes per vector (here m sub-spaces of dim/m dims,
   * each quantized by its own `ks`-codeword k-means), and queries
   * score vectors WITHOUT touching the original floats — approx
   * dot(q, x) = Σ_m dot(q_m, codeword(x, m)), the per-query
   * asymmetric-distance table of m·ks scalars. At 100 TB this is the
   * operator that fits a corpus in memory: 64 floats → 4 bytes per
   * vector (64×), with scan cost m table lookups instead of dim
   * multiplies.
   *
   * Determinism contract (what lets a PQ index sit under a DuckDB
   * oracle): per-subspace codebooks come from the SAME decimal-exact
   * Lloyd as [[kmeansCentroids]] (seed = first ks vectors' slices,
   * cosine argmax assignment with the IvfProbeCells tie rule);
   * encode is the same kernel; ADC entries and query norms are
   * computed driver-side in the kernel's sequential accumulation
   * order, so the oracle's `list_sum` reproduces them; the approx
   * cosine divides by the RECONSTRUCTION norm sqrt(Σ_m ‖codeword‖²).
   * Scale shape: training is m small Lloyd runs (model artifacts);
   * encoding is m kernel calls per row, row-local; scoring joins the
   * 4-code relation to a broadcast |queries|-row table of literal ADC
   * arrays — the corpus floats are read ONCE (encode) and never
   * shuffle; the rank cut is the WindowGroupLimit contract.
   */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], kTop: Int, dim: Int,
      m: Int = 4, ks: Int = 8, iters: Int = 2): DataFrame = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val sub = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    // one Lloyd codebook per sub-vector slice
    val books = (0 until m).map(i => kmeansCentroids(
      emb.select(col("vec_id"),
        slice(col("embedding"), i * sub + 1, sub).as("embedding")),
      ks, iters))
    require(books.length == m && books.forall(_.nonEmpty),
      s"expected $m non-empty sub-codebooks, got shapes " +
        books.map(_.length).mkString(","))
    val bookNorms = books.map(_.map(c => math.sqrt(seqDot(c, c))))
    val norms2 = books.map(_.map(c => seqDot(c, c)).toSeq)
    val qvecs = emb.filter(col("vec_id").isInCollection(queryIds))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // a queryId absent from the corpus yields no rows — the sibling
    // top-k ops' relational-filter semantics, not a driver crash
    val qdf = queryIds.sorted.filter(qvecs.contains).map { qid =>
      val q = qvecs(qid)
      val adc = (0 until m).map(i => (0 until ks).map(c =>
        seqDot(q.slice(i * sub, (i + 1) * sub), books(i)(c))).toSeq).toSeq
      (qid, adc, math.sqrt(seqDot(q, q)))
    }.toDF("query_id", "adc", "qn")
    // fanOut: the m-way encode and the ADC scoring join below run
    // with the scan's parallelism (the scoreAgainstQueries hazard)
    val codes = FanOut.fanOut(emb).select(col("vec_id") +:
      (0 until m).map(i => element_at(graft.functions.native.ivf_probe_cells(
        slice(col("embedding"), i * sub + 1, sub), books(i), bookNorms(i), 1),
        1).as(s"c$i")): _*)
    val dsum = (0 until m).map(i =>
      element_at(element_at(col("adc"), i + 1), col(s"c$i") + 1))
      .reduce(_ + _)
    val xn2 = (0 until m).map(i =>
      element_at(typedlit(norms2(i)), col(s"c$i") + 1)).reduce(_ + _)
    val scored = codes.join(broadcast(qdf), col("vec_id") =!= col("query_id"))
      .withColumn("score", coalesce(
        dsum / nullif(col("qn") * sqrt(xn2), lit(0.0)),
        lit(Double.NegativeInfinity)))
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("score_r"))
  }

  /**
   * Matryoshka / truncated-dimension retrieval EVAL (Kusupati et al.
   * 2022's MRL deployment question): recall@k of brute-force
   * retrieval that scores only the FIRST d′ dimensions, against the
   * full-dimension exact top-k, for a ladder of prefix widths — the
   * monitoring query that tells an index operator how many dimensions
   * the corpus actually needs (store/scan cost is linear in d′).
   * Output: one row per rung (dims, n_hits, recall_r); the full-width
   * rung is the built-in sanity anchor (recall exactly 1).
   *
   * Determinism: each rung is [[cosineTopK]]'s scoring (sequential-
   * order double dots over the prefix slices, vec_id tie-break); hit
   * counts are exact integers joined on (query_id, neighbor_id);
   * recall is ONE division rounded once. Scale shape: an EVAL — runs
   * on sampled queries at monitoring cadence; the full ranking is
   * localCheckpoint-materialized once (it feeds the hits join, the
   * pair total, and the rung at `fullDim`, which would otherwise
   * re-run the identical brute pass), the remaining rungs are
   * broadcast-query scans with the slices fused into the scan, hits
   * join on id pairs only, output |dims| rows.
   */
  def matryoshkaEval(emb: DataFrame, queryIds: Seq[Long], k: Int,
      dims: Seq[Int], fullDim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the most expensive subtree (a full brute scoring pass) feeds
    // the hits join, the pair total, AND the full-width rung —
    // materialize it once (left to the ContextCleaner afterwards,
    // the triangleCensus edge-list convention)
    val full = cosineTopK(emb, queryIds, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val truncs = dims.map { d =>
      if (d >= fullDim) // the prefix IS the whole vector: reuse `full`
        full.select(lit(d.toLong).as("dims"), col("query_id"),
          col("neighbor_id"))
      else {
        val sliced = emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        cosineTopK(sliced, queryIds, k)
          .select(lit(d.toLong).as("dims"), col("query_id"),
            col("neighbor_id"))
      }
    }.reduce(_.unionByName(_))
    val hits = truncs.join(full, Seq("query_id", "neighbor_id"))
      .groupBy("dims").agg(count(lit(1)).as("h"))
    val tot = full.agg(count(lit(1)).as("n_pairs"))
    dims.map(_.toLong).toDF("dims")
      .join(hits, Seq("dims"), "left")
      .crossJoin(broadcast(tot))
      .select(col("dims"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        round(coalesce(col("h"), lit(0L)) / col("n_pairs"), 6).as("recall_r"))
  }

  /**
   * Two-stage retrieval: compressed candidate generation + exact
   * re-rank (Jégou, Douze & Schmid 2011 §V.D's re-ranking stage —
   * the shape every production retrieval stack serves from). Stage 1
   * proposes `cand` candidates per query from [[pqTopK]]'s codes
   * alone; stage 2 fetches the full-precision vectors of ONLY those
   * candidates and scores them exactly. By construction recall@k of
   * the composition equals stage 1's recall@cand — re-ranking turns
   * a cheap low-precision index into a high-recall retriever at the
   * cost of |queries|·cand exact scores, the trade that makes 64×
   * compression usable.
   *
   * Scale shape: stage 1 is [[pqTopK]] verbatim (corpus floats read
   * once at encode, never shuffled; its rank cut at `cand` is the
   * same WindowGroupLimit contract). The candidate list is
   * |queries|·cand (query_id, neighbor_id) rows — BROADCAST into an
   * equi-join on vec_id, so the full-precision fetch streams the
   * corpus once map-side and keeps only candidate rows; the exact
   * cosines touch |queries|·cand vectors however large the corpus
   * (at 100 TB: the only full-precision reads after indexing are
   * candidate fetches). Stage-2 scores are EXACT — any (query,
   * neighbor) pair this shares with [[cosineTopK]] carries the
   * identical score, and the neighbor set is always a subset of the
   * stage-1 candidate set (both spec-pinned).
   */
  def rerankTopK(emb: DataFrame, queryIds: Seq[Long], kTop: Int,
      cand: Int, dim: Int, m: Int = 4, ks: Int = 8, iters: Int = 2)
      : DataFrame = {
    require(cand >= kTop, "candidate pool must cover the final top-k")
    val candidates = pqTopK(emb, queryIds, cand, dim, m, ks, iters)
      .select(col("query_id"), col("neighbor_id"))
    val q = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        l2Norm(col("embedding")).as("q_nrm"))
    // full-precision fetch: corpus streams once through the broadcast
    // candidate join; only |queries|*cand rows survive to scoring
    val fetched = emb.join(broadcast(candidates),
      col("vec_id") === col("neighbor_id"))
    val scored = fetched.join(broadcast(q), Seq("query_id"))
      .withColumn("nrm", l2Norm(col("embedding")))
      .withColumn("score", coalesce(
        dot(col("embedding"), col("q_emb")) /
          nullif(col("nrm") * col("q_nrm"), lit(0.0)),
        lit(Double.NegativeInfinity)))
    val rank = row_number().over(Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score_r"))
  }

  /**
   * SQ8 scalar quantization (the faiss `SQ8` workhorse next to PQ):
   * each dimension is min/max-scaled to one unsigned byte, so a
   * `dim`-float vector stores as `dim` bytes (4× compression) and is
   * decoded row-locally to the bucket MIDPOINT
   * `mn + (code + 0.5)·(mx − mn)/255` — the reconstruction whose
   * worst-case per-dim error is half a quantization step. Scoring is
   * asymmetric (full-precision query against decoded corpus), the
   * ADC convention.
   *
   * Determinism contract (how a trained quantizer sits under a DuckDB
   * oracle): the model artifact is the per-dim min/max — EXACT
   * aggregates of float32 values, no summation — and the code is
   * `clamp(floor((x − mn)·255/(mx − mn)))` with every operand an
   * IEEE double in the same association order on both engines; the
   * decoded value is rounded once to float32 (round-to-nearest-even
   * on both), and the cosine is the shared sequential-order double
   * dot. A constant dimension (mx = mn) decodes to mn by definition.
   *
   * Scale shape: ONE corpus pass computes the 2·dim min/max scalars
   * (a two-phase agg with no grouping — the model artifact is 512
   * bytes at any corpus size); encode/decode are row-local
   * expressions fused into the scan (production stores the code
   * array — dim bytes/vector — and decodes at scoring time exactly as
   * here); scoring joins the decoded corpus to a BROADCAST query
   * table and never shuffles corpus floats; the rank cut is the
   * WindowGroupLimit contract. Memory-side trade vs [[pqTopK]]: 16×
   * more bytes per vector than m=4 codes, near-exact recall —
   * SimilarityOpsSpec pins recall@10 strictly above PQ's and ≥ 0.9.
   */
  def sq8TopK(emb: DataFrame, queryIds: Seq[Long], kTop: Int,
      dim: Int): DataFrame = {
    // the model artifact: per-dim min/max (exact, order-independent)
    val statsAggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("embedding"), i + 1)).as(s"mn$i"),
      max(element_at(col("embedding"), i + 1)).as(s"mx$i")))
    val st = emb.agg(statsAggs.head, statsAggs.tail: _*).collect()(0)
    val mins = (0 until dim).map(i => st.getFloat(2 * i).toDouble)
    val maxs = (0 until dim).map(i => st.getFloat(2 * i + 1).toDouble)
    val mnC = typedlit(mins)
    val mxC = typedlit(maxs)
    // encode + decode fused, row-local: code = clamp(floor((x-mn)*255/(mx-mn)))
    // fanOut: decode + the |corpus|×|queries| scoring crossJoin run
    // with the scan's parallelism (the scoreAgainstQueries hazard)
    val recon = FanOut.fanOut(emb).select(col("vec_id"),
      transform(col("embedding"), (x, i) => {
        val mn = element_at(mnC, i + 1)
        val mx = element_at(mxC, i + 1)
        val code = least(lit(255L), greatest(lit(0L),
          floor((x.cast("double") - mn) * lit(255.0) / (mx - mn))))
        when(mx === mn, mn.cast("float"))
          .otherwise((mn + ((code + lit(0.5)) * (mx - mn)) / lit(255.0))
            .cast("float"))
      }).as("embedding"))
    // asymmetric scoring: full-precision queries vs decoded corpus
    val q = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        l2Norm(col("embedding")).as("q_nrm"))
    val scored = recon.withColumn("nrm", l2Norm(col("embedding")))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", coalesce(
        dot(col("embedding"), col("q_emb")) /
          nullif(col("nrm") * col("q_nrm"), lit(0.0)),
        lit(Double.NegativeInfinity)))
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("score_r"))
  }

  /**
   * IVF-PQ (IVFADC, Jégou, Douze & Schmid 2011 §IV) — the composition
   * of the partition-side and memory-side ANN rungs, and the
   * production 100 TB shape: a coarse [[kmeansCentroids]] quantizer
   * partitions the corpus into cells, each vector stores only its
   * cell id plus `m` residual codes (residual = vector − its cell
   * centroid, quantized by per-subspace codebooks shared across
   * cells), and a query probes `nProbe` cells scoring candidates from
   * lookup tables without touching the original floats:
   *
   *   approx dot(q, x) = dot(q, c_cell) + Σ_m dot(q_m, codeword_m)
   *
   * Residual quantization is what recovers plain PQ's recall at the
   * SAME bytes per vector: the codebooks see the residual
   * distribution, whose spread around zero is what remains after the
   * coarse quantizer explains the cell structure — each codeword
   * covers far less space than one trained on raw vectors.
   *
   * Determinism contract (how a trained two-level index sits under a
   * DuckDB oracle): the coarse quantizer is the decimal-exact Lloyd;
   * residuals are float32 subtraction (IEEE-exact on both engines);
   * residual codebooks are the same Lloyd over residual slices
   * (seeded by the first `ks` residuals); all score terms — the
   * query–centroid dot, ADC entries, the reconstruction norm's
   * centroid/cross/codeword pieces — are sequential-order double
   * accumulations, summed in subspace order with fixed grouping, so
   * DuckDB's `list_sum` reproduces every scalar.
   *
   * Scale shape: training is model-artifact-sized collects (the
   * coarse k×dim centroids + m ks×(dim/m) codebooks); encoding is
   * row-local kernel calls; scoring joins the (cell, codes) relation
   * to a BROADCAST probe table of |queries|·nProbe rows carrying
   * literal ADC arrays, so only probed cells are read and the corpus
   * floats never shuffle; the rank cut is the WindowGroupLimit
   * contract. (Training passes here re-derive the residual relation
   * per Lloyd job; a production run materializes residuals once —
   * checkpoint or table — before training.) The score denominator's
   * cell/code tables (‖c‖², cross terms, ‖codeword‖²) are
   * nCells·m·ks driver scalars riding as plan literals.
   */
  def ivfPqTopK(emb: DataFrame, queryIds: Seq[Long], kTop: Int, dim: Int,
      nCells: Int = 8, nProbe: Int = 4, m: Int = 4, ks: Int = 8,
      iters: Int = 2): DataFrame = {
    val idx = buildIvfPqIndex(emb, dim, nCells, nProbe, m, ks, iters)
    val qvecs = emb.filter(col("vec_id").isInCollection(queryIds))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // a queryId absent from the corpus yields no rows — the sibling
    // top-k ops' relational-filter semantics, not a driver crash
    ivfPqScore(idx, queryIds.sorted.filter(qvecs.contains)
      .map(q => q -> qvecs(q)), kTop)
  }

  /** The trained two-level IVFADC index: model artifacts (coarse
   *  centroids, shared residual codebooks, the reconstruction-norm
   *  tables) plus the ENCODED corpus relation — everything a serving
   *  path needs; the original floats are never consulted again. */
  private[graft] case class IvfPqIndex(dim: Int, m: Int, ks: Int,
      nProbe: Int, cents: Array[Array[Float]], cNorms: Array[Double],
      books: Seq[Array[Array[Float]]], cn2: Seq[Double],
      cross: Seq[Seq[Seq[Double]]], bw2: Seq[Seq[Double]],
      codes: DataFrame)

  /** The per-vector (cell, float32 residual) relation — the ONE
   *  definition both residual-codebook training ([[trainIvfPqBooks]])
   *  and corpus encoding derive from. */
  private[graft] def ivfPqResiduals(emb: DataFrame,
      cents: Array[Array[Float]]): DataFrame = {
    val cNorms = cents.map(c => math.sqrt(seqDot(c, c)))
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    emb
      .withColumn("cell", element_at(
        graft.functions.native.ivf_probe_cells(col("embedding"), cents, cNorms, 1), 1))
      .withColumn("resid", zip_with(col("embedding"),
        element_at(centLit, col("cell") + 1), (x, c) => x - c))
  }

  /** Residual sub-codebook training — the same decimal-exact Lloyd per
   *  subspace, seeded by the first ks residual slices. The residual
   *  relation is MATERIALIZED once (eager localCheckpoint) before the
   *  m×iters Lloyd jobs: each job used to re-derive it from scratch —
   *  a full corpus scan plus the coarse-assignment kernel per job,
   *  m·iters (+ seed collects) executions of the identical subtree
   *  (guide §1.2: remove redundant passes first; the scale shape note
   *  in [[ivfPqTopK]]'s doc always said production materializes
   *  residuals before training). The snapshot is node-count-sized
   *  fixed-width floats and is RELEASED as soon as the books are
   *  collected — nothing edge- or suite-lived leaks past training. */
  private[graft] def trainIvfPqBooks(emb: DataFrame, dim: Int, m: Int,
      ks: Int, iters: Int, cents: Array[Array[Float]])
      : Seq[Array[Array[Float]]] = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val sub = dim / m
    val resSnap = ivfPqResiduals(emb, cents)
      .select(col("vec_id"), col("resid")).localCheckpoint()
    def resSub(i: Int) = resSnap.select(col("vec_id"),
      slice(col("resid"), i * sub + 1, sub).as("embedding"))
    val books = (0 until m).map(i => kmeansCentroids(resSub(i), ks, iters))
    graft.ops.DedupOps.releaseTruncated(resSnap)
    books
  }

  /** Train + encode ([[ivfPqTopK]]'s build half, factored so the
   *  streaming service builds ONCE and serves per trigger). */
  private[graft] def buildIvfPqIndex(emb: DataFrame, dim: Int, nCells: Int,
      nProbe: Int, m: Int, ks: Int, iters: Int): IvfPqIndex = {
    require(dim % m == 0, "dim must split evenly into m subspaces")
    val sub = dim / m
    // coarse quantizer + per-vector cell + float32 residual
    val cents = kmeansCentroids(emb, nCells, iters)
    val cNorms = cents.map(c => math.sqrt(seqDot(c, c)))
    val res = ivfPqResiduals(emb, cents)
    val books = trainIvfPqBooks(emb, dim, m, ks, iters, cents)
    require(books.length == m && books.forall(_.length == ks),
      s"expected $m sub-codebooks of $ks codewords, got shapes " +
        books.map(_.length).mkString(","))
    val bookNorms = books.map(_.map(c => math.sqrt(seqDot(c, c))))
    // reconstruction-norm pieces, all driver doubles:
    // ‖x̂‖² = ‖c‖² + 2·Σ_m dot(c_m, bw_m) + Σ_m ‖bw_m‖²
    val cn2 = cents.map(c => seqDot(c, c)).toSeq
    val cross = (0 until m).map(i => cents.map(c =>
      books(i).map(bw => seqDot(c.slice(i * sub, (i + 1) * sub), bw)).toSeq).toSeq)
    val bw2 = (0 until m).map(i => books(i).map(bw => seqDot(bw, bw)).toSeq)
    // encode: cell + m codes per vector, all row-local kernels
    val codes = res.select(col("vec_id") +: col("cell") +:
      (0 until m).map(i => element_at(graft.functions.native.ivf_probe_cells(
        slice(col("resid"), i * sub + 1, sub), books(i), bookNorms(i), 1),
        1).as(s"c$i")): _*)
    IvfPqIndex(dim, m, ks, nProbe, cents, cNorms, books, cn2, cross, bw2, codes)
  }

  /** Score a (small) set of query VECTORS against the encoded corpus:
   *  the probe list per query is the same (cosine DESC, cid ASC,
   *  zero-norm → −∞) ranking as the IvfProbeCells kernel, computed
   *  driver-side in identical sequential-double arithmetic so the
   *  relational oracle reproduces it; the scoring join reads ONLY the
   *  broadcast probe/ADC table and the code relation. */
  private[graft] def ivfPqScore(idx: IvfPqIndex,
      queries: Seq[(Long, Array[Float])], kTop: Int): DataFrame = {
    // fail loud at the API boundary: a query of the wrong width would
    // otherwise throw a bare ArrayIndexOutOfBounds inside seqDot (the
    // in-plan kernel this path replaced truncated silently — worse)
    queries.foreach { case (qid, q) =>
      require(q != null && q.length == idx.dim,
        s"ivfPqScore: query $qid has ${if (q == null) "null" else q.length} " +
          s"dims, index expects ${idx.dim}")
    }
    val spark = idx.codes.sparkSession
    import spark.implicits._
    val m = idx.m
    val sub = idx.dim / m
    val probeRows = queries.flatMap { case (qid, q) =>
      val qn = math.sqrt(seqDot(q, q))
      val adc = (0 until m).map(i => (0 until idx.ks).map(c =>
        seqDot(q.slice(i * sub, (i + 1) * sub), idx.books(i)(c))).toSeq).toSeq
      val ranked = idx.cents.indices.map { cid =>
        val qc = seqDot(q, idx.cents(cid))
        val denom = qn * idx.cNorms(cid)
        val cos = if (denom == 0.0) Double.NegativeInfinity else qc / denom
        (cid, cos, qc)
      }.sortBy { case (cid, cos, _) => (-cos, cid) }.take(idx.nProbe)
      ranked.map { case (cid, _, qc) => (qid, cid, qn, qc, adc) }
    }
    val probes = probeRows.toDF("query_id", "cell", "qn", "qc", "adc")
    // score: (qc + Σ adc) / (qn · sqrt((‖c‖² + 2·Σ cross) + Σ ‖bw‖²)),
    // every Σ in subspace order, grouping mirrored by the oracle
    val adcSum = (Seq(col("qc")) ++ (0 until m).map(i =>
      element_at(element_at(col("adc"), i + 1), col(s"c$i") + 1))).reduce(_ + _)
    val crossSum = (0 until m).map(i =>
      element_at(element_at(typedlit(idx.cross(i)), col("cell") + 1),
        col(s"c$i") + 1)).reduce(_ + _)
    val bw2Sum = (0 until m).map(i =>
      element_at(typedlit(idx.bw2(i)), col(s"c$i") + 1)).reduce(_ + _)
    val xn2 = element_at(typedlit(idx.cn2), col("cell") + 1) +
      lit(2.0) * crossSum + bw2Sum
    val scored = idx.codes.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", coalesce(
        adcSum / nullif(col("qn") * sqrt(xn2), lit(0.0)),
        lit(Double.NegativeInfinity)))
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id")))
    scored.withColumn("rank", rank.cast("bigint")).filter(col("rank") <= kTop)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("score_r"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, id1 < id2.
   *  Exact within-corpus variant — the O(n^2) BASELINE, guarded so it
   *  cannot be pointed at a full corpus by accident: corpora larger
   *  than `maxCorpus` throw, directing callers to the LSH sibling
   *  ([[embeddingNearDupsLsh]], banded equi-join, sub-quadratic). The
   *  default cap of 100k vectors ~= 5e9 cosine scorings and a ~25 MB
   *  broadcast at 64 float dims — the practical ceiling where exact
   *  all-pairs is still a reasonable recall-oracle job, and far past
   *  where LSH should already be the production path. The size check
   *  is one count() action (metadata-only on a parquet scan). */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
      maxCorpus: Long = 100000L): DataFrame = {
    val corpus = emb.count()
    require(corpus <= maxCorpus,
      s"embeddingNearDups is the exact O(n^2) baseline: corpus of $corpus " +
        s"vectors exceeds maxCorpus=$maxCorpus (~${corpus * corpus / 2} " +
        "pair scorings). Use embeddingNearDupsLsh for the scale path, or " +
        "raise maxCorpus explicitly if an exact recall oracle is intended.")
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    // Fan the probe side out across all cores: the corpus often arrives in
    // few scan partitions, and the O(n^2) scoring below must parallelize.
    // Explicit count so AQE won't coalesce the tiny-by-bytes shuffle.
    val n = emb.sparkSession.sessionState.conf.numShufflePartitions
    val a = withNorm.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nrm").as("n1"))
      .repartition(n)
    val b = withNorm.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(broadcast(b), col("id1") < col("id2"))
      .withColumn("cos", cosine(col("e1"), col("e2"), col("n1"), col("n2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos_r"))
  }
}
