package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops._

/**
 * Training-data pipeline queries (the engine's north-star extensions
 * beyond the reference's 12 topologies): deduplication, similarity
 * search, text analysis, multimodal columns — over `documents` and
 * `embeddings` (TESTDATA.md).
 */
object PipelineQueries {

  /**
   * Deterministic hash sampling — the reproducible downsample at corpus
   * scale. Membership is a pure function of CONTENT (md5 prefix), so
   * there is no RNG, no state, and no coordination: re-runs, retried
   * tasks, and other engines select the identical subset (which is also
   * why it can sit under the DuckDB hash gate — `rand()` sampling never
   * could). Keeps docs whose md5 falls in the first 3/16 of hash space
   * (~18.75%); row-local filter, pushed to the scan, zero shuffle.
   */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .filter(hashSamplePredicate(col("h")))

  /** The membership predicate of [[hashSample]] over an md5 hex string:
   *  first nibble in 0-2 (~3/16 of hash space). Row-local and
   *  stateless, so the SAME predicate serves batch and streaming
   *  (Run's `hash_sample` topology, IntegrationSmokeSpec). */
  def hashSamplePredicate(md5Hex: Column): Column =
    substring(md5Hex, 1, 1).isin("0", "1", "2")

  val SimQueryIds: Seq[Long] = (0L until 10L)
  val SimK = 10
  val NearDupCos = 0.45 // max pairwise cosine in testdata is ~0.51
  val AnnBits = 8 // LSH hyperplanes for sim_ann
  val NearDupBits = 4 // sign bits per LSH band for embed_neardup_lsh
  val NearDupTables = 8 // OR-amplified bands (any-band match -> candidate)
  val EmbeddingDim = 64 // embeddings.embedding dim (TESTDATA.md)
  val IvfCells = 16 // IVF coarse-quantizer cells for sim_ivf
  val IvfProbe = 4 // cells probed per query
  val KmCells = 8 // k-means-trained IVF cells for sim_ivf_kmeans
  val KmIters = 2 // Lloyd iterations
  val KmProbe = 4 // cells probed per query (of KmCells)

  // ---- deduplication ------------------------------------------------------

  /** Exact dedup groups: canonical survivor + group size per identical text. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.exactGroups(Tables.documents(spark, sfDir), col("doc_id"), col("text"))

  /** Fingerprint dedup: md5 of normalized text as the group key. */
  def dedupFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(TextAnalyticsOps.fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))

  /** Exact 3-gram Jaccard near-dup pairs, blocked by source shard. */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.ngramJaccardPairs(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), col("source"), n = 3, threshold = 0.8)

  /** Containment threshold for [[dedupContainment]] (0.9 ⇒ only
   *  near-total embeddings qualify). */
  val ContainmentThreshold = 0.9

  /** Every [[ContainmentAugMod]]-th doc gains a derived WRAPPER
   *  document (the quote-and-extend shape): the original text plus
   *  its own words REVERSED — the reversed half shares no shingles
   *  with anything, so the base doc is FULLY CONTAINED in a wrapper
   *  ~2× its shingle size (containment 1.0, Jaccard ≈ 0.5). */
  val ContainmentAugMod = 13

  /** Asymmetric n-gram CONTAINMENT near-dup pairs
   *  ([[DedupOps.ngramContainmentPairs]]) — catches a document
   *  embedded in a longer one, which [[dedupNgram]]'s symmetric
   *  Jaccard under-scores by the size imbalance. The synthetic corpus
   *  carries no embedded-doc shape by construction (every containment
   *  ≥ 0.9 pair also clears Jaccard 0.8 — measured, all three SFs),
   *  so the gated query first augments with deterministic
   *  doc_id-derived wrapper docs in the disjoint −(id+1) keyspace
   *  (the piiAugment convention; the oracle re-derives them) — 39
   *  asymmetric-only pairs at sf0.01 that Jaccard provably misses. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val ws = TextAnalyticsOps.words(col("text"))
    val wrappers = docs
      .filter(col("doc_id") % ContainmentAugMod === 0 && size(ws) >= 3)
      .select((-(col("doc_id") + 1)).as("doc_id"), col("source"),
        concat_ws(" ", col("text"), array_join(reverse(ws), " "))
          .as("text"))
    DedupOps.ngramContainmentPairs(docs.unionAll(wrappers),
      col("doc_id"), col("text"), col("source"), n = 3,
      threshold = ContainmentThreshold)
  }

  /** Word n-gram length for [[dedupSpans]] (4 ⇒ ~12% of gram positions
   *  duplicated on the synthetic corpus — sparse but non-vacuous). */
  val SpanN = 4

  /** Exact repeated-span statistics (the Lee et al. 2022
   *  exact-substring dedup pass) per document. */
  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.repeatedSpanStats(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), n = SpanN)

  /** Minimum token length for a [[dedupSpansMaximal]] span (2×[[SpanN]]
   *  ⇒ a run of at least [[SpanN]]+1 consecutive duplicated grams —
   *  strictly longer than any single-gram hit, so the query separates
   *  genuine repeated PASSAGES from isolated duplicated grams at every
   *  SF). */
  val MaxSpanL = 2 * SpanN

  /** VARIABLE-LENGTH maximal repeated spans ≥ [[MaxSpanL]] tokens (the
   *  full Lee et al. exact-substring rung — [[DedupOps
   *  .maximalRepeatedSpans]]'s gram-chain formulation): per doc, the
   *  count/longest/total token length of maximal consecutive-duplicated
   *  runs, where [[dedupSpans]] only measures per-position duplication. */
  def dedupSpansMaximal(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.maximalRepeatedSpans(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), n = SpanN, minLen = MaxSpanL)

  /** Maximal-span REMOVAL + reconstruction (the transform the Lee et
   *  al. pass performs — [[DedupOps.removeRepeatedSpans]]): every
   *  qualifying span occurrence except its globally first is cut, and
   *  each document is rebuilt from the surviving words, md5-gated. */
  def dedupSpansRemoval(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.removeRepeatedSpans(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), n = SpanN, minLen = MaxSpanL)

  /** Words per dedup unit for [[dedupParagraphs]] (20 ⇒ ~3% of unit
   *  positions duplicated on the synthetic corpus — sparse but
   *  non-vacuous at every SF, like [[SpanN]]). */
  val ParaTokens = 20

  /** Paragraph-level exact dedup with document reconstruction (the
   *  C4/RefinedWeb unit-dedup pass — [[DedupOps.unitDedup]]): keep
   *  each distinct [[ParaTokens]]-word unit at its globally first
   *  occurrence and rebuild every document from its survivors. */
  def dedupParagraphs(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.unitDedup(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), unitTokens = ParaTokens)

  /** MinHash+LSH candidates verified by exact Jaccard. Oracle-checked:
   *  the exact-verify stage makes the output equal unblocked all-pairs
   *  Jaccard >= threshold whenever LSH recall is total, which it is on
   *  this corpus (every true pair has J >= 0.8 — see Oracles.dedupMinhash
   *  and the DedupOpsSpec recall assertion). */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.minhashNearDups(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), threshold = 0.5)

  /** SimHash near-dup pairs (Hamming <= 3 via pigeonhole bands). Uses
   *  the portable md5-60 word-hash family so the signatures — and the
   *  pairs — are recomputable in DuckDB (Oracles.dedupSimhash). */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    DedupOps.simhashNearDups(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), maxHamming = 3)

  /** Near-dup CLUSTERS: minhash pairs -> connected components -> one
   *  canonical cluster id per document (pairs alone over-delete: A~B,
   *  B~C must collapse to one cluster even when A!~C). Exact fixpoint,
   *  so the recursive-CTE oracle reproduces it. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterFrame(spark, sfDir)

  /** The converged cluster frame [[dedupClusters]],
   *  [[dedupClusterSizes]] and [[dedupSurvivors]] read. Each call
   *  converges its own fixpoint from the parquet inputs; the frame's
   *  lineage is already truncated to the final label snapshot
   *  (connectedComponents checkpoints every iteration), so a query's
   *  later operators re-read that materialized snapshot instead of
   *  re-propagating labels. */
  private def clusterFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = DedupOps.minhashNearDups(docs, col("doc_id"), col("text"),
      threshold = 0.5).select("id1", "id2")
    DedupOps.connectedComponents(pairs, docs.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster"))
  }

  /** Duplication DISTRIBUTION — the standard dedup diagnostic (how much
   *  of the corpus sits in how-large duplicate clusters, the histogram
   *  dedup papers report and a curation monitor tracks across crawls):
   *  cluster sizes from [[clusterFrame]], rolled to
   *  (cluster_size, n_clusters, n_docs). Singletons included — the
   *  mass NOT in any dup cluster is the number that matters most.
   *  Scale shape: two fixed-width aggs over the already-converged
   *  frame (cluster-count then size-count groups). */
  def dedupClusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    clusterFrame(spark, sfDir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"))

  /** Survivor SELECTION — the step that makes [[dedupClusters]]
   *  actionable: per duplicate cluster, keep the highest-quality member
   *  (quality score from the one-pass kernel; ties broken by min
   *  doc_id — a total order, so selection is deterministic and
   *  engine-reproducible). Emits one row per multi-doc cluster:
   *  (cluster, survivor, n_docs); everything else in the cluster is
   *  the delete list. Scale shape: clusters and row-local scores join
   *  on doc_id, then ONE two-phase max_by/count agg on the 64-bit
   *  cluster id — no window over the corpus, no skew (cluster sizes
   *  are near-dup groups, inherently small). Reads the converged
   *  cluster frame ([[clusterFrame]]). */
  def dedupSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val scores = docs.select(col("doc_id"),
      coalesce(TextAnalyticsOps.qualityFeatures(col("text")).getField("score"),
        lit(-1.0)).as("score"))
    clusterFrame(spark, sfDir).join(scores, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("survivor"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
  }

  /** Cross-batch INCREMENTAL dedup — the ingest-time pattern: a new
   *  batch (deterministic 20% slice, doc_id % 5 == 0, so the split is
   *  sf-independent) is admitted against the HISTORICAL corpus by
   *  content fingerprint: left_anti join on md5, then min-id per
   *  fingerprint dedupes within the batch itself. Scale shape: only
   *  fixed-width fingerprints shuffle (never text), the anti join is a
   *  hash equi-join, and at 100 TB the historical side is the
   *  bucketed-by-fp fingerprint table, making the anti join
   *  shuffle-free on ingest (sources.BucketedTables). */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    fresh.join(hist.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  /**
   * Incremental dedup with a BLOOM-ACCELERATED anti-join — the 100 TB
   * form of [[dedupIncremental]]'s admission check: history
   * fingerprints fold ONCE into a fixed bitmap (the stored artifact a
   * pipeline maintains beside the fingerprint table), every fresh doc
   * probes it row-locally ([[graft.functions.BloomHashProbe]]), and
   * only the bloom-POSITIVE sliver reaches the exact anti-join — a
   * bloom-negative doc is DEFINITELY new (the one-sided guarantee),
   * so it admits with no join at all. Output is IDENTICAL to
   * [[dedupIncremental]] (false positives just take the exact path
   * and resolve there — spec-pinned equal, including under a
   * deliberately saturated filter), so the oracle is literally the
   * base query's SQL. At scale this turns the anti-join's probe side
   * from |batch| into |batch| x FPR + |true dups| rows — the
   * semi-join-reduction device engines apply internally, here as an
   * explicit operator over a STORED filter that survives across
   * batches (the engine-internal runtime filter is rebuilt per
   * query and capped by the build side it can scan).
   */
  def dedupIncrementalBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val h60 = conv(substring(col("fp"), 1, 15), 16, 10).cast("bigint")
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val bits = bloomBitsOfHashes(hist.select(h60.as("h")).distinct())
    val bc = spark.sparkContext.broadcast(bits)
    val probed = fresh.withColumn("maybe",
      graft.functions.native.bloom_hash_probe(h60, DecontBloomK, bc))
    val definitelyNew = probed.filter(!col("maybe")).drop("maybe")
    val checked = probed.filter(col("maybe")).drop("maybe")
      .join(hist.select(col("fp")), Seq("fp"), "left_anti")
    definitelyNew.unionByName(checked)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  /** Incremental CLUSTER-ID maintenance
   *  ([[DedupOps.incrementalClusterAssign]]): the same deterministic
   *  20% fresh slice as [[dedupIncremental]], ASSIGNED to the
   *  history's converged cluster ids by graph contraction — history
   *  clusters collapse to their min-id label nodes, the bounded local
   *  fixpoint runs over |batch| + |touched clusters| nodes only, and
   *  genuinely novel merges relabel to the new component minimum. The
   *  oracle is the SAME recursive-CTE fixpoint as `dedup_clusters`
   *  run on the union — the incremental path must reproduce the full
   *  recompute hash-exactly (the contraction argument in the
   *  operator's scaladoc). The history frame derives in-query here
   *  (training-in-query convention); a production pipeline feeds the
   *  stored converged frame. */
  def dedupClustersIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val hist = docs.filter(col("doc_id") % 5 =!= 0)
    // the HISTORY state (band triples, shingle sets, converged
    // clusters — the three stored artifacts of the steady-state ingest
    // contract) derives ONCE per invocation and feeds EVERY consumer:
    // the history fixpoint's candidate/verify joins (via
    // minhashNearDupsPre — the same expressions minhashNearDups
    // derives in-plan, so the pairs are identical by construction) AND
    // the incremental assignment's history side. The previous shape
    // re-ran the corpus shingle+minhash kernels once per consumer —
    // four history passes per invocation (§1.2; measured 45 jobs /
    // 3.0 s, JobProbe sf0.1/32c). Lazy snapshots: three consumers each
    // (x/y candidate sides + the assignment join; both fixpoint verify
    // sides + the assignment verify).
    val histBands = DedupOps.clusterBandKeys(hist, col("doc_id"), col("text"))
      .localCheckpoint(false)
    val histShingles = DedupOps.clusterShingleSets(hist, col("doc_id"),
      col("text")).localCheckpoint(false)
    val histClusters = DedupOps.connectedComponents(
        DedupOps.minhashNearDupsPre(histBands, histShingles,
          threshold = 0.5).select("id1", "id2"),
        hist.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster"))
      .localCheckpoint() // 2 consumers: contraction join + relabel
    DedupOps.incrementalClusterAssignPre(fresh, histBands, histShingles,
      histClusters, col("doc_id"), col("text"), threshold = 0.5)
  }

  /** Incremental ingest extended to NEAR-duplicates
   *  ([[DedupOps.incrementalNearDupAdmit]]): the same deterministic
   *  20% fresh slice as [[dedupIncremental]], admitted only when no
   *  verified shingle-Jaccard >= 0.5 partner exists in history or
   *  among smaller-id batch peers. Oracle-checked against exact
   *  all-pairs Jaccard — valid because LSH recall is total on this
   *  corpus (the dedup_minhash argument; DedupOpsSpec pins the
   *  fixture-level contract). */
  def dedupIncrementalMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    DedupOps.incrementalNearDupAdmit(
      docs.filter(col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") % 5 =!= 0),
      col("doc_id"), col("text"), threshold = 0.5)
  }

  /** Corpus-RELATIVE quality gate: keep docs scoring at or above the
   *  corpus p25 quality score. The threshold is a one-row exact
   *  interpolated percentile (the same `percentile` == quantile_cont
   *  equivalence `value_quantiles` gates) broadcast back over the
   *  corpus — the canonical two-job "filter by corpus statistic"
   *  pattern; the corpus itself streams through once per job and
   *  never shuffles. */
  def qualityCut(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        TextAnalyticsOps.qualityFeatures(col("text")).getField("score").as("score"))
    val thr = scored.agg(percentile(col("score"), lit(0.25)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter(col("score") >= col("thr"))
      .select(col("doc_id"), col("score"))
  }

  /** Docs drawn per stratum for [[sampleStratified]]. */
  val StratifiedN = 5

  /** Deterministic STRATIFIED sample: exactly [[StratifiedN]] docs per
   *  source, chosen by content-hash rank (md5 order) — fixed-size
   *  per-group sampling with zero RNG, so retries/replays/other
   *  engines select the identical subset (same contract as
   *  [[hashSample]], which samples a global fraction instead). Scale
   *  shape: the `rn <= N` filter on a rank window plans a
   *  WindowGroupLimit — every map task forwards at most N rows per
   *  group to the shuffle, so the per-group sort state is bounded by
   *  N x partitions, never the stratum size. */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
        .cast("bigint"))
      .filter(col("rn") <= StratifiedN)

  // ---- similarity search --------------------------------------------------

  /** Brute-force exact cosine top-k for the first 10 vectors. */
  def simTopK(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.cosineTopK(Tables.embeddings(spark, sfDir), SimQueryIds, SimK)

  /** Output dimensionality for [[embedProject]]. */
  val ProjDim = 16

  /** Neighbors per node in [[knnGraph]]'s output. */
  val GraphK = 5

  /** Approximate k-NN graph ([[SimilarityOps.knnGraph]]): per-node
   *  top-[[GraphK]] among OR-amplified LSH band candidates — the
   *  similarity-graph construction pass. Shares [[NearDupBits]]/
   *  [[NearDupTables]] with the near-dup path. */
  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.knnGraph(Tables.embeddings(spark, sfDir),
      k = GraphK, bits = NearDupBits, tables = NearDupTables)

  /**
   * k-NN label-consistency evaluation — the embedding-quality monitor a
   * pipeline runs over a labeled probe set (and the first consumer of
   * the embeddings table's `label` column, the textLangIdEval pattern):
   * every vector's label is predicted by MAJORITY VOTE over its
   * [[GraphK]] approximate nearest neighbors (ties to the smaller
   * label — deterministic), and the output is the confusion table
   * (label, label_pred, n); off-diagonal mass is what the monitor
   * alerts on, and k-NN agreement is the standard proxy for "do
   * embeddings cluster by class". Vectors whose LSH bands found no
   * neighbor are not evaluated (the knn_graph recall contract). Scale
   * shape: the [[knnGraph]] machinery verbatim, then one id→int label
   * join (fixed-width rows) and two label-bounded aggs — nothing new
   * touches the vectors.
   */
  def knnLabelEval(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select(col("vec_id"), col("label"))
    val votes = knnGraph(spark, sfDir)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nb_label")), "neighbor_id")
      .groupBy(col("vec_id"), col("nb_label")).agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("votes").desc, col("nb_label"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("nb_label").as("label_pred"))
    labels.join(pred, "vec_id")
      .groupBy("label", "label_pred").agg(count(lit(1)).as("n"))
  }

  /** Own-centroid cosine floor for [[embedOutliers]] (0.15 ≈ the p10 of
   *  the corpus distribution — flags a real tail, not nothing/all). */
  val OutlierCos = 0.15

  /** Prototype-distance outlier flags over the shared k-means quantizer
   *  ([[SimilarityOps.centroidOutliers]]): bit-identical centroids and
   *  cells with [[semDedup]]/[[simIvfKmeans]], row-local scoring. */
  def embedOutliers(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.centroidOutliers(Tables.embeddings(spark, sfDir),
      KmCells, KmIters, threshold = OutlierCos)

  /** Random-projection dimensionality reduction ([[SimilarityOps
   *  .randomProjection]]): 64-dim embeddings → [[ProjDim]] signed sums
   *  against deterministic ±1 planes, long-form (vec_id, plane,
   *  proj_r). Row-local, zero shuffle; the oracle re-derives the
   *  identical sign table into SQL (the simAnn device, seed 43). */
  def embedProject(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.randomProjection(Tables.embeddings(spark, sfDir),
      planes = ProjDim, dim = EmbeddingDim)

  /** LSH-bucketed approximate top-k (scale path; recall vs brute force
   *  is asserted in SimilarityOpsSpec). Oracle-checked end-to-end: the
   *  deterministic hyperplane sign table is embedded in the DuckDB SQL
   *  (Oracles.simAnn), so the oracle mirrors the approximation itself. */
  def simAnn(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.annTopK(Tables.embeddings(spark, sfDir), SimQueryIds, SimK,
      bits = 8)

  /** IVF-partitioned approximate top-k (the second scale path next to
   *  LSH). Deterministic coarse quantizer (first IvfCells vectors), so
   *  the cells — and the candidate sets — are recomputable relationally
   *  in DuckDB (Oracles.simIvf). */
  def simIvf(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.ivfTopK(Tables.embeddings(spark, sfDir), SimQueryIds, SimK,
      nCells = IvfCells, nProbe = IvfProbe)

  /** IVF top-k with a k-means-TRAINED quantizer (the production IVF
   *  shape): KmIters Lloyd iterations over the corpus — decimal-exact
   *  means, so the trained centroids are deterministic and the whole
   *  train+probe pipeline is recomputable relationally in DuckDB
   *  (Oracles.simIvfKmeans unrolls the iterations). */
  def simIvfKmeans(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.ivfTopKKmeans(Tables.embeddings(spark, sfDir), SimQueryIds,
      SimK, nCells = KmCells, iters = KmIters, nProbe = KmProbe)

  /** Embedding near-duplicate pairs (cosine >= threshold). */
  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.embeddingNearDups(Tables.embeddings(spark, sfDir), NearDupCos)

  /** SemDeDup: k-means clusters (same trained quantizer as
   *  [[simIvfKmeans]]) + within-cluster cosine near-dup marking,
   *  smaller-id survivor. Oracle replays the full train+scan
   *  relationally (Oracles.semDedup). */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.semDedup(Tables.embeddings(spark, sfDir),
      KmCells, KmIters, threshold = NearDupCos)

  // embed_eval: exact ground truth anchored to a deterministic 1/4
  // pair sample (the dedup_eval device — the exact side is the eval's
  // honest quadratic), recall bucketed by cosine decile
  val EmbEvalAnchorMod = 4
  val EmbEvalMinCos = 0.2

  /**
   * Embedding-banding recall EVALUATION — the [[dedupEval]] monitor
   * for the EMBEDDING near-dup path: exact anchored all-pairs cosine
   * (ground truth) vs the [[SimilarityOps.embeddingNearDupsLsh]]
   * sign-LSH candidate set, recall per cosine decile band. This is
   * the number an operator watches before trusting `embed_neardup_lsh`
   * / `knn_graph` at a new corpus or banding config: OR-amplified
   * 4-bit × 8-table banding has a THEORETICAL recall curve
   * (1 − (1 − (1 − θ/π)^bits)^tables ≈ 0.62 at cos 0.25 rising to
   * ~0.8 at 0.45) and this query measures the realized one. The
   * oracle re-derives BOTH sides — exact cosines and the full
   * deterministic sign-table banding — so neither is trusted.
   * Output: (cos_band, n_pairs, n_caught, recall_r), cos_band =
   * min(floor(cos·10), 5).
   *
   * Scale shape: the exact side is Σ-anchored-pairs quadratic BY
   * DEFINITION of the eval (the dedup_eval argument — an eval job a
   * production pipeline runs sampled and infrequent; [[EmbEvalAnchorMod]]
   * is the sampling knob); the candidate side is the standard banded
   * equi-join, id-only shuffles.
   */
  def embedEval(spark: SparkSession, sfDir: String): DataFrame = {
    val bits = NearDupBits
    val tables = NearDupTables
    val emb = Tables.embeddings(spark, sfDir)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      SimilarityOps.l2Norm(col("embedding")).as("nrm"))
    // fanOut the anchored probe side: the exact theta-join cosines are
    // the eval's heavy stage and ran on the one-file scan's split
    val exact = FanOut.fanOut(withNorm)
      .filter(col("vec_id") % EmbEvalAnchorMod === 0).as("a")
      .join(withNorm.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", SimilarityOps.cosine(col("a.embedding"),
        col("b.embedding"), col("a.nrm"), col("b.nrm")))
      .filter(col("cos") >= EmbEvalMinCos)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        least(floor(col("cos") * 10), lit(5L)).as("cos_band"))
    // the single banding definition (SimilarityOps.bandedKeys), so the
    // eval measures EXACTLY the candidate mechanism the production
    // paths run
    val banded = SimilarityOps.bandedKeys(emb, bits, tables)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
    exact
      .join(cand.withColumn("hit", lit(1L)), Seq("id1", "id2"), "left")
      .groupBy("cos_band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .withColumn("recall_r", round(col("n_caught") / col("n_pairs"), 4))
  }

  /** LSH-blocked near-dup pairs (the 100 TB path: banded same-bucket
   *  equi-join instead of all-pairs; oracle mirrors the banding). */
  def embedNearDupLsh(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.embeddingNearDupsLsh(Tables.embeddings(spark, sfDir),
      NearDupCos, bits = NearDupBits, tables = NearDupTables)

  // Product-quantization parameters: 4 subspaces of EmbeddingDim/4
  // dims, 8 codewords each — 64 floats compress to 4 codes (64×), the
  // memory-side ANN trade next to IVF's partition-side one.
  val PqM = 4
  val PqKs = 8

  /** PQ + ADC approximate top-k ([[SimilarityOps.pqTopK]]): per-
   *  subspace decimal-exact Lloyd codebooks, corpus encoded to
   *  [[PqM]] codes, queries scored from per-query ADC tables without
   *  touching the original floats. */
  def simPq(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.pqTopK(Tables.embeddings(spark, sfDir), SimQueryIds, SimK,
      dim = EmbeddingDim, m = PqM, ks = PqKs, iters = KmIters)

  /** IVF-PQ composition ([[SimilarityOps.ivfPqTopK]], IVFADC): coarse
   *  [[KmCells]]-cell k-means + per-cell float32 residuals quantized
   *  by [[PqM]] shared sub-codebooks of [[PqKs]] codewords — the SAME
   *  bytes per vector as [[simPq]] (plus the cell id inherent to IVF
   *  partitioning), with residual coding recovering the recall plain
   *  PQ loses; queries probe [[KmProbe]] cells and score via ADC
   *  tables. SimilarityOpsSpec pins recall@10 strictly above simPq's
   *  on the same corpus. */
  def simIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.ivfPqTopK(Tables.embeddings(spark, sfDir), SimQueryIds,
      SimK, dim = EmbeddingDim, nCells = KmCells, nProbe = KmProbe,
      m = PqM, ks = PqKs, iters = KmIters)

  /** Stage-1 candidate pool size for [[simRerank]]: recall@[[SimK]]
   *  of the two-stage query equals PQ's recall@RerankCand, at the
   *  cost of |queries|·RerankCand exact scores. */
  val RerankCand = 50

  /** Two-stage retrieval ([[SimilarityOps.rerankTopK]]): [[simPq]]'s
   *  compressed index proposes [[RerankCand]] candidates per query
   *  from codes alone, then ONLY those candidates' full-precision
   *  vectors are fetched (broadcast candidate join) and re-scored
   *  exactly — the production serving shape that turns 64×
   *  compression into a high-recall retriever. */
  def simRerank(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.rerankTopK(Tables.embeddings(spark, sfDir), SimQueryIds,
      SimK, cand = RerankCand, dim = EmbeddingDim, m = PqM, ks = PqKs,
      iters = KmIters)

  /** Prefix widths for [[simMatryoshka]]: the full-width rung (64) is
   *  the built-in recall-exactly-1 sanity anchor. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka truncated-dimension retrieval eval
   *  ([[SimilarityOps.matryoshkaEval]]): recall@[[SimK]] of
   *  prefix-d′ brute-force retrieval vs the full-dim exact top-k,
   *  one row per rung — how many dimensions does the index actually
   *  need. */
  def simMatryoshka(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.matryoshkaEval(Tables.embeddings(spark, sfDir),
      SimQueryIds, SimK, MatryoshkaDims, fullDim = EmbeddingDim)

  /** SQ8 scalar-quantized top-k ([[SimilarityOps.sq8TopK]]): per-dim
   *  min/max scaling to one byte per dimension (4× compression,
   *  near-exact recall — the faiss SQ8 point on the memory/recall
   *  curve, next to [[simPq]]'s 64× / coarse point), asymmetric
   *  scoring of full-precision queries against midpoint-decoded
   *  corpus vectors. */
  def simSq8(spark: SparkSession, sfDir: String): DataFrame =
    SimilarityOps.sq8TopK(Tables.embeddings(spark, sfDir), SimQueryIds, SimK,
      dim = EmbeddingDim)

  // ---- text analysis ------------------------------------------------------

  def textLangId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextAnalyticsOps.langId(col("text")).as("lang_pred"))

  /** Language-ID EVALUATION — the monitoring half of the classifiers
   *  a pipeline actually operates: confusion counts against the
   *  corpus's upstream `lang` labels for BOTH identifiers side by
   *  side — the [[textLangId]] stopword heuristic and the trained
   *  [[textLangIdNb]] Naive Bayes — tagged by a `model` column.
   *  Output (model, lang, lang_pred, n); precision/recall are one
   *  pivot away, the cell a monitor alerts on is off-diagonal mass,
   *  and the heuristic-vs-model DELTA is one self-join away. Scale
   *  shape: the heuristic half is one row-local kernel call + one
   *  two-phase hash agg with |langs|² groups (the live
   *  `StreamOps.langIdEvalStream` form unchanged); the NB half costs
   *  the [[textLangIdNb]] train+apply plan plus the same tiny agg. */
  def textLangIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // fanOut: the heuristic langId scan is a heavy row-local pass and
    // must not inherit a one-file scan's single split (FanOut contract)
    val heur = FanOut.fanOut(docs)
      .groupBy(col("lang"), TextAnalyticsOps.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .select(lit("heuristic").as("model"), col("lang"), col("lang_pred"),
        col("n"))
    val nb = textLangIdNb(spark, sfDir)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .select(lit("nb").as("model"), col("lang"), col("lang_pred"), col("n"))
    heur.unionByName(nb)
  }

  /** Laplace-smoothed log-probabilities in integer micro-nats — the
   *  [[NllMicro]] ln-parity device. */
  private def lnMicro(num: Column, den: Column): Column =
    floor(log(num.cast("double") / den.cast("double"))
      * lit(NllMicro.toDouble)).cast("bigint")

  /** Lowercased character bigrams of `text` (spaces included — word
   *  boundaries carry language signal), empty below 2 chars. The
   *  `sequence` guard matters: Spark's sequence(1, 0) DESCENDS. */
  def charBigrams(text: Column): Column = {
    val lowered = lower(text)
    when(length(lowered) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(lowered) - 1),
        i => lowered.substr(i, lit(2))))
  }

  /**
   * Model-based language ID — character-bigram Naive Bayes trained
   * IN-QUERY on the corpus's upstream `lang` labels (the CCNet-style
   * production shape: a trained char-n-gram classifier instead of a
   * stopword list; fastText's langid and langid.py are the public
   * reference points). Model: per (lang, bigram) Laplace-smoothed
   * log-likelihoods ln((c+1)/(total_l+V)) plus per-lang doc-count
   * log-priors, every log floor-quantized ONCE to integer micro-nats
   * (the [[NllMicro]] device — both engines evaluate ln on identical
   * rational doubles and all downstream sums are exact integers).
   * Prediction: argmax over langs of prior + Σ per-occurrence bigram
   * log-likelihoods; ties break to the lexicographically SMALLEST
   * lang. Docs with < 2 characters have no bigrams and drop out (the
   * [[textBigramNll]] empty-doc contract).
   *
   * Scale shape: train = one lang-only corpus scan (column-pruned,
   * the priors) + one explode→two-phase (lang, bigram) agg; the
   * (vocab × langs) Laplace grid is built from the COUNTS relation
   * alone (localCheckpointed once — three consumers would otherwise
   * re-derive the corpus agg three times) with per-lang totals and V
   * as windows over the grid, so nothing corpus-sized crosses the
   * model boundary. Apply = ONE row-local [[graft.functions.NbLangId]]
   * kernel pass against the collected broadcast model (vocab × langs
   * rows, behind [[graft.ops.DriverGate]] — the lm_score
   * offline-model/online-score device; zero apply-side exchanges,
   * [[langIdNbOf]] has the relational-fallback note). On this driver
   * corpus the label is text-independent (every lang shares one
   * vocabulary), so the trained model has nothing real to learn: it
   * fits per-lang sampling noise and predicts mostly the majority
   * lang at chance-level accuracy — the honest result, the
   * [[classifyTrain]] convention; LangIdNbSpec proves real learning
   * (plain-Scala reference equality + 100% diagonal confusion) on a
   * planted multilingual corpus with genuinely distinct character
   * statistics.
   */
  def textLangIdNb(spark: SparkSession, sfDir: String): DataFrame =
    langIdNbOf(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")))

  /** The LEARN pass of [[langIdNbOf]], factored so the live scoring
   *  topology (`StreamOps.nbLangIdStream`) trains the identical model
   *  from a static corpus: (model (bg, lang, lp_micro) — the complete
   *  Laplace grid — and priors (lang, prior_micro)). Both vocab- /
   *  lang-sized. */
  private[graft] def langIdNbModelFrames(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val priorsBase = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_l"))
    val priors = priorsBase.select(col("lang"),
      lnMicro(col("docs_l"),
        sum(col("docs_l")).over(Window.partitionBy())).as("prior_micro"))
    // fanOut: the char-bigram explode is the heaviest text pass in the
    // suite (~n_chars rows before the partial agg) and ran on ONE task
    // off the one-file local scan (measured: text_langid_nb 18 jobs /
    // 18 TASKS / 7.4 s — fully serial); a wide scan passes through
    // untouched (FanOut contract)
    val counts = FanOut.fanOut(docs)
      .select(col("lang"), explode(charBigrams(col("text"))).as("bg"))
      .groupBy(col("lang"), col("bg")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val grid = counts.select("bg").distinct()
      .crossJoin(broadcast(counts.select("lang").distinct()))
      .join(counts, Seq("lang", "bg"), "left")
      .withColumn("cnt0", coalesce(col("cnt"), lit(0L)))
    val byLang = Window.partitionBy("lang")
    val model = grid.select(col("bg"), col("lang"),
      lnMicro(col("cnt0") + 1L,
        sum(col("cnt0")).over(byLang) + count(lit(1)).over(byLang))
        .as("lp_micro"))
    (model, priors)
  }

  /** Build, from the collected model rows and the priors frame of
   *  [[langIdNbModelFrames]], the broadcast form both the gated apply
   *  pass and the live topology score with:
   *  bigram → lang-indexed micro-nat arrays, the prior array, and the
   *  sorted lang table. The lang table comes from the GRID, not the
   *  priors — a label whose docs carry no bigrams cannot be predicted
   *  (its model join would yield no rows), so a prior-only slot must
   *  not enter the argmax. None when the model is empty. */
  private[graft] def nbLangIdBroadcast(entries: Array[Row],
      priorsF: DataFrame)
      : Option[(
        org.apache.spark.broadcast.Broadcast[
          java.util.HashMap[String, Array[Long]]],
        org.apache.spark.broadcast.Broadcast[Array[Long]],
        org.apache.spark.broadcast.Broadcast[Array[String]])] = {
    val priorByLang = priorsF.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = entries.map(_.getString(1)).distinct.sorted
    if (langs.isEmpty) None
    else {
      val idx = langs.zipWithIndex.toMap
      val m = new java.util.HashMap[String, Array[Long]](
        entries.length / langs.length * 2 + 16)
      entries.foreach { r =>
        val arr = m.computeIfAbsent(r.getString(0),
          _ => new Array[Long](langs.length))
        arr(idx(r.getString(1))) = r.getLong(2)
      }
      val sc = priorsF.sparkSession.sparkContext
      Some((sc.broadcast(m), sc.broadcast(langs.map(priorByLang)),
        sc.broadcast(langs)))
    }
  }

  /** The distributed relational apply — the distributed arm of
   *  [[langIdNbOf]] for corpora whose bigram alphabet × langs exceeds
   *  what a driver should collect (CJK-scale alphabets): explode +
   *  model join (no broadcast hint — the model being too big to
   *  collect is the premise; the planner may still broadcast small
   *  ones) + per-(doc, lang) integer sum + the (score desc, lang asc)
   *  argmax window. Identical integers to the kernel path,
   *  spec-pinned. */
  private def langIdNbRelationalApply(docs: DataFrame, model: DataFrame,
      priors: DataFrame): DataFrame = {
    val scored = FanOut.fanOut(docs)
      .select(col("doc_id"), explode(charBigrams(col("text"))).as("bg"))
      .join(model, "bg")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lp_micro")).as("ll_micro"))
      .join(broadcast(priors), "lang")
      .withColumn("score_micro", col("ll_micro") + col("prior_micro"))
    val argmax = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("lang").asc)
    scored.withColumn("rn", row_number().over(argmax))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("lang_pred"),
        col("score_micro"))
  }

  /** The train+apply plan of [[textLangIdNb]] over any
   *  (doc_id, lang, text) frame — factored so the spec trains on
   *  planted corpora. Train is relational (the corpus is never
   *  collected); the model — vocab × langs rows — goes through
   *  [[graft.ops.DriverGate]] (`driverCap` forces either arm): on the
   *  driver arm the apply is ONE row-local [[graft.functions.NbLangId]]
   *  kernel pass against the collected broadcast model (the lm_score
   *  offline-model/online-score device — zero apply-side exchanges;
   *  the r16 relational first cut measured 10.4 s at sf0.1 in-suite
   *  vs 4.7 with the kernel), on the distributed arm the
   *  [[langIdNbRelationalApply]] join form runs over the gate's
   *  snapshot of the model. The `length(lower(text)) >= 2` filter IS
   *  the bigram-less-doc drop contract — on the LOWERCASED text,
   *  because lowercasing can lengthen a string (U+0130 'İ' lowers to
   *  two code points) and bigrams are defined over the lowered form. */
  def langIdNbOf(docs: DataFrame,
      driverCap: Long = DriverGate.cap(DriverGate.VocabRowBytes))
      : DataFrame = {
    val (modelF, priorsF) = langIdNbModelFrames(docs)
    // an empty model declines the kernel: the join form over it is
    // the same empty answer
    DriverGate("langid_nb", modelF, driverCap)(r => r) { entries =>
      nbLangIdBroadcast(entries, priorsF).map { case (bcM, bcP, bcL) =>
        // fanOut: the NB kernel re-walks every char of every doc — the
        // apply-side twin of the training explode's narrow-scan hazard
        FanOut.fanOut(docs).filter(length(lower(col("text"))) >= 2)
          .select(col("doc_id"),
            graft.functions.native.nb_langid(
              lower(col("text")), bcM, bcP, bcL).as("s"))
          .select(col("doc_id"), col("s.lang_pred").as("lang_pred"),
            col("s.score_micro").as("score_micro"))
      }
    } match {
      case Right(out) => out
      case Left(model) => langIdNbRelationalApply(docs, model, priorsF)
    }
  }

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("q", TextAnalyticsOps.qualityFeatures(col("text")))
      .select(col("doc_id"), col("q.n_words"), col("q.mean_wlen"),
        col("q.stop_ratio"), col("q.alpha_ratio"), col("q.score"))

  def textTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"),
      TextAnalyticsOps.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalyticsOps.bpeishTokenCount(col("text")).as("bpe_tokens"))

  /** Classifier constants — canonical definition lives beside the
   *  native kernel ([[graft.functions.VectorMath]], the Stopwords
   *  convention): feature buckets, md5-prefix hex digits per bucket
   *  hash, and the Knuth multiplier/modulus deriving a pseudo-random
   *  integer weight per bucket from pure bigint arithmetic (both
   *  engines compute the identical weight table without materializing
   *  it anywhere). */
  val ClassifyDim = graft.functions.VectorMath.ClassifyDim
  val ClassifyHexDigits = graft.functions.VectorMath.ClassifyHexDigits
  val ClassifyMult = graft.functions.VectorMath.ClassifyMult
  val ClassifyMod = graft.functions.VectorMath.ClassifyMod

  /** The frozen model of [[textClassify]] as a pure column: weight of
   *  one token = ((bucket(md5-prefix) mod [[ClassifyDim]]) ·
   *  [[ClassifyMult]]) mod [[ClassifyMod]] − 510 ∈ [−510, 510].
   *  Reference formulation from composed built-ins — the hot path is
   *  the fused [[graft.functions.ClassifyScore]] kernel; bit-equality
   *  is pinned in NativeExprSpec (the langIdHof convention). */
  def classifyWeight(w: Column): Column =
    (conv(substring(md5(w), 1, ClassifyHexDigits), 16, 10).cast("long")
      % ClassifyDim) * ClassifyMult % ClassifyMod - lit(510L)

  /**
   * Linear QUALITY-CLASSIFIER apply — the fastText-shaped keep/drop
   * gate (RefinedWeb/FineWeb-style pipelines run one after the
   * heuristic filters): score(doc) = Σ_tokens weight[hash(token) mod D]
   * over a hashed bag-of-words, keep = score > 0. The weight table
   * here is a deterministic integer formula (the JL sign-table
   * frozen-literal-model device) standing in for offline-trained
   * weights; a production pipeline broadcasts its trained vector and
   * keeps the identical plan. Scale shape: the scoring is ONE
   * `aggregate` higher-order fold over the row-local token array —
   * zero shuffles, zero joins, no model materialization
   * (plan-guarded); the integer score sum is engine-stable by
   * construction (the NllMicro device needs no quantization here —
   * weights are already integers).
   */
  def textClassify(spark: SparkSession, sfDir: String): DataFrame =
    classifyProjection(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The row-local scoring of [[textClassify]] over any
   *  (passthrough..., text) frame — shared by the batch query and
   *  Run's live `classify_gate` admission topology (stateless, so the
   *  SAME projection serves both, like `chunkProjection`). */
  def classifyProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough :+
        graft.functions.native.classify_score(lower(col("text"))).as("cs"): _*)
      .select(passthrough ++ Seq(
        col("cs.n_words").as("n_words"),
        col("cs.score_sum").as("score_sum")): _*)
      .withColumn("keep", col("score_sum") > 0)
  }

  /** Composed-builtins reference of [[classifyProjection]]'s scoring
   *  (the `aggregate`-HOF fold of [[classifyWeight]]); kept for
   *  kernel cross-validation, like `TextAnalyticsOps.langIdHof`. */
  def classifyScoreHof(text: Column): Column = {
    val ws = TextAnalyticsOps.words(lower(text))
    struct(size(ws).cast("bigint").as("n_words"),
      aggregate(ws, lit(0L), (acc, x) => acc + classifyWeight(x))
        .as("score_sum"))
  }

  // dedup_eval parameters: the portable evaluation signature is
  // deliberately SMALLER than production's 64-slot xxhash64 family
  // (16 md5-60 slots, 4 bands x 4 rows) so the banding recall curve is
  // non-trivial — P(caught) = 1-(1-J^4)^4 spans ~0.2..1.0 over the
  // evaluated Jaccard range instead of saturating at 1.
  val EvalSlots = 16
  val EvalBands = 4
  // evaluate from J = 0.02: the synthetic corpus is bimodal (near-verbatim
  // pairs at J >= 0.9, incidental vocabulary overlap below 0.1), so the
  // curve's informative content is band 0 recall ~ 0 (banding correctly
  // REJECTS low-J noise) vs band 4 recall 1.0 (it catches true dups)
  val EvalMinJ = 0.02
  // Ground-truth ANCHOR sampling: exact pairs are enumerated only where
  // the smaller doc_id ≡ 0 mod this — a deterministic 1/mod pair sample,
  // unbiased per Jaccard band (the id is independent of content), which
  // is how an evaluation job actually runs at scale: the exact side's
  // join volume is Σ_shingle df² and full enumeration is the one
  // genuinely quadratic computation in the suite (measured 12.6 s at
  // sf0.1 unsampled — the most expensive query by 2×). Semantic
  // parameter; the oracle applies the same anchor rule.
  val EvalAnchorMod = 4

  /**
   * Near-dup RECALL EVALUATION — the monitoring rung for the dedup
   * family (the knn_label_eval/text_langid_eval pattern): per
   * Jaccard band, how many true near-dup pairs does LSH banding
   * actually catch? Exact pairs (shingle Jaccard ≥ [[EvalMinJ]],
   * anchor-sampled to smaller doc_id ≡ 0 mod [[EvalAnchorMod]] — the
   * unbiased 1/mod pair sample an at-scale eval enumerates, because
   * the exact side's Σ df² shingle join is the one genuinely
   * quadratic computation here) are the ground truth; the candidate
   * set comes from a PORTABLE minhash
   * (slot i = min over shingles of md5-60(base-hash ++ ":i") where the
   * base hash is the shingle's md5-60 — keying the slot family on the
   * 60-bit hash keeps shingle STRINGS out of the whole query; band =
   * md5-60 of its 4 comma-joined slots) — the md5-60 device that lets
   * DuckDB recompute the SIGNATURES themselves, so the oracle
   * re-derives both sides of the recall fraction instead of trusting
   * either. Production signatures stay the 64-slot xxhash64 kernel
   * family; this evaluates the banding MECHANISM on a deliberately
   * small signature where recall is a real curve, not a constant 1.
   * Output: (j_band, n_pairs, n_caught, recall_r), j_band =
   * min(floor(J·5), 4). Scale shape: the dedup-family contract —
   * shingle hashes and band keys are fixed-width 60-bit values, both
   * joins are equi-joins on them, documents never shuffle; the md5
   * slot family costs [[EvalSlots]] hashes per distinct shingle (an
   * evaluation job runs on a sample at 100 TB).
   */
  def dedupEval(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = EvalSlots / EvalBands
    def md560(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // per-doc DISTINCT md5-60 shingle hashes in ONE kernel pass
    // (portable GramHashes over the same space-joined 3-grams — the
    // composed string-shingle column form was interpreted HOFs and
    // cost 4.3 s per consumer at bench cores); the hash IS
    // md560(shingle), so the exact side is unchanged
    val shh = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(
        FanOut.fanOut(
          Tables.documents(spark, sfDir).select("doc_id", "text"))
          .select(col("doc_id"),
            explode(array_distinct(graft.functions.native.gram_hashes(
              col("text"), 3, portable = true))).as("h")),
        Seq("h"), eager = false)
      // MATERIALIZED once (r18): FIVE consumers read this
      // corpus-sized frame (sizes, both exact-join sides, the
      // slot-table distinct, the slot re-join) with differing
      // downstream keys that defeat ReuseExchange — unchecked, the
      // kernel+explode subtree re-ran per consumer (measured 5.4 →
      // 4.2 s standalone at sf0.1; banded's self-join, by contrast,
      // REUSES its exchange — checkpointing it measured SLOWER).
      // r21: the snapshot is hash-partitioned on h (the
      // partitioning-preserving checkpoint), so the exact self-join
      // (both sides), the slot-table distinct, and the slot re-join —
      // all keyed on h — plan with NO Exchange over it; only the
      // doc_id-keyed aggs still shuffle. LAZY: materializes at the
      // query's first action, so merely BUILDING the frame (plan
      // inspection, topology wiring) costs nothing — review-pass fix
    val sizes = shh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val exact = shh.filter(col("doc_id") % EvalAnchorMod === 0).as("x")
      .join(shh.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("j", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("j") >= EvalMinJ)
      .select(col("id1"), col("id2"),
        least(floor(col("j") * 5), lit(4L)).as("j_band"))
    // candidate side: the portable banded minhash, with the slot
    // family keyed on the 60-bit BASE HASH's decimal string (not the
    // raw shingle — strings never materialize anywhere in this query)
    // and the 16 slot hashes computed once per DISTINCT base hash
    // (the corpus repeats each shingle df ≈ 10×), re-joined for the
    // per-doc min rollup
    val slotTable = shh.select("h").distinct()
      .select(col("h") +: (0 until EvalSlots).map(i =>
        md560(concat(col("h").cast("string"), lit(s":$i"))).as(s"h$i")): _*)
    val slots = shh.join(slotTable, Seq("h"))
      .groupBy("doc_id").agg(
        min(col("h0")).as("m0"),
        (1 until EvalSlots).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    val banded = slots.select(col("doc_id"),
      posexplode(array((0 until EvalBands).map(b =>
        md560(concat_ws(",",
          (0 until rows).map(r => col(s"m${b * rows + r}")): _*))): _*)))
      .toDF("doc_id", "band", "bk")
    val caught = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .withColumn("hit", lit(1))
    exact.join(caught, Seq("id1", "id2"), "left")
      .groupBy("j_band")
      .agg(count(lit(1)).as("n_pairs"), count(col("hit")).as("n_caught"))
      .withColumn("recall_r", round(col("n_caught") / col("n_pairs"), 4))
  }

  /**
   * Character-entropy quality signal — the garbled/degenerate-content
   * detector a curation pipeline runs next to the word-level Gopher
   * battery ("aaaa…", base64 blobs, and mojibake all sit at entropy
   * extremes where natural prose does not): per document, the
   * code-point count, distinct-character count, and Shannon entropy in
   * integer micro-nats (per-class terms floored BEFORE the sum — the
   * NllMicro device, so the total is an engine-stable integer). ONE
   * row-local [[graft.functions.CharEntropy]] kernel pass, zero
   * exchanges at any corpus size — the relational form would explode
   * one row per CHARACTER, a corpus×doc-length shuffle for a
   * statistic every row computes alone (the gopherProjection
   * argument at character granularity).
   */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.native.char_entropy(col("text")).as("e"))
      .select(col("doc_id"), col("e.n_cp").as("n_cp"),
        col("e.n_distinct").as("n_distinct_chars"),
        col("e.entropy_micro").as("entropy_micro"))

  // classify_train hyperparameters: full-batch GD iterations and the
  // label rule (is-English, from the corpus's upstream lang column —
  // the one labeled signal testdata carries). Dim/bucket arithmetic is
  // the frozen classifier's own ([[classifyWeight]]'s md5-prefix mod
  // ClassifyDim), so trained weights are drop-in for the apply stage.
  val TrainIters = 6

  /**
   * Quality-classifier TRAINING in-query — the learn stage
   * [[textClassify]] applies: full-batch logistic-regression gradient
   * descent over hashed bag-of-words features (md5-prefix buckets mod
   * [[graft.functions.VectorMath.ClassifyDim]]), labels y = (lang =
   * 'en'), [[TrainIters]] iterations, output the per-bucket weight
   * table (bucket, w_micro). Joins the training-in-query family
   * (bpe_learn, sim_ivf_kmeans's Lloyd, graph_pagerank): the model is
   * learned by the engine itself and the DuckDB oracle trains
   * INDEPENDENTLY via an unrolled CTE chain — agreement means the
   * whole learner reproduces, not just one scoring pass.
   *
   * Engine-exactness devices: (1) the link is the RATIONAL sigmoid
   * σ(m) = 0.5 + m/(2(1+|m|)) — only +,*,/,abs on identical operands,
   * no transcendental whose last ulp could differ across libm
   * implementations (the one risk ln-based NllMicro accepts; a
   * learner iterates 6× so drift would compound); (2) every
   * cross-row float SUM is pre-quantized to integer micro-units and
   * summed as BIGINT (margins per doc, gradients per bucket — the
   * mix_weights order-independence device); (3) the weight update
   * floors G/N on identical doubles. Scale shape: the featurized
   * (doc, y, n_words, bucket, c) relation is built once and
   * localCheckpointed (the training-in-query contract); each
   * iteration is one doc-keyed agg + one doc-keyed join + one
   * 64-group agg, and the model collect is 64 rows — gradient state
   * never exceeds |Dim|.
   */
  def classifyTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val w = trainClassifierWeightsWithFeatures(
      Tables.documents(spark, sfDir))._1
    import spark.implicits._
    w.zipWithIndex.map { case (wm, b) => (b.toLong, wm) }
      .toSeq.toDF("bucket", "w_micro")
  }

  /** The learner of [[classifyTrain]], returning the weight array —
   *  factored so the live admission gate
   *  (`StreamOps.trainedClassifyGateStream`) trains the identical
   *  model once at topology build. Input needs (doc_id, lang, text). */
  /** The trainer's featurized relation (doc_id, y, n_words, bucket, c)
   *  — factored so [[classifyEval]] scores the SAME features the
   *  weights were trained on. Wordless docs drop here (no feature
   *  rows), identically on both engines. */
  private def classifierFeatures(corpus: DataFrame): DataFrame = {
    val docs = corpus
      .select(col("doc_id"), (col("lang") === "en").cast("int").as("y"),
        col("text"))
    FanOut.fanOut(docs)
      .select(col("doc_id"), col("y"),
        graft.ops.TextAnalyticsOps.wsTokenCount(lower(col("text"))).as("n_words"),
        explode(graft.ops.TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .select(col("doc_id"), col("y"), col("n_words"),
        (conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long")
          % ClassifyDim).as("bucket"))
      .groupBy("doc_id", "y", "n_words", "bucket")
      .agg(count(lit(1)).as("c"))
  }

  private[graft] def trainClassifierWeights(corpus: DataFrame): Array[Long] =
    trainClassifierWeightsWithFeatures(corpus)._1

  /** [[trainClassifierWeights]] also returning the CHECKPOINTED feature
   *  relation the weights were trained on, so [[classifyEval]] scores
   *  the materialized snapshot instead of re-deriving the identical
   *  relation with a second corpus pass. */
  private[graft] def trainClassifierWeightsWithFeatures(corpus: DataFrame,
      driverCap: Long = graft.ops.DriverGate.cap(
        graft.ops.DriverGate.ClassifierRowBytes)): (Array[Long], DataFrame) = {
    val micro = 1000000.0
    val feats = classifierFeatures(corpus).localCheckpoint()
    val w = Array.fill(ClassifyDim.toInt)(0L)
    // DRIVER KERNEL behind [[graft.ops.DriverGate]] (the bpe_learn /
    // LocalGraph device): each of the TrainIters gradient rounds is a
    // doc-keyed agg + join + 64-group agg + collect — measured 32
    // serial jobs / 3.1 s (JobProbe sf0.1/32c) moving ~3 MB of shuffle
    // for 64 gradient scalars. Under the cap the feature rows collect
    // ONCE (fixed-width longs, read straight off the snapshot the eval
    // scores anyway) and the rounds run locally through the IDENTICAL
    // arithmetic — long multiply, the same double widenings and
    // floors, per-doc and per-bucket LONG sums (order-independent) —
    // so the weights are bit-identical by construction (ClassifySpec
    // pins driver == distributed). Past the cap the distributed rounds
    // below run unchanged — the honest 100 TB form.
    graft.ops.DriverGate("classify_train", feats.select(col("doc_id"),
        col("y"), col("n_words"), col("bucket"), col("c")), driverCap)(
        r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4))) { rows =>
      val docIdx = scala.collection.mutable.LongMap.empty[Int]
      val docY = scala.collection.mutable.ArrayBuffer.empty[Int]
      rows.foreach { case (doc, y, _, _, _) =>
        if (!docIdx.contains(doc)) { docIdx(doc) = docY.size; docY += y }
      }
      val nDocs = docY.size.toLong
      (1 to TrainIters).foreach { _ =>
        val mm = new Array[Long](docY.size)
        rows.foreach { case (doc, _, nWords, bucket, c) =>
          mm(docIdx(doc)) += math.floor(
            (w(bucket.toInt) * c).toDouble / nWords).toLong
        }
        val pd = new Array[Double](docY.size)
        var i = 0
        while (i < pd.length) {
          val m = mm(i) / micro
          pd(i) = (0.5 + m / (2.0 * (1.0 + math.abs(m)))) - docY(i)
          i += 1
        }
        val grad = new Array[Long](ClassifyDim.toInt)
        rows.foreach { case (doc, _, nWords, bucket, c) =>
          grad(bucket.toInt) += math.floor(
            pd(docIdx(doc)) * c * micro / nWords).toLong
        }
        (0 until ClassifyDim.toInt).foreach { b =>
          w(b) -= math.floor(grad(b).toDouble / nDocs).toLong
        }
      }
      Some(w)
    } match {
      case Right(trained) => return (trained, feats)
      case Left(_) => () // feats itself: the snapshot is read directly
    }
    val nDocs = feats.select("doc_id").distinct().count()
    (1 to TrainIters).foreach { _ =>
      val wmap = map((0 until ClassifyDim.toInt).flatMap(b =>
        Seq(lit(b.toLong), lit(w(b)))): _*)
      val margins = feats
        .withColumn("term", floor(
          (element_at(wmap, col("bucket")) * col("c")).cast("double")
            / col("n_words")))
        .groupBy("doc_id", "y", "n_words").agg(sum("term").as("mm"))
      val m = col("mm") / lit(micro)
      val pd = margins.select(col("doc_id"),
        ((lit(0.5) + m / (lit(2.0) * (lit(1.0) + abs(m)))) - col("y"))
          .as("pd"))
      val grads = feats.join(pd, Seq("doc_id"))
        .withColumn("g",
          floor(col("pd") * col("c") * lit(micro) / col("n_words")))
        .groupBy("bucket").agg(sum("g").as("grad"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      (0 until ClassifyDim.toInt).foreach { b =>
        w(b) -= math.floor(grads.getOrElse(b, 0L).toDouble / nDocs).toLong
      }
    }
    (w, feats)
  }

  /**
   * Trained-classifier EVALUATION — the monitoring half of
   * [[classifyTrain]], the number an operator reads before deploying
   * the trained gate: apply the learned weights to every document's
   * own training features and roll the (label, prediction) confusion
   * counts. Prediction is the margin sign (mm > 0 — the integer
   * micro-unit sum, so the cut is exact on both engines); wordless
   * docs have no features and drop from the eval, identically on both
   * sides. The DuckDB oracle TRAINS INDEPENDENTLY (the classifyTrain
   * unrolled 6-step CTE chain) and scores relationally — the whole
   * train→predict→confusion pipeline is re-derived, not trusted.
   * Scale shape: training is the classifyTrain contract (6 serial
   * gradient jobs, ≤ ClassifyDim groups); scoring is one pass over
   * the trainer's checkpointed feature snapshot with the weight map as a
   * plan literal + one two-phase per-doc sum + a 4-group rollup.
   */
  def classifyEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, feats) = trainClassifierWeightsWithFeatures(
      Tables.documents(spark, sfDir))
    val wmap = map((0 until ClassifyDim.toInt).flatMap(b =>
      Seq(lit(b.toLong), lit(w(b)))): _*)
    feats
      .withColumn("term", floor(
        (element_at(wmap, col("bucket")) * col("c")).cast("double")
          / col("n_words")))
      .groupBy("doc_id", "y").agg(sum("term").as("mm"))
      .groupBy(col("y").cast("bigint").as("label_en"),
        (col("mm") > 0).as("pred_en"))
      .agg(count(lit(1)).as("n"))
  }

  /** [[textTokens]] with REAL merge-table BPE instead of the bpeish
   *  regex heuristic: per-doc whitespace and BPE-subword token counts
   *  under the frozen corpus-learned merge list. Same scale shape —
   *  one row-local projection, no shuffle; the oracle replays the
   *  identical merge schedule in a DuckDB recursive CTE over the same
   *  table (over DISTINCT words — the memo trick, relationally). */
  def textTokensBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"),
      TextAnalyticsOps.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalyticsOps.bpeTokenCount(col("text")).as("bpe_tokens"))

  /**
   * Tokenizer FERTILITY per language — subword tokens per whitespace
   * word under the frozen merge table, the standard tokenizer-quality
   * metric (a tokenizer trained on English shows elevated fertility on
   * other languages; multilingual pipelines track exactly this table
   * when sizing per-language budgets). Output per lang: doc/token
   * totals and fertility = bpe_tokens / ws_tokens. Scale shape: the
   * two token counts are the row-local kernels (per-distinct-word
   * memo), then ONE two-phase agg with |langs| groups — the corpus
   * never shuffles; the ratio is a single division of two bigint sums
   * from the same row (engine-stable by the mix_weights reasoning).
   */
  def bpeFertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalyticsOps.wsTokenCount(col("text"))).as("ws_tokens"),
        sum(TextAnalyticsOps.bpeTokenCount(col("text"))).as("bpe_tokens"),
        sum(graft.functions.native
          .unigram_token_count(lower(col("text")))).as("unigram_tokens"),
        sum(graft.functions.native
          .wordpiece_token_count(lower(col("text")))).as("wordpiece_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens") / col("ws_tokens"), 6))
      .withColumn("unigram_fertility",
        round(col("unigram_tokens") / col("ws_tokens"), 6))
      .withColumn("wordpiece_fertility",
        round(col("wordpiece_tokens") / col("ws_tokens"), 6))

  /**
   * Per-source CORPUS REPORT — the curation dashboard a pipeline
   * operator actually watches: for every source, document/token
   * totals, summed quality score (per-doc floor-quantized to integer
   * micro-units so the sum is order-independent — the NllMicro
   * device; divide by n_docs for the mean), language-ID/label
   * disagreement count, and the classifier's keep count. Composes
   * four row-local kernels ([[TextAnalyticsOps.wsTokenCount]],
   * [[TextAnalyticsOps.qualityFeatures]], [[TextAnalyticsOps.langId]],
   * [[graft.functions.ClassifyScore]]) in ONE projection over ONE
   * corpus scan, then ONE two-phase agg with |sources| groups — no
   * joins, no second pass; the 100 TB cost is the scan every
   * monitoring rollup pays anyway.
   */
  def corpusReport(spark: SparkSession, sfDir: String): DataFrame =
    corpusReportAgg(Tables.documents(spark, sfDir))

  /** The enrichment + rollup of [[corpusReport]] over any
   *  (source, lang, text) frame — shared by the batch query and the
   *  live `corpus_report` monitor (`StreamOps.corpusReportStream`):
   *  every metric is a plain aggregate, so the IDENTICAL plan runs as
   *  a Complete-mode streaming agg with O(sources) state. */
  def corpusReportAgg(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        TextAnalyticsOps.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalyticsOps.qualityFeatures(col("text"))
          .getField("score").as("score"),
        TextAnalyticsOps.langId(col("text")).as("lang_pred"),
        graft.functions.native.classify_score(lower(col("text")))
          .getField("score_sum").as("cls"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("n_tokens"),
        sum(floor(col("score") * 1e6).cast("bigint")).as("q_micro_sum"),
        sum(when(col("lang_pred") =!= col("lang"), 1L).otherwise(0L))
          .as("n_lang_mismatch"),
        sum(when(col("cls") > 0, 1L).otherwise(0L)).as("n_keep"))

  /** Full BPE ENCODE (the native [[graft.functions.BpeEncode]]
   *  kernel): each document's actual token stream under the frozen
   *  merge table, md5-gated — the oracle reconstructs the SAME stream
   *  from its independent recursive-CTE segmentations, so the
   *  segmentation itself is cross-engine verified, not just its
   *  length. Row-local projection, zero shuffles. */
  def textEncodeBpe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.native.bpe_encode(lower(col("text"))).as("e"))
      .select(col("doc_id"),
        col("e.n_tokens").as("bpe_tokens"),
        md5(col("e.enc")).as("enc_hash"))

  /** Output size of [[bpePairStats]]. */
  val BpePairTopK = 20

  /**
   * BPE-learn pair statistics — the distributed core of merge-table
   * LEARNING (the offline loop that produced the frozen
   * [[graft.functions.VectorMath.BpeMerges]] applied by
   * `text_tokens_bpe`): corpus-weighted adjacent character-pair
   * counts, top-[[BpePairTopK]] by (count desc, pair asc — the
   * learner's deterministic tie-break). Row 1 IS the pair the next
   * merge rule would adopt; at sf0.01 the top five reproduce
   * BpeMerges' first five rules exactly.
   * Scale shape: vocabulary agg FIRST (two-phase hash agg on word —
   * the learn loop's working set is the vocab, not the corpus, the
   * same dedup the apply kernel's memo exploits), then a row-local
   * char-pair explode of distinct words weighted by frequency, one
   * two-phase agg on (a, b) (alphabet²-bounded keys), and a global
   * top-K that plans as TakeOrderedAndProject (K rows to the driver,
   * total order ⇒ the boundary row is deterministic).
   */
  def bpePairStats(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = FanOut.fanOut(Tables.documents(spark, sfDir))
      .select(explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // split(w, "") keeps a trailing "" under Java's limit=-1 semantics
    // (DuckDB's string_split does not) — filter to the real chars
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    vocab
      .withColumn("cs", chars)
      .filter(size(col("cs")) >= 2) // sequence(0,-1) would emit [0,-1]
      .select(col("freq"),
        explode(transform(sequence(lit(0), size(col("cs")) - 2),
          i => struct(element_at(col("cs"), i + 1).as("a"),
            element_at(col("cs"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(BpePairTopK)
  }

  /** Rules [[bpeLearn]] learns — the frozen table's size, so the spec
   *  can pin learned == frozen row-for-row. */
  val BpeLearnK: Int = graft.functions.VectorMath.BpeMerges.length

  /** Lineage-truncation stride of [[bpeLearn]]: apply this many merge
   *  rules as chained fold projections before localCheckpoint cuts the
   *  plan (4-deep nested HOFs codegen fine; 48-deep would not), so the
   *  loop schedules K/4 truncation jobs instead of K. */
  private val BpeLearnStride = 4

  /**
   * Full in-query BPE merge-table LEARNING — the loop that produced
   * the frozen [[graft.functions.VectorMath.BpeMerges]] applied by
   * `text_tokens_bpe`, run as a distributed query (Sennrich et al.
   * 2016, the public algorithm): start from characters; K times, take
   * the corpus-weighted most frequent adjacent symbol pair (ties:
   * lexicographically smallest — [[bpePairStats]]' exact ordering) and
   * merge its occurrences left-to-right in every vocab word. Emits
   * (rank, a, b) — the merges file a production tokenizer ships.
   * Training-in-query like sim_ivf_kmeans: the corpus is touched ONCE
   * (the vocab agg); every iteration then works on the VOCAB-sized
   * segmentation frame — pair explode, two-phase agg on
   * alphabet²-bounded keys, and a 1-row TakeOrderedAndProject argmax
   * whose collect is the model artifact (the Lloyd-centroid pattern;
   * rule i parameterizes iteration i+1's fold, so the sequence is
   * inherently iterative — that serial chain of K vocab-sized jobs is
   * the contract, not a scale hazard: at 100 TB the vocab frame is
   * millions of rows, not the corpus). The per-word apply is an exact
   * left-to-right fold (`aggregate` HOF), bit-equal to the reference
   * learner's regex pass including same-symbol runs ("aaa" + (a,a) →
   * ["aa","a"]). The DuckDB oracle learns INDEPENDENTLY via a
   * generated K-level chained CTE ([[Oracles.bpeLearn]]) — at sf0.01
   * both reproduce the frozen table exactly (spec-pinned), closing
   * the loop: learn (this), learn-stats (`bpe_pair_stats`), apply
   * (`text_tokens_bpe`) all agree cross-engine.
   */
  def bpeLearn(spark: SparkSession, sfDir: String): DataFrame =
    bpeLearnOf(Tables.documents(spark, sfDir))

  /** Word-frequency dicts at or under this row count run the tokenizer
   *  MERGE LOOPS driver-side ([[bpeLearnOf]]/[[wordpieceLearnOf]]): the
   *  dict collects behind [[graft.ops.DriverGate]] (the bounded
   *  model-artifact contract — the dict IS the model input, and it is
   *  what every production tokenizer trainer holds in memory) and the K
   *  merge rounds run as plain Scala over it, replacing ~2K serial
   *  vocab-sized Spark jobs (pair agg + argmax collect per rule, plus
   *  stride checkpoints) with zero. Past the cap the distributed loop
   *  stands — the honest form where the dict outgrows driver memory.
   *  A (word, freq) row is budgeted at 100 bytes. */
  private[graft] lazy val TokenizerDriverVocab: Long =
    graft.ops.DriverGate.cap(graft.ops.DriverGate.VocabRowBytes)

  /** Spark's string sort order (UTF8String.binaryCompare = unsigned
   *  UTF-8 byte order) for driver-side tie-breaks — String.compareTo
   *  (UTF-16 code units) would misorder supplementary code points
   *  against U+E000..U+FFFF. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The driver-side merge loop shared by [[bpeLearnOf]] and
   *  [[wordpieceLearnOf]] under [[TokenizerDriverVocab]] — bit-identical
   *  to the distributed fold (spec-pinned both against it and against
   *  the independent reference learners): code-point segmentation (the
   *  `split(w, "")` semantics — Java's empty regex match never lands
   *  inside a surrogate pair), exact integer pair/symbol counts, the
   *  same ONE IEEE double division for the wordpiece score, argmax
   *  under (cnt desc, a, b) / (score desc, a, b) with ties in UTF-8
   *  byte order, and the same left-to-right non-overlapping merge
   *  ("aaa" + (a,a) → ["aa","a"]). Returns (rank, a, b, score); the
   *  score slot is 0 for BPE. */
  private def driverMergeRules(dict: Array[(String, Long)], k: Int,
      wordpiece: Boolean): Seq[(Long, String, String, Double)] = {
    val symIdx = new java.util.HashMap[String, Integer]
    val syms = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(s: String): Int = {
      val got = symIdx.get(s)
      if (got != null) got.intValue
      else { symIdx.put(s, syms.length); syms += s; syms.length - 1 }
    }
    val words = new Array[Array[Int]](dict.length)
    val freqs = new Array[Long](dict.length)
    var wi = 0
    while (wi < dict.length) {
      val (w, f) = dict(wi)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        val c = new String(Character.toChars(cp))
        buf += intern(if (wordpiece && i > 0) "##" + c else c)
        i += Character.charCount(cp)
      }
      words(wi) = buf.toArray
      freqs(wi) = f
      wi += 1
    }
    val rules =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Double)]
    var done = false
    while (rules.size < k && !done) {
      val pairCnt = scala.collection.mutable.LongMap.empty[Long]
      val symCnt = scala.collection.mutable.LongMap.empty[Long]
      var w = 0
      while (w < words.length) {
        val ss = words(w)
        val f = freqs(w)
        var i = 0
        while (i < ss.length) {
          if (wordpiece) {
            val s = ss(i).toLong
            symCnt(s) = symCnt.getOrElse(s, 0L) + f
          }
          if (i < ss.length - 1) {
            val key = (ss(i).toLong << 32) | (ss(i + 1).toLong & 0xffffffffL)
            pairCnt(key) = pairCnt.getOrElse(key, 0L) + f
          }
          i += 1
        }
        w += 1
      }
      if (pairCnt.isEmpty) done = true // vocab fully merged before K rules
      else {
        var bestA: String = null
        var bestB: String = null
        var bestAi = -1
        var bestBi = -1
        var bestCnt = 0L
        var bestScore = 0.0
        val it = pairCnt.iterator
        while (it.hasNext) {
          val (key, cnt) = it.next()
          val ai = (key >>> 32).toInt
          val bi = (key & 0xffffffffL).toInt
          // each count cast to double BEFORE the multiply — the
          // distributed form's exact arithmetic (graceful past 2^53)
          val score = if (wordpiece)
            cnt.toDouble / (symCnt(ai.toLong).toDouble * symCnt(bi.toLong).toDouble)
          else 0.0
          val better =
            if (bestA == null) true
            else if (wordpiece) {
              if (score != bestScore) score > bestScore
              else {
                val a = syms(ai)
                if (a != bestA) utf8Lt(a, bestA)
                else utf8Lt(syms(bi), bestB)
              }
            } else {
              if (cnt != bestCnt) cnt > bestCnt
              else {
                val a = syms(ai)
                if (a != bestA) utf8Lt(a, bestA)
                else utf8Lt(syms(bi), bestB)
              }
            }
          if (better) {
            bestA = syms(ai); bestB = syms(bi)
            bestAi = ai; bestBi = bi
            bestCnt = cnt; bestScore = score
          }
        }
        rules += ((rules.size + 1L, bestA, bestB, bestScore))
        if (rules.size < k) { // the last rule is never applied
          val mergedSym =
            intern(if (wordpiece) bestA + bestB.stripPrefix("##")
            else bestA + bestB)
          var w2 = 0
          while (w2 < words.length) {
            val ss = words(w2)
            if (ss.length >= 2) {
              var has = false
              var j = 0
              while (!has && j < ss.length - 1) {
                if (ss(j) == bestAi && ss(j + 1) == bestBi) has = true
                j += 1
              }
              if (has) {
                // left-to-right non-overlapping: the merge looks at the
                // ACCUMULATED last symbol, exactly the distributed fold
                val out = new Array[Int](ss.length)
                var oi = 0
                var i2 = 0
                while (i2 < ss.length) {
                  if (oi > 0 && out(oi - 1) == bestAi && ss(i2) == bestBi)
                    out(oi - 1) = mergedSym
                  else { out(oi) = ss(i2); oi += 1 }
                  i2 += 1
                }
                words(w2) = java.util.Arrays.copyOf(out, oi)
              }
            }
            w2 += 1
          }
        }
      }
    }
    rules.toSeq
  }

  /** The learning loop of [[bpeLearn]] over any (text) frame with an
   *  explicit driver-dict cap — factored for the driver==distributed
   *  equivalence spec. */
  private[graft] def bpeLearnOf(docs: DataFrame,
      driverCap: Long = TokenizerDriverVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass either way: the gate snapshots the dict (an
    // aggregate) once, and the collect and the fallback read it
    val vocab = graft.ops.DriverGate("bpe_learn", FanOut.fanOut(docs)
        .select(explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq")), driverCap)(
        r => (r.getString(0), r.getLong(1))) { dict =>
      Some(driverMergeRules(dict, BpeLearnK, wordpiece = false)
        .map { case (r, a, b, _) => (r, a, b) }.toDF("rank", "a", "b"))
    } match {
      case Right(out) => return out
      case Left(snap) => snap
    }
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    var segs = vocab
      .select(col("freq"), chars.as("ss"))
      .localCheckpoint()
    graft.ops.DedupOps.releaseTruncated(vocab)
    var lastCkpt = segs // the checkpoint HANDLE (releaseTruncated contract)
    var sinceTrunc = 0
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var done = false
    while (rules.size < BpeLearnK && !done) {
      val top = segs
        .filter(size(col("ss")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("ss")) - 2),
            i => struct(element_at(col("ss"), i + 1).as("a"),
              element_at(col("ss"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true // vocab fully merged before K rules
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        rules += ((rules.size + 1L, a, b))
        if (rules.size < BpeLearnK) { // the last rule is never applied
          // left-to-right non-overlapping merge of (a, b);
          // try_element_at because ANSI element_at(-1) would throw on
          // the empty seed
          val applied = segs.select(col("freq"),
            aggregate(col("ss"), array().cast("array<string>"),
              (acc, t) => when(
                try_element_at(acc, lit(-1)) === lit(a) && t === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(t)))).as("ss"))
          sinceTrunc += 1
          if (sinceTrunc >= BpeLearnStride) {
            // fully-merged words (one symbol left) can never produce
            // a pair again — drop them at the lineage cut so later
            // rounds scan and materialize a shrinking frame (BPE's
            // pair stats never read symbol counts, unlike wordpiece)
            segs = applied.filter(size(col("ss")) >= 2).localCheckpoint()
            // the previous CHECKPOINT HANDLE is now unreachable —
            // release its blocks eagerly (Dataset.unpersist is a
            // no-op on checkpointed frames, and a chained `segs`
            // would root-match nothing — releaseTruncated's contract)
            graft.ops.DedupOps.releaseTruncated(lastCkpt)
            lastCkpt = segs
            sinceTrunc = 0
          } else segs = applied
        }
      }
    }
    graft.ops.DedupOps.releaseTruncated(lastCkpt)
    rules.toSeq.toDF("rank", "a", "b")
  }

  // ---- WordPiece tokenizer learning (Schuster & Nakajima 2012) ----------

  /** Merge rules [[wordpieceLearn]] learns (the frozen
   *  [[graft.functions.VectorMath.WordpieceVocab]] carries the
   *  alphabet + these merges' results). */
  val WordpieceLearnK = 32

  /**
   * Full in-query WordPiece merge-table LEARNING (Schuster & Nakajima
   * 2012; Wu et al. 2016 §3.1 — the BERT-family tokenizer, the third
   * dominant production family next to BPE and unigram-LM): BPE's
   * loop with a LIKELIHOOD-RATIO merge criterion — at each step merge
   * the adjacent symbol pair maximizing score = cnt(a,b) / (cnt(a) ·
   * cnt(b)), the pair whose merge most increases corpus likelihood
   * under a unigram model, instead of raw pair frequency. Non-initial
   * symbols carry the `##` continuation prefix from the start
   * ("word" → [w, ##o, ##r, ##d]), so a merge result inherits its
   * left symbol's word-position class and the learned vocabulary is
   * position-aware, exactly what the greedy longest-match encoder
   * needs. Emits (rank, a, b, score_r).
   *
   * Determinism contract: pair and symbol counts are exact integers;
   * the score is ONE IEEE double division cnt / (cnt(a)·cnt(b)) with
   * each count cast to double BEFORE the multiply — exact below 2⁵³
   * (so both engines compute the identical double;
   * [[Oracles.wordpieceLearn]] re-learns with the same arithmetic)
   * and graceful past it, where a long product would silently wrap;
   * ties break (a, b) lexicographically — the bpePairStats total
   * order. The per-word merge apply is [[bpeLearn]]'s exact
   * left-to-right fold with the replacement a + b-minus-its-`##`.
   *
   * Scale shape: the corpus is touched ONCE (the vocab agg); each
   * iteration is two vocab-sized aggs (pairs, symbols — both
   * alphabet²-bounded keys), a tiny join, and a 1-row argmax collect
   * (the Lloyd-centroid pattern); lineage truncates on the bpeLearn
   * stride. The serial chain of K vocab-sized jobs is the contract —
   * at 100 TB the vocab frame is millions of rows, not the corpus.
   */
  def wordpieceLearn(spark: SparkSession, sfDir: String): DataFrame =
    wordpieceLearnOf(Tables.documents(spark, sfDir))

  /** The learning loop of [[wordpieceLearn]] over any (text) frame —
   *  factored for fixture-corpus specs; `driverCap` forces either arm
   *  in the driver==distributed equivalence spec. */
  def wordpieceLearnOf(docs: DataFrame,
      driverCap: Long = TokenizerDriverVocab): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus pass either way (the bpeLearnOf gate)
    val vocab = graft.ops.DriverGate("wordpiece_learn", FanOut.fanOut(docs)
        .select(explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq")), driverCap)(
        r => (r.getString(0), r.getLong(1))) { dict =>
      Some(driverMergeRules(dict, WordpieceLearnK, wordpiece = true)
        .toDF("rank", "a", "b", "score")
        .select(col("rank"), col("a"), col("b"),
          round(col("score"), 6).as("score_r")))
    } match {
      case Right(out) => return out
      case Left(snap) => snap
    }
    val chars = filter(split(col("w"), ""), c => length(c) > 0)
    val syms = transform(chars,
      (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c)))
    var segs = vocab
      .select(col("freq"), syms.as("ss"))
      .localCheckpoint()
    graft.ops.DedupOps.releaseTruncated(vocab)
    var lastCkpt = segs // the checkpoint HANDLE (releaseTruncated contract)
    var sinceTrunc = 0
    val rules =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Double)]
    var done = false
    while (rules.size < WordpieceLearnK && !done) {
      val pairs = segs
        .filter(size(col("ss")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("ss")) - 2),
            i => struct(element_at(col("ss"), i + 1).as("a"),
              element_at(col("ss"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      val symCnt = segs.select(col("freq"), explode(col("ss")).as("sym"))
        .groupBy("sym").agg(sum(col("freq")).as("c"))
      val top = pairs
        .join(symCnt.select(col("sym").as("a"), col("c").as("ca")), "a")
        .join(symCnt.select(col("sym").as("b"), col("c").as("cb")), "b")
        .withColumn("score", col("cnt").cast("double") /
          (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(col("score").desc, col("a"), col("b"))
        .select("a", "b", "score")
        .limit(1).collect()
      if (top.isEmpty) done = true // vocab fully merged before K rules
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        val score = top(0).getDouble(2)
        rules += ((rules.size + 1L, a, b, score))
        if (rules.size < WordpieceLearnK) { // the last rule is never applied
          val merged = a + b.stripPrefix("##")
          val applied = segs.select(col("freq"),
            aggregate(col("ss"), array().cast("array<string>"),
              (acc, t) => when(
                try_element_at(acc, lit(-1)) === lit(a) && t === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                .otherwise(concat(acc, array(t)))).as("ss"))
          sinceTrunc += 1
          if (sinceTrunc >= BpeLearnStride) {
            segs = applied.localCheckpoint()
            graft.ops.DedupOps.releaseTruncated(lastCkpt)
            lastCkpt = segs
            sinceTrunc = 0
          } else segs = applied
        }
      }
    }
    graft.ops.DedupOps.releaseTruncated(lastCkpt)
    rules.toSeq.toDF("rank", "a", "b", "score")
      .select(col("rank"), col("a"), col("b"),
        round(col("score"), 6).as("score_r"))
  }

  // ---- Unigram-LM tokenizer learning (Kudo 2018 / SentencePiece) --------

  /** Longest candidate piece for [[unigramLearn]]'s seed, DP, and the
   *  frozen apply kernel (canonical constant lives beside the frozen
   *  vocab). */
  val UnigramMaxPiece: Int = graft.functions.VectorMath.UnigramMaxPieceLen
  /** Multi-char seed pieces: top substrings by corpus-weighted
   *  occurrence count (ties lexicographically smallest — the
   *  bpePairStats total-order convention). Single characters are
   *  always in the vocabulary and never pruned (coverage guarantee —
   *  Kudo's required-character rule). */
  val UnigramSeedK = 48
  /** Hard-EM (segment → re-estimate) rounds; a prune follows every
   *  round but the last. */
  val UnigramRounds = 3
  /** Longest word the generated ORACLE DP unrolls to (the kernel has
   *  no limit); sf0.01's longest word is 8 chars, so 16 is a 2×
   *  margin. */
  val UnigramMaxWordLen = 16

  /** Add-one-smoothed micro-nat cost: floor(-ln((cnt+1)/(tot+k))·1e6)
   *  — integer in, one double ln, floored once; the NllMicro device,
   *  so DP sums are exact integers on both engines. */
  private def unigramMicro(cnt: Long, tot: Long, k: Int): Long =
    math.floor(-math.log((cnt + 1.0) / (tot + k).toDouble) * 1000000.0).toLong

  /** Viterbi cost of segmenting piece string `p` WITHOUT using `p`
   *  itself (the full-string edge is excluded; proper substrings are
   *  fair game) — SentencePiece's likelihood-loss approximation: how
   *  much the model pays per occurrence if the piece is dropped.
   *  Driver-side plain Scala over ≤[[UnigramMaxPiece]]-char strings —
   *  a model-sized computation, like a Lloyd centroid update. */
  private def unigramAltCost(p: String, cost: Map[String, Long]): Long = {
    val n = p.length
    val INF = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(INF)
    dp(0) = 0L
    for (i <- 1 to n; l <- 1 to math.min(i, UnigramMaxPiece)
         if !(l == n && i == n)) {
      cost.get(p.substring(i - l, i))
        .orElse(if (l == 1) Some(graft.functions.VectorMath.UnigramUnkMicro)
          else None)
        .foreach { c =>
          if (dp(i - l) < INF && dp(i - l) + c < dp(i)) dp(i) = dp(i - l) + c
        }
    }
    dp(n)
  }

  /**
   * Unigram-LM tokenizer LEARNING in-query (Kudo 2018, the
   * SentencePiece algorithm family; the other dominant production
   * tokenizer next to BPE) — deterministic hard-EM variant, chosen so
   * every step is integer-exact and cross-engine reproducible (the
   * bpe_learn contract): full EM's forward–backward expected counts
   * are float sums whose aggregation order no oracle could pin;
   * Viterbi (hard) counts are integers. The loop:
   *
   *  1. SEED: vocabulary = all single characters (never pruned —
   *     coverage) + the top [[UnigramSeedK]] multi-char substrings
   *     (≤ [[UnigramMaxPiece]] chars) by corpus-weighted occurrence
   *     count; initial costs from those counts, add-one smoothed,
   *     floor-quantized to integer micro-nats ([[NllMicro]] device).
   *  2. For each of [[UnigramRounds]] rounds: Viterbi-segment the
   *     VOCAB frame under the current model (one broadcast + one
   *     [[graft.functions.UnigramSegmentModel]] kernel call per
   *     distinct word; ties → longest final piece, recursively
   *     unique), count pieces corpus-weighted (integers), M-step
   *     re-estimate costs.
   *  3. PRUNE (after every round but the last): likelihood-loss =
   *     cnt(p) × (altCost(p) − cost(p)) where altCost segments p's own
   *     string without the full-piece edge (SentencePiece's loss
   *     approximation); keep singles + the top ⌈3/4·|multis|⌉ by
   *     (loss desc, piece asc).
   *
   * Emits the final (piece, cnt, cost_micro) — the model file a
   * production tokenizer ships. Training-in-query like [[bpeLearn]]:
   * ONE corpus pass (the vocab agg), then every round works on the
   * vocab-sized frame; model artifacts collected are |vocab pieces|
   * rows. The DuckDB oracle learns INDEPENDENTLY — seed, per-round
   * unrolled Viterbi DP + longest-edge backtrack CTEs, M-step, and
   * loss-ranked prune all re-derived in SQL ([[Oracles.unigramLearn]];
   * non-circularity: only hyperparameters are shared).
   */
  def unigramLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val vocab = FanOut.fanOut(Tables.documents(spark, sfDir))
      .select(explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    // seed: substrings with multiplicity, corpus-weighted (vocab-sized
    // frame; the two explodes stay inside one task per vocab slice)
    val subs = vocab
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(UnigramMaxPiece), length(col("w")) - col("i") + 1)))
          .as("l"))
      .select(col("freq"), col("w").substr(col("i"), col("l")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
    val singles = subs.filter(length(col("piece")) === 1)
    val multis = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(UnigramSeedK)
    def costsOf(cnts: Array[(String, Long)]): Array[(String, Long, Long)] = {
      val tot = cnts.map(_._2).sum
      val k = cnts.length
      cnts.map { case (p, c) => (p, c, unigramMicro(c, tot, k)) }
    }
    var cur: Array[(String, Long, Long)] = costsOf(
      singles.unionByName(multis).collect()
        .map(r => (r.getString(0), r.getLong(1))))
    for (r <- 1 to UnigramRounds) {
      val sorted = cur.sortBy(_._1)
      val bcP = sc.broadcast(sorted.map(_._1))
      val bcC = sc.broadcast(sorted.map(_._3))
      val counts = vocab
        .select(col("freq"), explode(split(
          graft.functions.native.unigram_segment(col("w"), bcP, bcC,
            UnigramMaxPiece), " ")).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      bcP.unpersist(); bcC.unpersist()
      val withCnt = cur.map { case (p, _, _) => (p, counts.getOrElse(p, 0L)) }
      val kept: Array[(String, Long)] =
        if (r == UnigramRounds) withCnt
        else {
          val interim = costsOf(withCnt)
          val costMap = interim.map(t => t._1 -> t._3).toMap
          val multisCur = interim.filter(_._1.length >= 2)
          val nKeep = math.ceil(multisCur.length * 3.0 / 4).toInt
          val keptMultis = multisCur
            .map { case (p, c, cost) =>
              (p, c, c * (unigramAltCost(p, costMap) - cost)) }
            .sortBy { case (p, _, loss) => (-loss, p) }
            .take(nKeep).map(t => (t._1, t._2))
          interim.filter(_._1.length == 1).map(t => (t._1, t._2)) ++ keptMultis
        }
      cur = costsOf(kept)
    }
    graft.ops.DedupOps.releaseTruncated(vocab)
    cur.toSeq.toDF("piece", "cnt", "cost_micro")
  }

  /** Full unigram-LM ENCODE under the frozen
   *  [[graft.functions.VectorMath.UnigramVocab]] (the native
   *  [[graft.functions.UnigramEncode]] kernel) — [[textEncodeBpe]]'s
   *  sibling for the other production tokenizer family: each
   *  document's actual piece stream, md5-gated so the SEGMENTATION is
   *  cross-engine verified, not just its length. Row-local
   *  projection, zero shuffles. */
  def textTokensUnigram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.native.unigram_encode(lower(col("text"))).as("e"))
      .select(col("doc_id"),
        col("e.n_tokens").as("unigram_tokens"),
        md5(col("e.enc")).as("enc_hash"))

  /** Full WordPiece ENCODE under the frozen
   *  [[graft.functions.VectorMath.WordpieceVocab]] (the native
   *  [[graft.functions.WordpieceEncode]] kernel) — greedy
   *  longest-match-first with `##` continuations and whole-word
   *  `[UNK]` on dead ends, the BERT-family apply arm next to
   *  [[textTokensBpe]] and [[textTokensUnigram]]: each document's
   *  actual piece stream, md5-gated so the SEGMENTATION is
   *  cross-engine verified, not just its length. Row-local
   *  projection, zero shuffles. */
  def textTokensWordpiece(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.native.wordpiece_encode(lower(col("text"))).as("e"))
      .select(col("doc_id"),
        col("e.n_tokens").as("wordpiece_tokens"),
        md5(col("e.enc")).as("enc_hash"))

  /** Tokenizer COVERAGE telemetry per source: whitespace word count,
   *  WordPiece whole-word `[UNK]` count under the frozen vocab, and
   *  the OOV rate — the report that tells an operator whether the
   *  tokenizer's training alphabet still covers incoming data (a
   *  rising unk_rate is the canonical domain-shift alarm). The UNK
   *  count is derived from the encode stream itself by substring
   *  arithmetic — `[UNK]` contains uppercase and brackets, neither of
   *  which any real (lowercased) piece can carry, so the 5-char
   *  occurrence count is exact. One row-local kernel pass, one
   *  |sources|-group agg — no joins, no second scan.
   *
   *  The vocab was trained on this very corpus, so unaugmented data
   *  reads 0 everywhere (true, but it gates nothing): every fifth
   *  doc_id gains a deterministic two-word domain-shift suffix —
   *  one word the alphabet cannot segment ("emoji": ##j is absent)
   *  and one it can ("sort") — the engineered-fixture convention
   *  (piiAugment); the oracle re-derives the augmentation. */
  /** The deterministic doc_id-derived domain-shift suffix shared by
   *  [[textUnkRate]] and [[tokenizerCompare]] — ONE definition so the
   *  two unk_rate columns cannot silently diverge; the oracle twin is
   *  [[Oracles.UnkAugSql]]. */
  private[graft] def unkAug: Column =
    when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" emoji sort"))).otherwise(col("text"))

  /** Exact `[UNK]` occurrence count over a WordPiece encode stream —
   *  uppercase + brackets can never arise from real (lowercased)
   *  pieces, so the 5-char substring arithmetic is exact. */
  private def unkCount(enc: Column): Column =
    ((length(enc) - length(replace(enc, lit("[UNK]"), lit("")))) / 5)
      .cast("long")

  def textUnkRate(spark: SparkSession, sfDir: String): DataFrame = {
    val aug = unkAug
    val enc = graft.functions.native.wordpiece_encode(lower(aug))
      .getField("enc")
    Tables.documents(spark, sfDir)
      .select(col("source"),
        TextAnalyticsOps.wsTokenCount(aug).as("nw"),
        unkCount(enc).as("nu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nu")).as("n_unk"))
      .withColumn("unk_rate_r",
        round(col("n_unk") / nullif(col("n_words").cast("double"),
          lit(0.0)), 6))
  }

  /**
   * Unified tokenizer SCORECARD — one queryable artifact for the
   * trade-off the per-family queries each show one column of: for
   * every tokenizer family (whitespace, BPE, WordPiece, unigram-LM)
   * over the SAME corpus, total tokens, fertility (tokens per
   * whitespace word), UNK rate, and bytes per token. The corpus is
   * the [[textUnkRate]] domain-shift augmentation (every fifth doc
   * gains " emoji sort") so the UNK column is non-vacuous on the
   * self-trained vocabularies; whitespace/BPE/unigram carry UNK 0 by
   * construction (whitespace and byte-level BPE always segment; the
   * unigram DP charges unknown chars [[graft.functions.VectorMath]]'s
   * UNK edge but still emits them as pieces). Scale shape: ONE corpus
   * scan composing the four row-local token-count kernels + the
   * `[UNK]` substring arithmetic, ONE single-group agg, then a
   * row-local 4-way `stack` unpivot of the one-row totals — no joins,
   * no second pass; every ratio divides two bigint sums once.
   */
  def tokenizerCompare(spark: SparkSession, sfDir: String): DataFrame = {
    val augText = unkAug
    val low = lower(augText)
    val wpEnc = graft.functions.native.wordpiece_encode(low).getField("enc")
    Tables.documents(spark, sfDir)
      .select(
        TextAnalyticsOps.wsTokenCount(augText).as("ws"),
        TextAnalyticsOps.bpeTokenCount(augText).as("bpe"),
        graft.functions.native.unigram_token_count(low).as("uni"),
        graft.functions.native.wordpiece_token_count(low).as("wp"),
        unkCount(wpEnc).as("wp_unk"),
        octet_length(augText).cast("bigint").as("bytes"))
      .agg(count(lit(1)).as("n_docs"), sum("ws").as("ws"),
        sum("bpe").as("bpe"), sum("uni").as("uni"), sum("wp").as("wp"),
        sum("wp_unk").as("wp_unk"), sum("bytes").as("bytes"))
      .selectExpr("n_docs", "ws", "bytes",
        "stack(4, 'whitespace', ws, 0L, 'bpe', bpe, 0L, " +
          "'wordpiece', wp, wp_unk, 'unigram', uni, 0L) " +
          "AS (family, n_tokens, n_unk)")
      .select(col("family"), col("n_docs"), col("ws").as("n_words"),
        col("n_tokens"), col("n_unk"),
        round(col("n_tokens") / col("ws").cast("double"), 6)
          .as("fertility_r"),
        round(col("n_unk") / col("ws").cast("double"), 6).as("unk_rate_r"),
        round(col("bytes") / col("n_tokens").cast("double"), 6)
          .as("bytes_per_token_r"))
  }

  /** Quantization scale for [[textUnigramNll]]: per-word negative
   *  log-likelihoods are floored to integer micro-nats so the per-doc
   *  sum is an exact integer (order-independent ⇒ engine-stable — the
   *  mix_weights device; a raw double sum would hash-diverge on
   *  aggregation order). */
  val NllMicro = 1000000L

  /**
   * Unigram LM quality scoring — the frequency-based LM filter shape
   * (a stand-in for CCNet-style KenLM perplexity gates): model =
   * corpus unigram distribution, score = per-doc total negative
   * log-likelihood in micro-nats (divide by n_words/[[NllMicro]] for
   * mean cross-entropy; rare-word-heavy docs score high). Train and
   * apply in ONE plan, like sim_ivf_kmeans: pass 1 aggregates the
   * vocabulary (two-phase, vocab-sized), a one-row total joins back
   * by broadcast, and the scored model — vocab rows, tiny — is
   * BROADCAST for the apply join, so the corpus-side explode never
   * shuffles for the join; the only corpus exchange is the final
   * per-doc integer sum. The two corpus passes (learn, score) are the
   * training-in-query contract; a production pipeline freezes the
   * model table offline and keeps only the apply pass (quality_cut's
   * offline-statistic/online-filter split).
   */
  def textUnigramNll(spark: SparkSession, sfDir: String): DataFrame =
    unigramNllOf(Tables.documents(spark, sfDir))

  /** The train+apply plan of [[textUnigramNll]] over any
   *  (doc_id, text) frame — shared by the sfDir query and the live
   *  `ppl_gate` threshold learn (`StreamOps.pplBucketStream`). */
  def unigramNllOf(docs: DataFrame): DataFrame =
    // fanOut: the scoring explode + broadcast-model probe is a heavy
    // row-local pass off the scan (the langid narrow-scan hazard)
    FanOut.fanOut(docs)
      .select(col("doc_id"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .join(broadcast(unigramModel(docs).select("w", "nll_micro")), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("nll_micro").as("nll_micro_sum"))

  /** The LEARN pass of [[textUnigramNll]], factored so the live
   *  scoring topology (`StreamOps.lmScoreStream`) trains the identical
   *  model from a static corpus: (w, freq, nll_micro) — vocab-sized.
   *  The corpus total is a scalar AGGREGATE over the freq relation
   *  broadcast back by crossJoin (the qualityCut device) — it reuses
   *  the freq agg's exchange (plan-pinned ReusedExchange, never a
   *  corpus re-scan), where the previous whole-frame window moved the
   *  ENTIRE vocab relation to one partition for one number (the
   *  WindowExec single-partition warning; at 100 TB the vocab is
   *  millions of rows and that partition is a straggler by
   *  construction — guide §2.5's monster-partition class). */
  def unigramModel(docs: DataFrame): DataFrame = {
    // LAZY checkpoint (the dedup_eval device): the vocab relation has
    // two consumers (the model rows and the ntok scalar) whose
    // differing shapes defeat static exchange reuse — the snapshot
    // pins the one-corpus-scan contract in the PLAN itself
    // (PlanShapeSpec), not in AQE's runtime stage cache
    val freq = FanOut.fanOut(docs)
      .select(explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(false)
    freq.crossJoin(broadcast(freq.agg(sum(col("freq")).as("ntok"))))
      .select(col("w"), col("freq"),
        floor(-log(col("freq") / col("ntok"))
          * lit(NllMicro.toDouble))
          .cast("bigint").as("nll_micro"))
  }

  /**
   * Bigram LM quality scoring with add-one smoothing — one rung up
   * from [[textUnigramNll]] toward the n-gram KenLM gates CCNet-style
   * pipelines use: model = smoothed conditional
   * P(b|a) = (c(a,b)+1) / (c(a·)+V), score = per-doc total negative
   * log-likelihood over its word bigrams, floor-quantized to integer
   * micro-nats (the engine-stable sum device). The smoothing mass V is
   * |distinct contexts| rather than |vocab| — a definitional choice
   * (any fixed vocab-scale constant serves the filter) that keeps the
   * ENTIRE model derivable from the bigram relation alone: c(a·) is a
   * per-context window sum and V a whole-frame window over the same
   * vocab²-bounded frame, so the corpus is scanned exactly twice
   * (learn, score) — a |vocab| constant would have planned an
   * independent token-agg subtree re-scanning the corpus a third time
   * for one number (the trap the unigram query's window refactor
   * removed). Apply is the same broadcast-model join: the corpus-side
   * pair explode never shuffles for it; docs with <2 words have no
   * bigrams and drop out (the unigram query's empty-doc contract).
   */
  def textBigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    // fanOut: tokenize + pair explode is heavy row-local work off the
    // scan (the langid narrow-scan hazard; both the learn and score
    // derivations of `pairs` inherit it)
    def pairs = FanOut.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"),
        TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("a"),
            element_at(col("ws"), i + 2).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    // V (= distinct contexts) is a scalar aggregate over the bigram
    // TYPE relation, broadcast back by crossJoin — the previous
    // whole-frame-window collect_set moved the entire type relation to
    // ONE partition and built a vocab-sized set per partition (guide
    // §2.5's monster-partition class); the agg reuses the groupBy's
    // exchange, so the corpus is still scanned exactly twice
    val bgTypes = pairs.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(false) // lazy: two consumers (model rows, V)
    val model = bgTypes
      .withColumn("c_a", sum("c_ab").over(Window.partitionBy("a")))
      .crossJoin(broadcast(bgTypes.agg(
        count_distinct(col("a")).as("v"))))
      .select(col("a"), col("b"),
        floor(-log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double"))
          * lit(NllMicro.toDouble)).cast("bigint").as("nll_micro"))
    pairs.join(broadcast(model), Seq("a", "b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("nll_micro").as("nll_micro_sum"))
  }

  /** Discount for [[textBigramKn]] — the standard fixed
   *  Kneser-Ney D (exactly representable in binary, so the smoothed
   *  probability is a fixed IEEE expression over integer counts). */
  val KnDiscount = 0.75

  /**
   * Interpolated KNESER-NEY bigram LM scoring — the smoothing that
   * actually ships in KenLM-style CCNet filters, one rung above
   * [[textBigramNll]]'s add-one: P(b|a) = (max(c(ab)−D, 0) +
   * D·N₁₊(a·)·P_cont(b)) / c(a·), with the continuation prior
   * P_cont(b) = N₁₊(·b) / |bigram types| — the "how many contexts
   * has b followed" mass that makes KN robust where raw frequency
   * misleads (Kneser & Ney 1995; Chen & Goodman 1998). Every model
   * statistic (c(ab), c(a·), N₁₊(a·), N₁₊(·b), T) is an integer
   * window over the SAME vocab²-bounded bigram relation — the
   * textBigramNll single-frame contract, so the corpus is scanned
   * exactly twice (learn, score) — and the smoothed probability is
   * one fixed-shape IEEE double expression over those integers,
   * floor-quantized to micro-nats (the engine-stable device; the
   * oracle spells the identical parenthesization and re-derives the
   * whole model). Apply is the broadcast-model join; docs with <2
   * words drop out (the empty-doc contract). Trained on the corpus
   * it scores, c(ab) ≥ 1, so every pair joins and p > 0.
   */
  def textBigramKn(spark: SparkSession, sfDir: String): DataFrame =
    textBigramKnOf(Tables.documents(spark, sfDir))

  /** The [[textBigramKn]] engine over any (doc_id, text) frame —
   *  factored for fixture tests. */
  def textBigramKnOf(docs: DataFrame): DataFrame = {
    // fanOut: see textBigramNll
    def pairs = FanOut.fanOut(docs)
      .select(col("doc_id"),
        TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 2),
          i => struct(element_at(col("ws"), i + 1).as("a"),
            element_at(col("ws"), i + 2).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val model = knStats(pairs.groupBy("a", "b")
        .agg(count(lit(1)).as("c_ab")))
      .select(col("a"), col("b"), knSeenNllMicro.as("nll_micro"))
    pairs.join(broadcast(model), Seq("a", "b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("nll_micro").as("kn_nll_micro_sum"))
  }

  /** The four KN model statistics as windows over an (a, b, c_ab)
   *  frame — ONE definition shared by [[textBigramKnOf]] and the live
   *  `StreamOps.bigramKnScoreStream` (the linregQuotients convention:
   *  batch and stream cannot drift). */
  private[graft] def knStats(bg: DataFrame): DataFrame = {
    // T (bigram type count) as a scalar aggregate broadcast back by
    // crossJoin, not a whole-frame window (which single-partitions the
    // ENTIRE type relation for one number — guide §2.5). The LAZY
    // checkpoint pins the one-derivation contract for the type
    // relation's two consumers in the plan itself (the unigramModel
    // device), keeping the two-corpus-scan pin static.
    val bgM = bg.localCheckpoint(false)
    bgM
      .withColumn("c_a", sum("c_ab").over(Window.partitionBy("a")))
      .withColumn("n1p_a", count(lit(1)).over(Window.partitionBy("a")))
      .withColumn("cont_b", count(lit(1)).over(Window.partitionBy("b")))
      .crossJoin(broadcast(bgM.agg(count(lit(1)).as("tt"))))
  }

  /** The quantized interpolated-KN seen-pair NLL over [[knStats]]
   *  columns — the ONE expression whose parenthesization the oracle
   *  mirrors and the stream's micro-nat-identity rests on. */
  private[graft] def knSeenNllMicro: org.apache.spark.sql.Column =
    floor(-log(
      (greatest(col("c_ab").cast("double") - lit(KnDiscount), lit(0.0)) +
        ((lit(KnDiscount) * col("n1p_a")) *
          (col("cont_b").cast("double") / col("tt").cast("double")))) /
        col("c_a").cast("double"))
      * lit(NllMicro.toDouble)).cast("bigint")

  /**
   * Interpolated KNESER-NEY TRIGRAM LM scoring — [[textBigramKn]]'s
   * n=3 rung (production ppl-bucketing filters run n ≥ 3 with
   * interpolation; Chen & Goodman 1998's interpolated modified-KN
   * with one fixed discount): P(c|ab) = (max(c(abc)−D, 0) +
   * D·N₁₊(ab·)·P_mid(c|b)) / c(ab·), the middle level over
   * continuation counts P_mid(c|b) = (max(N₁₊(·bc)−D, 0) +
   * D·N₁₊(b·)·P_cont(c)) / N₁₊(·b·), and P_cont(c) = N₁₊(·c)/T₂
   * over the trigram-derived (b,c) type relation — every statistic
   * is an integer window over ONE vocab³-bounded trigram type
   * relation (plus its (b,c) projection), all three levels sum to 1
   * exactly (the discount mass D·N₁₊ re-enters as the lower level's
   * weight), and the smoothed probability is one fixed-shape IEEE
   * double expression over eight integers, floor-quantized to
   * micro-nats (the oracle spells the identical parenthesization and
   * re-derives the whole model with independent COUNT-over-types
   * windows). Trained on the corpus it scores, c(abc) ≥ 1 — every
   * triple joins, p > 0; docs with <3 words drop out.
   *
   * Scale shape: two corpus scans (learn, score) exactly like
   * [[textBigramKn]]; the model windows run over the vocab³-bounded
   * trigram relation, the apply is a broadcast-model join.
   */
  def textTrigramKn(spark: SparkSession, sfDir: String): DataFrame =
    textTrigramKnOf(Tables.documents(spark, sfDir))

  /** The [[textTrigramKn]] engine over any (doc_id, text) frame —
   *  factored for fixture tests. */
  def textTrigramKnOf(docs: DataFrame): DataFrame = {
    // fanOut: see textBigramNll
    def triples = FanOut.fanOut(docs)
      .select(col("doc_id"),
        TextAnalyticsOps.words(lower(col("text"))).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("ws")) - 3),
          i => struct(element_at(col("ws"), i + 1).as("a"),
            element_at(col("ws"), i + 2).as("b"),
            element_at(col("ws"), i + 3).as("c")))).as("t"))
      .select(col("doc_id"), col("t.a").as("a"), col("t.b").as("b"),
        col("t.c").as("c"))
    val model = kn3Stats(triples.groupBy("a", "b", "c")
        .agg(count(lit(1)).as("c_abc")))
      .select(col("a"), col("b"), col("c"),
        kn3SeenNllMicro.as("nll_micro"))
    triples.join(broadcast(model), Seq("a", "b", "c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum("nll_micro").as("kn3_nll_micro_sum"))
  }

  /** The eight KN-trigram model statistics as windows over an
   *  (a, b, c, c_abc) trigram TYPE frame — ONE definition shared by
   *  [[textTrigramKnOf]] and the live `StreamOps.trigramKnScoreStream`
   *  (the knStats convention). The (b,c)-type-level counts
   *  (N₁₊(b·), N₁₊(·c), T₂) use the first-row-per-(b,c) tag summed
   *  per partition — a windowed count-distinct without a second
   *  relation. */
  private[graft] def kn3Stats(tg: DataFrame): DataFrame = {
    // T₂ = |distinct (b,c)| — a scalar aggregate over the trigram TYPE
    // relation broadcast back by crossJoin, not a whole-frame window
    // (which single-partitioned the entire type relation, the biggest
    // frame in this model, for one number — guide §2.5's
    // monster-partition class). LAZY checkpoint: the knStats device,
    // one derivation for the relation's two consumers, plan-pinned.
    val tgM = tg.localCheckpoint(false)
    tgM
      .withColumn("c_ab", sum("c_abc").over(Window.partitionBy("a", "b")))
      .withColumn("n1p_ab", count(lit(1)).over(Window.partitionBy("a", "b")))
      .withColumn("n1p_dot_bc", count(lit(1)).over(Window.partitionBy("b", "c")))
      .withColumn("n1p_mid_b", count(lit(1)).over(Window.partitionBy("b")))
      .withColumn("fst",
        when(row_number().over(
          Window.partitionBy("b", "c").orderBy("a")) === 1, 1L)
          .otherwise(0L))
      .withColumn("n1p_b_dot", sum("fst").over(Window.partitionBy("b")))
      .withColumn("n1p_dot_c", sum("fst").over(Window.partitionBy("c")))
      .crossJoin(broadcast(tgM.agg(
        count_distinct(col("b"), col("c")).as("tt2"))))
  }

  /** The quantized interpolated-KN seen-trigram NLL over [[kn3Stats]]
   *  columns — the ONE expression whose parenthesization the oracle
   *  mirrors and the stream's micro-nat-identity rests on. */
  private[graft] def kn3SeenNllMicro: org.apache.spark.sql.Column =
    floor(-log(
      (greatest(col("c_abc").cast("double") - lit(KnDiscount), lit(0.0)) +
        ((lit(KnDiscount) * col("n1p_ab")) *
          ((greatest(col("n1p_dot_bc").cast("double") - lit(KnDiscount),
            lit(0.0)) +
            ((lit(KnDiscount) * col("n1p_b_dot")) *
              (col("n1p_dot_c").cast("double") /
                col("tt2").cast("double")))) /
            col("n1p_mid_b").cast("double")))) /
        col("c_ab").cast("double"))
      * lit(NllMicro.toDouble)).cast("bigint")

  /** Minimum pair count and output size for [[textCollocations]]. */
  val CollocMinCount = 5L
  val CollocTopK = 50

  /**
   * PMI-ranked COLLOCATION mining — the classic association measure
   * for multi-word expressions (Church & Hanks 1990): for every
   * adjacent word pair seen ≥ [[CollocMinCount]] times, the lift
   * N·c(ab) / (c(a)·c(b)) whose log is the pointwise mutual
   * information; ranking by the lift IS ranking by PMI (log is
   * monotone), so the score stays EXACT — floor-quantized micro-lift
   * from one double quotient of exactly-represented integer counts
   * (no ln in the gate at all). Emits the top [[CollocTopK]] by
   * (lift, w1, w2) — a total order, so the cut is deterministic.
   *
   * Scale shape: two corpus scans (unigram counts, pair counts) —
   * both two-phase aggregates over fixed-width keys; the corpus
   * total is a whole-frame window over the VOCAB-sized unigram
   * relation (the unigramModel device, never a third scan); the
   * min-count cut prunes the pair relation BEFORE the two broadcast
   * model joins; the final cut is TakeOrderedAndProject, never a
   * global sort. At 100 TB the vocab/pair frames are
   * millions-of-rows model artifacts, not corpus-sized.
   */
  def textCollocations(spark: SparkSession, sfDir: String): DataFrame =
    collocationsOf(Tables.documents(spark, sfDir))

  /** The [[textCollocations]] engine over any (text) frame — factored
   *  for fixture tests. */
  def collocationsOf(docs: DataFrame): DataFrame = {
    // fanOut: see textBigramNll
    val w = FanOut.fanOut(docs)
      .select(TextAnalyticsOps.words(lower(col("text"))).as("ws"))
    // vocab-sized model artifact, MATERIALIZED once: it feeds BOTH
    // broadcast joins below, and the differing projections defeat
    // ReuseExchange — without the cut the corpus is scanned a third
    // time for the c2 side (plan-pinned). The handle stays live under
    // the returned frame — left to the ContextCleaner (the pagerank
    // non-boundary convention)
    val uniC = w.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // the corpus token total is a scalar aggregate over the
    // CHECKPOINTED vocab relation broadcast back by crossJoin — the
    // previous whole-frame window single-partitioned the vocab frame
    // (guide §2.5); the agg reads the checkpoint, never the corpus
    val uni = uniC.crossJoin(broadcast(uniC.agg(sum("c").as("ntok"))))
    val bg = w.filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("a"),
          element_at(col("ws"), i + 2).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= CollocMinCount)
    bg.join(broadcast(uni.select(col("w").as("a"), col("c").as("c1"),
        col("ntok"))), Seq("a"))
      .join(broadcast(uni.select(col("w").as("b"), col("c").as("c2"))),
        Seq("b"))
      .select(col("a").as("w1"), col("b").as("w2"), col("c12"),
        // every factor casts to double BEFORE multiplying: bigint
        // products (ntok·10⁶, c1·c2) overflow int64 at corpus scale
        // (~2.5e13 tokens at 100 TB), doubles only round
        floor((col("ntok").cast("double") * lit(1000000.0)) /
          (col("c1").cast("double") * col("c2").cast("double")) *
          col("c12"))
          .cast("bigint").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  /**
   * CCNet-style PERPLEXITY BUCKETING — assign every document to
   * head/middle/tail by its LM score's position in the corpus score
   * distribution (CCNet keeps the low-perplexity head, samples the
   * middle, drops the tail; downstream mixtures weight the buckets).
   * Score = per-doc mean unigram NLL in micro-nats
   * (floor(nll_sum / n_words) — integer, engine-stable); thresholds =
   * interpolated 1/3 and 2/3 quantiles of that score (the
   * value_quantiles percentile≡quantile_cont equivalence), broadcast
   * back as one row (the quality_cut device). Scale shape: the scored
   * frame is doc-count-sized with three fixed-width columns and is
   * MATERIALIZED once (localCheckpoint — the bpe_learn device);
   * without it the threshold branch's column pruning reorders the
   * doc-agg partials ([sum,count] vs [count,sum]), the canonical
   * plans diverge, ReuseExchange never fires, and the WHOLE unigram
   * subtree — two corpus scans — runs twice (measured 2.6× slower).
   * The quantile stays a two-phase agg over the checkpoint (partial
   * buffers are distinct-integer-value-sized), NOT a whole-frame
   * window, which would ship every row to one partition — fine for a
   * vocab-sized frame, a straggler for a doc-count-sized one. A
   * production pipeline freezes the two thresholds offline and keeps
   * only the row-local CASE — this query is the training-in-query
   * form of that split.
   */
  def textPplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = textUnigramNll(spark, sfDir)
      .select(col("doc_id"), col("n_words"),
        floor(col("nll_micro_sum") / col("n_words"))
          .cast("bigint").as("mean_nll_micro"))
      .localCheckpoint()
    val thr = scored.agg(
      percentile(col("mean_nll_micro"), lit(1.0 / 3)).as("t1"),
      percentile(col("mean_nll_micro"), lit(2.0 / 3)).as("t2"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_words"), col("mean_nll_micro"),
        when(col("mean_nll_micro") < col("t1"), lit("head"))
          .when(col("mean_nll_micro") < col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Tokens per training chunk ([[textChunks]]). */
  val ChunkTokens = 50

  /**
   * Sequence CHUNKING — split every document into consecutive
   * `ChunkTokens`-token training chunks (the pretraining tokenize-and-
   * cut step): chunk i of a doc holds word tokens [i*k, (i+1)*k), the
   * last chunk ragged. Emits (doc_id, chunk_id, n_tokens, chunk_hash)
   * with the hash over the space-joined chunk so the content mapping —
   * not just the counts — is oracle-checked. Scale shape: one
   * row-local split + a Generate (explode) — narrow, no shuffle, no
   * state; fan-out is sum(ceil(tokens/k)), i.e. proportional to corpus
   * token count, the same output volume any tokenizer pass emits.
   * Empty docs produce zero chunks (filtered before the explode —
   * `sequence(0, -1)` would emit a [0,-1] range, not an empty one).
   */
  def textChunks(spark: SparkSession, sfDir: String): DataFrame =
    chunkProjection(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The row-local chunk explode of [[textChunks]] over any
   *  (passthrough..., text) frame — shared by the batch query and
   *  Run's live `text_chunks` topology (stateless, so the SAME
   *  projection serves both, like `hashSamplePredicate`). */
  def chunkProjection(df: DataFrame): DataFrame = {
    val k = ChunkTokens
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough :+ TextAnalyticsOps.words(col("text")).as("w"): _*)
      .filter(size(col("w")) > 0)
      .select(passthrough ++ Seq(col("w"), explode(sequence(lit(0),
        ceil(size(col("w")) / lit(k.toDouble)).cast("int") - 1)).as("c")): _*)
      .select(passthrough ++ Seq(col("c").cast("bigint").as("chunk_id"),
        size(slice(col("w"), col("c") * k + 1, lit(k))).cast("bigint")
          .as("n_tokens"),
        md5(array_join(slice(col("w"), col("c") * k + 1, lit(k)), " "))
          .as("chunk_hash")): _*)
  }

  /** Token budget per packed sequence ([[packSequences]]). */
  val PackTokens = 200

  /**
   * Greedy sequence PACKING — concatenate documents in (source,
   * doc_id) order and cut every `PackTokens` tokens: each doc is
   * assigned to the sequence where its first token lands
   * (seq_id = floor(preceding-token-count / budget)), the
   * deterministic concatenate-then-cut packing a pretraining loader
   * applies to short documents. Scale shape: one row-local token
   * count, then a cumulative sum windowed PER SOURCE — bounded
   * parallel groups (sources), never a global single-partition sort;
   * for a skewed MEGA-source whose single window group would bottleneck
   * one task, [[packSequencesSharded]] is the sub-sharded two-pass
   * prefix-sum form with bit-identical output (PackShardingSpec).
   * Deterministic: the order key is total, so packing is replay- and
   * engine-stable (which is what lets DuckDB reproduce it
   * bit-for-bit).
   */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame =
    packSequencesOf(packTokenFrame(spark, sfDir))

  /** The (doc_id, source, n_tokens) frame both the packing and its
   *  monitor consume — ONE definition, so the monitor cannot silently
   *  diverge from the deployed tokenizer. */
  private def packTokenFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        TextAnalyticsOps.wsTokenCount(col("text")).as("n_tokens"))

  /** The packing's per-source cumulative token sum — the ONE ordering
   *  and window definition [[packSequencesOf]] and [[packEval]] share. */
  private def packCum(tokens: DataFrame): DataFrame =
    tokens.withColumn("cum", sum(col("n_tokens")).over(
      Window.partitionBy(col("source")).orderBy(col("doc_id"))))

  /** The windowed assignment of [[packSequences]] over any
   *  (doc_id, source, n_tokens) frame — shared by the sfDir query and
   *  the sharded-equivalence property test. */
  def packSequencesOf(tokens: DataFrame): DataFrame =
    packCum(tokens)
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(PackTokens.toDouble))
          .cast("bigint"))
      .drop("cum")

  /**
   * Packing EVALUATION — the monitor for [[packSequences]], the two
   * numbers a pretraining-loader ops team actually watches: per
   * source, the FILL RATE (total tokens over sequence capacity — the
   * waste the last partial sequence and short corpora cause) and the
   * SPLIT-DOC count (documents crossing a sequence boundary — the
   * attention-contamination the concatenate-then-cut policy accepts;
   * a doc splits iff its first and last token land in different
   * budget windows). Both derive from the same per-source cumulative
   * sum the packing itself uses, so the eval measures EXACTLY the
   * deployed policy. Output: (source, n_docs, total_tokens, n_seqs,
   * n_split_docs, fill_r); n_seqs = the packer's OWN sequence count
   * (max assigned seq_id + 1, so a trailing zero-token doc — which
   * the assignment formula places at the boundary of the next
   * sequence — is counted exactly as the packer emits it, and a
   * nonempty source always has n_seqs >= 1, making fill_r total).
   * Scale shape: one row-local token count + the per-source window +
   * one |sources|-group agg; same contract as the packing query.
   */
  def packEval(spark: SparkSession, sfDir: String): DataFrame = {
    val p = PackTokens.toDouble
    packCum(packTokenFrame(spark, sfDir))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")) / lit(p)).cast("bigint"))
      .withColumn("split", col("n_tokens") > 0 &&
        col("seq_id") =!= floor((col("cum") - 1) / lit(p)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max(col("seq_id")) + 1L).as("n_seqs"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split_docs"))
      .withColumn("fill_r", round(col("total_tokens") /
        (col("n_seqs") * lit(PackTokens.toLong)), 4))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_seqs"), col("n_split_docs"), col("fill_r"))
  }

  /** Sub-shard width (in doc_id units) for [[packSequencesSharded]]:
   *  contiguous doc_id ranges of this width form the inner prefix-sum
   *  buckets. Any positive value is correct (PackShardingSpec fuzzes
   *  several); the knob trades bucket parallelism against the size of
   *  the per-(source, bucket) totals frame. */
  val PackShardWidth = 64L

  /**
   * [[packSequences]] for SKEWED sources — the salted sub-shard form
   * promised next to the salted dedup ops. The plain form's per-source
   * cumulative window serializes each source into one task; fine for
   * balanced mixtures, a straggler when one mega-source dominates the
   * corpus. This form computes the same cumulative sum as a two-pass
   * distributed prefix sum (the same decomposition as the
   * range-partitioned two-pass rank in AnalyticsQueries):
   *
   *  1. bucket = floor(doc_id / [[PackShardWidth]]) — contiguous
   *     doc_id ranges, so within-source order across buckets is the
   *     bucket order (row-local, no shuffle, deterministic — no RNG
   *     salt, same replay-stability contract as the plain form);
   *  2. within-(source, bucket) cumulative window — parallelism is
   *     now sources x buckets, bounded task size;
   *  3. per-(source, bucket) token totals (two-phase agg, tiny) get an
   *     EXCLUSIVE running offset over the tiny frame and broadcast
   *     back — the shuffle carries one long per bucket, never rows.
   *
   * seq_id = floor((bucket_offset + cum_in_bucket - n_tokens) /
   * budget) — algebraically the plain form's assignment, bit-for-bit
   * (PackShardingSpec proves equality under fuzz; the gate runs both
   * against the SAME DuckDB oracle).
   */
  def packSequencesSharded(spark: SparkSession, sfDir: String): DataFrame =
    packSequencesShardedOf(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          TextAnalyticsOps.wsTokenCount(col("text")).as("n_tokens")),
      PackShardWidth)

  /** The sub-sharded assignment of [[packSequencesSharded]] over any
   *  (doc_id, source, n_tokens) frame. Bucket totals are derived as
   *  max(cum_in) FROM THE WINDOWED FRAME — not a separate agg over the
   *  input — so both join branches share the identical
   *  scan→exchange→window subtree and AQE materializes the
   *  (source, bkt) exchange ONCE (the q_rank_funcs two-pass-rank
   *  trick; PackShardingSpec asserts the reuse). A naive independent
   *  totals agg would re-scan the corpus — including re-running the
   *  token kernel over every document's text — for three tiny
   *  columns. */
  def packSequencesShardedOf(tokens: DataFrame, width: Long): DataFrame = {
    val winCum = tokens
      .withColumn("bkt", floor(col("doc_id") / lit(width)))
      // explicit not-null on the join key BELOW the windows: the inner
      // join would drop null-bkt rows anyway (null keys never match),
      // but left implicit the inference pushes to the scan only on the
      // main branch — bkt is a partition key of THIS window, not of the
      // offsets branch's per-source window — and the asymmetric filter
      // makes the two exchange subtrees differ, defeating AQE reuse
      .filter(col("bkt").isNotNull)
      .withColumn("cum_in", sum(col("n_tokens")).over(
        Window.partitionBy(col("source"), col("bkt")).orderBy(col("doc_id"))))
    val offsets = winCum.groupBy(col("source"), col("bkt"))
      .agg(max(col("cum_in")).as("tot")) // = the bucket's token total
      .withColumn("off",
        coalesce(sum(col("tot")).over(
          Window.partitionBy(col("source")).orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("bkt"), col("off"))
    winCum
      .join(broadcast(offsets), Seq("source", "bkt"))
      .withColumn("seq_id",
        floor((col("off") + col("cum_in") - col("n_tokens"))
          / lit(PackTokens.toDouble)).cast("bigint"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"))
  }

  /** Shingle width for [[decontaminate]] (real pipelines use 8-13; the
   *  synthetic 30-word vocabulary needs 4 to be selective). */
  val DecontN = 4

  /** Benchmark holdout: docs with doc_id % DecontHoldout == 0. */
  val DecontHoldout = 20

  /**
   * Benchmark DECONTAMINATION — flag training documents sharing any
   * `DecontN`-gram with a held-out benchmark set (the test-set-overlap
   * scrub every pretraining corpus runs before training; the holdout
   * here is the deterministic doc_id % [[DecontHoldout]] == 0 slice,
   * standing in for an external eval suite). Output: (doc_id, n_hits)
   * for contaminated training docs, n_hits = distinct shared n-grams.
   * Scale shape: both sides flow as 64-bit shingle hashes (the
   * [[graft.functions.native.shingle_hashes]] kernel — the shuffle
   * never carries gram strings); the benchmark's distinct-hash set is
   * two-phase-aggregated then BROADCAST (eval benchmarks are tiny
   * relative to the corpus by construction), so the corpus-side
   * shingles never shuffle for the join — the only exchange is the
   * final per-doc two-phase count. A 2^-64-probability hash collision
   * would perturb one count by 1 — the standard fingerprint trade,
   * same as the n-gram/minhash dedup family.
   */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    def shingles(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(graft.functions.native.shingle_hashes(col("text"), DecontN))
        .as("sh"))
    val docs = Tables.documents(spark, sfDir)
    val bench = shingles(docs.filter(col("doc_id") % DecontHoldout === 0))
      .select("sh").distinct()
    shingles(docs.filter(col("doc_id") % DecontHoldout =!= 0))
      .join(broadcast(bench), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Overlap fraction above which [[decontaminateRatio]] votes drop
   *  (PaLM drops at 70% 8-gram overlap; the synthetic corpus's
   *  4-gram overlap distribution needs 0.5 for a mixed verdict). */
  val DecontRatioThreshold = 0.5

  /**
   * Decontamination by OVERLAP RATIO — the GPT-3/PaLM refinement of
   * [[decontaminate]]'s any-hit flag: a document is dropped only when
   * the FRACTION of its distinct n-grams shared with the benchmark
   * holdout crosses [[DecontRatioThreshold]] (any-hit scrubbing
   * over-drops long documents that merely quote a benchmark line).
   * Output per training doc with ≥1 n-gram: (doc_id, n_grams, n_hits,
   * contam_ratio, drop_doc) — clean docs appear with n_hits = 0, so
   * the output is the full audit table, not just the flagged slice.
   * Scale shape: same as [[decontaminate]] — both sides flow as
   * 64-bit shingle hashes, the benchmark's distinct set is BROADCAST
   * (a LEFT join, so the corpus side still never shuffles for it),
   * and numerator + denominator come from ONE per-doc two-phase agg
   * over the same joined frame — the ratio costs no extra pass over
   * the corpus. The ratio itself is a single division of two bigints
   * from the same row — identical operands in any engine.
   */
  def decontaminateRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") % DecontHoldout === 0)
      .select(explode(graft.functions.native.shingle_hashes(col("text"), DecontN))
        .as("sh"))
      .distinct()
      .withColumn("hit", lit(1))
    docs.filter(col("doc_id") % DecontHoldout =!= 0)
      .select(col("doc_id"),
        explode(graft.functions.native.shingle_hashes(col("text"), DecontN))
          .as("sh"))
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits") / col("n_grams"), 6).as("contam_ratio"),
        (col("n_hits") / col("n_grams") >= DecontRatioThreshold).as("drop_doc"))
  }

  /** Bloom bitmap size in BITS for [[decontaminateBloom]] — 2^20 bits
   *  = 128 KiB broadcast, a constant regardless of benchmark size. At
   *  ~10 bits/gram with k = [[DecontBloomK]] probes the classic FPR is
   *  under 1%; the position arithmetic reads three fixed 20-bit fields
   *  of the md5-60 gram hash, so m must stay ≤ 2^20 (enforced). */
  val DecontBloomBits: Int = 1 << 20

  /** Probes per gram for [[decontaminateBloom]] (k in the classic
   *  Bloom parameterization; 5 ≈ optimal for ~7–10 bits/entry). */
  val DecontBloomK = 5

  /**
   * Builds the Bloom bitmap over a benchmark frame's DISTINCT portable
   * (md5-60) word `n`-grams — the offline artifact
   * [[graft.functions.BloomProbe]] probes. Fully relational until the
   * final collect: explode portable gram hashes → distinct → k
   * positions each (enhanced double hashing over the hash's three
   * 20-bit fields — the kernel's exact arithmetic) → distinct position
   * → bit_or-pack into ≤ m/64 (bitmap-word, word-bits) rows. The
   * collect is bounded by the CONSTANT m/64 = 16,384 rows (128 KiB) —
   * the whole point vs [[decontaminate]]'s exact distinct-gram
   * broadcast, whose size grows with the benchmark: this artifact is
   * fixed-size at any corpus scale, and building it is a map-side
   * combinable two-phase aggregation.
   */
  def bloomBitsOf(bench: DataFrame, n: Int = DecontN,
      k: Int = DecontBloomK, m: Int = DecontBloomBits): Array[Long] =
    bloomBitsOfHashes(bench
      .select(explode(graft.functions.native.gram_hashes(
        col("text"), n, portable = true)).as("h"))
      .distinct(), k, m)

  /** The [[bloomBitsOf]] core over a frame of 60-bit hashes in column
   *  `h` — factored so non-gram keys (e.g. [[dedupIncrementalBloom]]'s
   *  document fingerprints) fold into the same bitmap layout with the
   *  same position arithmetic. */
  def bloomBitsOfHashes(hashes: DataFrame,
      k: Int = DecontBloomK, m: Int = DecontBloomBits): Array[Long] = {
    require(m >= 64 && (m & (m - 1)) == 0 && m <= (1 << 20),
      s"bloom bitmap bits must be a power of two in [64, 2^20], got $m")
    val mask = (m - 1).toLong
    val pos = (i: Int) => ((col("h").bitwiseAND(lit(mask)))
      + lit(i.toLong) * shiftright(col("h"), 20).bitwiseAND(lit(mask))
      + lit((i.toLong * (i - 1)) / 2) *
        shiftright(col("h"), 40).bitwiseAND(lit(mask)))
      .bitwiseAND(lit(mask))
    val words = hashes
      .select(explode(array((0 until k).map(pos): _*)).as("p"))
      .distinct()
      .select(shiftright(col("p"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .collect() // bounded: <= m/64 = 16,384 rows by construction
    val bits = new Array[Long](m / 64)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    bits
  }

  /**
   * Benchmark decontamination at the 100 TB SHAPE — the Bloom-filter
   * form of [[decontaminate]]: the benchmark holdout's distinct
   * n-grams are folded into a fixed 128 KiB bitmap
   * ([[bloomBitsOf]]) and every training doc probes it with ONE
   * row-local kernel call ([[graft.functions.BloomProbe]]). Output:
   * (doc_id, n_grams, n_hits) for flagged docs — a SUPERSET of
   * [[decontaminate]]'s flagged set (Bloom has no false negatives;
   * per-doc n_hits >= the exact count), with the FPR-bounded
   * over-flagging [[decontaminateBloomEval]] measures. Scale shape:
   * the returned plan is scan → project → filter with ZERO exchanges
   * and ZERO joins (PlanShapeSpec pins it) — the exact form's
   * broadcast join + per-doc re-aggregation is gone, the corpus is
   * read once and never shuffled, and the broadcast artifact no
   * longer grows with the benchmark. This is the pre-filter a real
   * pipeline runs at full scale; the exact checker then touches only
   * the flagged sliver.
   */
  def decontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bits = bloomBitsOf(docs.filter(col("doc_id") % DecontHoldout === 0))
    val bc = spark.sparkContext.broadcast(bits)
    docs.filter(col("doc_id") % DecontHoldout =!= 0)
      .select(col("doc_id"), graft.functions.native.bloom_probe(
        col("text"), DecontN, DecontBloomK, bc).as("st"))
      .select(col("doc_id"), col("st.n_grams").as("n_grams"),
        col("st.n_hits").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /**
   * Bloom-decontamination MONITOR — the one-row audit a pipeline runs
   * beside [[decontaminateBloom]] (the dedup_eval/embed_eval
   * convention): joins the Bloom-flagged docs LEFT against the exact
   * [[decontaminate]] flags and reports docs_flagged_bloom /
   * docs_flagged_exact / docs_false_pos (Bloom-flagged, exactly
   * clean) plus the gram-level hit totals. The join direction encodes
   * the Bloom guarantee — every exactly-flagged doc IS Bloom-flagged,
   * so the left join loses nothing (spec-pinned). Runs at eval scale
   * (both sides are the flagged slivers, not the corpus); the
   * measured docs_false_pos over clean docs is the empirical FPR the
   * m/n/k choice promises.
   */
  def decontaminateBloomEval(spark: SparkSession, sfDir: String): DataFrame =
    decontaminateBloom(spark, sfDir)
      .join(decontaminate(spark, sfDir)
        .withColumnRenamed("n_hits", "n_hits_exact"), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("docs_flagged_bloom"),
        count(col("n_hits_exact")).as("docs_flagged_exact"),
        sum(when(col("n_hits_exact").isNull, 1L).otherwise(0L))
          .as("docs_false_pos"),
        sum(col("n_hits")).as("grams_flagged_bloom"),
        sum(coalesce(col("n_hits_exact"), lit(0L))).as("grams_flagged_exact"))

  /** Document-frequency cap for [[sourceOverlap]]: grams appearing in
   *  more than this many DOCUMENTS are dropped before the overlap
   *  count — the [[WinnowMaxDf]] "stopword fingerprint" device. A
   *  boilerplate gram shared by thousands of documents is exactly what
   *  a syndication diagnostic does NOT need enumerated, and the cap is
   *  what flattened the query's 2.20×-per-10×-data scaling curve: the
   *  post-cap relation is bounded by cap·|grams with df ≤ cap| instead
   *  of growing with the hottest gram's corpus count. Semantic
   *  parameter, not an approximation — the oracle applies the same
   *  cap. Measured at sf0.01 (max df 7) so the cap fires both ways. */
  val SourceOverlapMaxDf = 4L

  /**
   * Cross-source OVERLAP MATRIX — distinct shared n-grams (and their
   * Jaccard) per source pair over the rare-gram universe (df ≤
   * [[SourceOverlapMaxDf]] documents), the syndication/mirror
   * diagnostic a curation pipeline runs before treating sources as
   * independent (two crawls of the same newswire double-count into
   * every mixture weight). Scale shape: ONE gram-keyed exchange — the
   * kernel's within-doc dedup means the exploded relation is per-doc
   * distinct, so a single `groupBy(sh)` yields both the df (row
   * count) and the source set (collect_set, ≤ |sources| entries) —
   * then source pairs are generated ROW-LOCALLY from each gram's
   * source array (≤ |sources|²/2 per gram) and aggregated into the ≤
   * |sources|² matrix; no gram self-join at all (the previous form
   * joined the (source, hash) relation with itself — a second
   * corpus-sized shuffle this plan simply doesn't have). Per-source
   * sizes reuse the same capped frame.
   */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // fanOut: shingle kernel + explode off the one-file scan (the
    // langid narrow-scan hazard; identity on a wide scan)
    val byGram = FanOut.fanOut(Tables.documents(spark, sfDir))
      .select(col("source"),
        explode(graft.functions.native.shingle_hashes(col("text"), DecontN))
          .as("sh"))
      .groupBy("sh")
      .agg(count(lit(1)).as("df"), collect_set("source").as("srcs"))
      .filter(col("df") <= SourceOverlapMaxDf)
      // SNAPSHOT (lazy): two consumers (sizes, pairs) otherwise re-run
      // the final gram agg + filter over the reused exchange — the
      // capped relation is rare-gram-sized, far below the corpus
      .localCheckpoint(false)
    val sizes = byGram
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("sz"))
    val pairs = byGram
      .select(explode(col("srcs")).as("src1"), col("srcs"))
      .select(col("src1"), explode(col("srcs")).as("src2"))
      .filter(col("src1") < col("src2"))
      .groupBy("src1", "src2")
      .agg(count(lit(1)).as("shared_grams"))
    pairs
      .join(broadcast(sizes.withColumnRenamed("source", "src1")
        .withColumnRenamed("sz", "sz1")), Seq("src1"))
      .join(broadcast(sizes.withColumnRenamed("source", "src2")
        .withColumnRenamed("sz", "sz2")), Seq("src2"))
      .select(col("src1"), col("src2"), col("shared_grams"),
        round(col("shared_grams") /
          (col("sz1") + col("sz2") - col("shared_grams")), 6).as("jaccard_r"))
  }

  /** Weight quantization for [[mixWeights]]: sqrt-scaled counts are
   *  floored to 1/[[MixScale]] granularity so the normalizing total is
   *  an exact integer sum (order-independent ⇒ engine-stable), not a
   *  float reduction. */
  val MixScale = 1000

  /**
   * Temperature-scaled source MIXTURE WEIGHTS — the per-source sampling
   * weights a pretraining loader draws from: w_i ∝ tokens_i^alpha with
   * alpha = 0.5 (sqrt temperature, the classic upweight-the-tail
   * mixture). Output: (source, n_docs, n_tokens, weight).
   * Determinism device: sqrt(tokens) is IEEE-exact and engine-stable,
   * but a float SUM over sources is addition-order-dependent — so the
   * scaled value is quantized to an integer (floor(sqrt·MixScale)) and
   * the normalizer is an exact bigint sum broadcast back; the final
   * division is one double op on identical operands in any engine.
   * Scale shape: one two-phase agg over documents (the token count is
   * the row-local kernel), then a one-row broadcast — the corpus never
   * shuffles; identical at 100 TB.
   */
  def mixWeights(spark: SparkSession, sfDir: String): DataFrame =
    weightsOf(Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalyticsOps.wsTokenCount(col("text"))).as("n_tokens")))

  /** The temperature weighting of [[mixWeights]] over any
   *  (source, n_docs, n_tokens) totals frame — shared by the batch
   *  query and the live mixture monitor
   *  (`StreamOps.mixWeightsStream`), which re-applies it per trigger
   *  to the Complete-mode totals snapshot. */
  def weightsOf(bySource: DataFrame): DataFrame = {
    val scaled = bySource
      .withColumn("scaled", floor(sqrt(col("n_tokens")) * MixScale))
    val tot = scaled.agg(sum(col("scaled")).as("tot"))
    scaled.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("scaled") / col("tot"), 6).as("weight"))
  }

  /** Keep-threshold denominator for [[mixSample]]: thresholds live in
   *  [0, 2^24], compared against the first 6 md5 hex digits. */
  val MixHashSpace = 1L << 24

  /**
   * Temperature-mixture SAMPLING — the realization pass of
   * [[mixWeights]]: where mix_weights *computes* the target mixture
   * (w_s ∝ tokens_s^0.5), this op *applies* it, deterministically
   * downsampling each source to its target share. Per-source keep rate
   * = target share / natural share, capped at 1 (sources below their
   * target keep everything — upsampling is epoch repetition,
   * [[shuffleShard]]'s territory, not a filter's). Membership is the
   * [[hashSample]] contract: keep iff the doc's 24-bit md5 prefix <
   * floor(rate · 2^24) — content-keyed, no RNG, replay/engine-stable.
   *
   * Determinism device: rate is a double, but both engines derive it
   * from IDENTICAL integer operands with the identical op sequence
   * ((scaled/tot_scaled) / (src_tokens/tot_tokens), then one multiply
   * and floor — the textUnigramNll precedent), so the integer
   * threshold is engine-stable; integer-only arithmetic would overflow
   * int64 at corpus scale (scaled·tot_tokens ~ 1e22 at 100 TB).
   *
   * Scale shape: one row-local projection (token kernel + md5), one
   * two-phase agg to a source-sized totals frame, whole-frame windows
   * over that TINY frame for the normalizers (the unigram-model
   * device — no second corpus scan), and a BROADCAST join of the
   * per-source thresholds back to the corpus: the corpus never
   * shuffles; the filter is row-local. Identical at 100 TB.
   */
  def mixSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        TextAnalyticsOps.wsTokenCount(col("text")).as("n_tokens"),
        mixHash24(col("text")).as("h24"))
    docs.join(broadcast(mixThresholds(docs)), "source")
      .filter(col("h24") < col("thresh"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** The 24-bit content hash [[mixSample]] compares against its
   *  thresholds (first 6 md5 hex digits — the splitAssign prefix). */
  def mixHash24(text: Column): Column =
    conv(substring(md5(text), 1, 6), 16, 10).cast("long")

  /** The per-source keep thresholds of [[mixSample]] over any
   *  (source, n_tokens) frame — shared by the batch query and the live
   *  gate (`StreamOps.mixSampleGate`), which learns them at build
   *  from a static corpus (the lm_score offline-model split). */
  def mixThresholds(tokens: DataFrame): DataFrame =
    tokens.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn("scaled", floor(sqrt(col("src_tokens")) * MixScale))
      .withColumn("tot_scaled", sum("scaled").over(Window.partitionBy()))
      .withColumn("tot_tokens", sum("src_tokens").over(Window.partitionBy()))
      .select(col("source"),
        least(lit(MixHashSpace),
          floor((col("scaled") / col("tot_scaled")) /
            (col("src_tokens") / col("tot_tokens")) *
            lit(MixHashSpace.toDouble)).cast("bigint")).as("thresh"))

  /** Hex digits of the md5 prefix consumed by [[splitAssign]]
   *  (6 hex digits = 24 bits, far above the 100-bucket modulus). */
  val SplitHexDigits = 6

  /**
   * Deterministic TRAIN/VAL/TEST SPLIT — assign every document to a
   * split by a pure function of its CONTENT: bucket = the first
   * [[SplitHexDigits]] md5 hex digits mod 100; train < 80, val < 90,
   * test otherwise (80/10/10). Same contract as [[hashSample]]: no
   * RNG, no state, no coordination — retried tasks, re-runs, other
   * engines, and future corpus versions assign the identical split
   * (content-keyed, so a doc keeps its split even if re-ingested under
   * a new doc_id — the property that prevents test-set leakage across
   * corpus rebuilds). Row-local projection, zero shuffle, zero state.
   */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame =
    splitProjection(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("source"),
        col("text")))

  /** The row-local bucket/split assignment of [[splitAssign]] over any
   *  (passthrough..., text) frame — shared batch/live, like
   *  [[chunkProjection]] and [[scrubProjection]]. */
  def splitProjection(df: DataFrame): DataFrame = {
    val bucket = (conv(substring(md5(col("text")), 1, SplitHexDigits),
      16, 10).cast("bigint") % 100).as("bucket")
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough :+ bucket: _*)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
  }

  /** Blocklist for [[textScrub]] — stands in for a PII/unsafe-token
   *  list; "the"/"a" are the corpus's function words, so the scrub has
   *  REAL effect on this synthetic data (most docs redact something),
   *  unlike an email/phone regex which would match nothing here. */
  val ScrubBlocklist: Seq[String] = Seq("the", "a")

  /** Replacement token [[textScrub]] substitutes for blocked words. */
  val ScrubToken = "<scrub>"

  /**
   * Blocklist SCRUB — redact blocklisted tokens in place (the
   * mechanics of PII / unsafe-token redaction: match, substitute a
   * sentinel, count): every blocked word becomes [[ScrubToken]],
   * multiplicity and position preserved (set-based `array_except`
   * would silently dedup — redaction must not reorder or collapse the
   * document). Output (doc_id, n_redacted, clean_hash) with the hash
   * over the redacted text so the gate checks the full substitution,
   * not just counts. Row-local HOF projection (filter/transform over
   * the words array) — zero shuffle, zero state; the same projection
   * serves Run's live `text_scrub` topology via [[scrubProjection]].
   */
  def textScrub(spark: SparkSession, sfDir: String): DataFrame =
    scrubProjection(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** The row-local redaction of [[textScrub]] over any
   *  (passthrough..., text) frame — shared batch/live, like
   *  [[chunkProjection]]. */
  def scrubProjection(df: DataFrame): DataFrame = {
    val blocked: Column => Column =
      t => ScrubBlocklist.map(t === _).reduce(_ || _)
    val w = TextAnalyticsOps.words(col("text"))
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough ++ Seq(
      size(filter(w, blocked)).cast("bigint").as("n_redacted"),
      md5(array_join(
        transform(w, t => when(blocked(t), lit(ScrubToken)).otherwise(t)),
        " ")).as("clean_hash")): _*)
  }

  /** PII pattern CLASSES for [[piiScrub]] — (class, regex), applied in
   *  this order (order matters where classes overlap: an ip-shaped
   *  run inside a non-email "user@1.2.3.4" is claimed by ipv4 AFTER
   *  email declines it; both engines apply the same order so results
   *  are identical). The regex dialect is the RE2 ∩ java.util.regex
   *  subset — no lookaround, no backreferences, ASCII `\b`/`\d`/`\w`,
   *  and NO `\s` (Java's includes U+000B vertical tab, RE2's is
   *  exactly `[ \t\n\f\r]` — the isWs divergence; phone spells that
   *  shared class out) — so the
   *  DuckDB oracle runs the CHARACTER-IDENTICAL definitions
   *  (both engines are leftmost-first here). Class definitions are
   *  deliberately recall-leaning (ipv4 admits 999.999.999.999) — a
   *  scrubber's false positive costs a sentinel, a false negative
   *  leaks PII into training data. */
  val PiiClasses: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b",
    "phone" -> "(\\(\\d{3}\\)[ \\t\\n\\f\\r]?|\\d{3}[-.])\\d{3}[-.]\\d{4}",
    "id" -> "\\b[A-Z]{2}\\d{6,10}\\b")

  /** Sentinel substituted for a class match — position-preserving (the
   *  surrounding text is untouched) and inert under every LATER class
   *  regex (letters, colon, angle brackets only). */
  def piiToken(cls: String): String = s"<pii:$cls>"

  /**
   * Structured-class PII SCRUB — the pattern-class half of redaction
   * next to [[textScrub]]'s blocklist half (CCNet/RefinedWeb-style
   * curation scrubs both): emails, phone numbers, IPv4 addresses, and
   * ID-shaped tokens each redact to a class-named position-preserving
   * sentinel, with per-class counts and a hash over the fully-redacted
   * text so the oracle checks every substitution, not just totals.
   * Classes apply PROGRESSIVELY in [[PiiClasses]] order — each
   * class's count is what IT actually redacted from the text the
   * earlier classes left behind (count = substitutions made, the only
   * definition that composes).
   *
   * The synthetic corpus carries no PII-shaped tokens by construction
   * (the [[ScrubBlocklist]] scaladoc's point), so the gated query
   * first AUGMENTS each doc with deterministic doc_id-derived PII
   * ([[piiAugment]] — one class per doc_id mod 4, every class
   * exercised corpus-wide; the engineered-fixture convention of the
   * multimodal family) and the oracle re-derives the identical
   * augmentation in SQL. Row-local codegen'd regexp chain — zero
   * shuffle, zero state; [[piiProjection]] serves Run's live
   * `pii_scrub` topology unchanged.
   */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiProjection(piiAugment(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))))

  /** Deterministic PII fixture: append one doc_id-derived PII string
   *  per doc (class by doc_id mod 4). Pure SQL-expressible arithmetic
   *  (mod, lpad, concat) so the DuckDB oracle reproduces it byte-for-
   *  byte. */
  def piiAugment(df: DataFrame): DataFrame =
    df.withColumn("text", concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example.com today")))
      .when(col("doc_id") % 4 === 1,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")))
      .when(col("doc_id") % 4 === 2,
        concat(lit(" server 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(" up")))
      .otherwise(
        concat(lit(" ref AB"),
          lpad((col("doc_id") % 100000000).cast("string"), 8, "0"),
          lit(" ok")))))

  /** The progressive class-redaction of [[piiScrub]] over any
   *  (passthrough..., text) frame — shared batch/live like
   *  [[scrubProjection]]. Output: passthrough..., n_<class> per class,
   *  clean_hash. */
  def piiProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    val (finalText, counts) =
      PiiClasses.foldLeft((col("text"), Seq.empty[Column])) {
        case ((t, cs), (cls, pat)) =>
          (regexp_replace(t, lit(pat), lit(piiToken(cls))),
            cs :+ regexp_count(t, lit(pat)).cast("bigint").as(s"n_$cls"))
      }
    df.select(passthrough ++ counts :+ md5(finalText).as("clean_hash"): _*)
  }

  /**
   * LINE-LEVEL cleaning (CCNet/RefinedWeb line-wise rules) — strip
   * within-doc duplicate lines, bullet-prefixed lines, numeric-only
   * lines, and too-short lines; keep the rest, re-joined and
   * hash-gated; report per-rule counts and the terminal-punctuation
   * fraction over the ORIGINAL lines (a doc-level quality signal, not
   * a removal rule). The synthetic corpus is single-line by
   * construction, so [[lineAugment]] appends deterministic rule-
   * tripping lines derived from doc_id (the [[piiAugment]]
   * engineered-fixture convention — the oracle re-derives the
   * augmentation byte-for-byte). Scale shape: a doc's lines live in
   * its own row, so the whole pass is ONE fused kernel projection
   * ([[graft.functions.LineFilterStats]]) — zero exchanges, zero
   * state, batch and live forms identical; the relational spelling
   * would posexplode to a (doc, line) window and re-aggregate — two
   * shuffles of the full corpus text to compute a row-local fact.
   */
  def textLineFilter(spark: SparkSession, sfDir: String): DataFrame =
    lineFilterProjection(lineAugment(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))))

  /** Deterministic multi-line fixture: every doc gains one long
   *  terminal-punctuated KEPT line, then one rule-tripping line by
   *  doc_id mod 4 — bullet / numeric-only / too-short / an exact
   *  duplicate of the appended kept line. Pure SQL-expressible
   *  concat/mod arithmetic (the [[piiAugment]] convention). */
  def lineAugment(df: DataFrame): DataFrame =
    df.withColumn("text", concat(col("text"),
      lit("\nThis line is long enough to keep and ends well."),
      when(col("doc_id") % 4 === 0,
        concat(lit("\n- bullet item "), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("\n"), (col("doc_id") % 100).cast("string"),
          lit(" 42 / 7.5")))
      .when(col("doc_id") % 4 === 2, lit("\nok then"))
      .otherwise(lit("\nThis line is long enough to keep and ends well."))))

  /**
   * Dedup-key TEXT NORMALIZATION — accent folding + lowercase +
   * whitespace collapse + trim ([[graft.functions.NormalizeText]]),
   * the key-preparation stage before fingerprint/minhash so surface
   * variants of one document hash together (CCNet's normalization
   * before dedup). Output: (doc_id, n_chars_raw, n_chars_norm,
   * changed, norm_hash) — the normalized text itself flows to
   * downstream dedup in-plan, the gate hashes it. The ASCII corpus
   * can't exercise folding, so [[normalizeAugment]] appends
   * deterministic unicode-mess suffixes (decomposed accents,
   * precomposed accents, tab/space runs, mixed case — the engineered-
   * fixture convention; every class CHANGES under normalization and
   * the changed flag is pinned true corpus-wide). Scale shape: one
   * fused row-local kernel projection — zero exchanges; this is a
   * prefix stage of every dedup plan, so it must not add a pass.
   * Scope: the cross-engine equivalence contract covers ASCII + Latin
   * combining-mark accents (what web text and these fixtures hold);
   * locale-special casings are outside it (kernel scaladoc).
   */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame =
    normalizeProjection(normalizeAugment(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))))

  /** Deterministic unicode fixture: one folding-exercising suffix per
   *  doc_id mod 4 — NFD-decomposed accents (e + U+0301), precomposed
   *  accents, a tab + space run, mixed case. Pure concat/mod (the
   *  [[piiAugment]] convention); the decomposed/precomposed pair in
   *  classes 0/1 normalizes to the SAME bytes, pinning the fold. */
  def normalizeAugment(df: DataFrame): DataFrame =
    df.withColumn("text", concat(col("text"),
      when(col("doc_id") % 4 === 0, // DECOMPOSED: e/E + combining marks
        lit(" Cafe\u0301  CRE\u0300ME du jour"))
      .when(col("doc_id") % 4 === 1, // PRECOMPOSED accents
        lit(" Caf\u00e9  CR\u00c8ME du jour"))
      .when(col("doc_id") % 4 === 2,
        concat(lit(" tabs\t\tand  runs"), lit("\t")))
      .otherwise(lit(" MIXED Case ASCII Tail"))))

  /**
   * Exact dedup keyed on the NORMALIZED text — [[textNormalize]]
   * chained into the [[dedupFingerprint]] group-by, the composition
   * the normalizer exists for: surface variants (decomposed vs
   * precomposed accents, case, whitespace runs) fingerprint together
   * where the whitespace-only fingerprint keeps them apart
   * (NormalizeSpec pins a planted pair that merges HERE and not
   * there). Same two-phase hash agg as every exact-dedup query — the
   * normalization kernel fuses into the scan projection, so the
   * upgrade costs no extra pass and no extra exchange; only the
   * md5(norm) group key ever shuffles.
   */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    normalizeAugment(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .groupBy(md5(graft.functions.native.normalize_text(col("text"))
        .getField("norm")).as("norm_fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))

  /** The fused normalization projection of [[textNormalize]] over any
   *  (passthrough..., text) frame — shared batch/live like
   *  [[lineFilterProjection]]. */
  def normalizeProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough :+
      graft.functions.native.normalize_text(col("text")).as("st"): _*)
      .select(passthrough ++ Seq(
        col("st.n_chars_raw").as("n_chars_raw"),
        col("st.n_chars_norm").as("n_chars_norm"),
        col("st.changed").as("changed"),
        md5(col("st.norm")).as("norm_hash")): _*)
  }

  /** Ingest-side tokenizer telemetry: all four token counts per doc
   *  (whitespace, BPE, unigram-LM, WordPiece) in ONE row-local
   *  projection — the [[bpeFertility]] dashboard's live form. No
   *  model, no state, no shuffle; each kernel carries its own
   *  per-distinct-word memo, so a near-duplicate-heavy stream pays
   *  one segmentation per distinct word, not per row. */
  def tokenizeProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough ++ Seq(
      TextAnalyticsOps.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalyticsOps.bpeTokenCount(col("text")).as("bpe_tokens"),
      graft.functions.native.unigram_token_count(lower(col("text")))
        .as("unigram_tokens"),
      graft.functions.native.wordpiece_token_count(lower(col("text")))
        .as("wordpiece_tokens")): _*)
  }

  /** The fused line-rule projection of [[textLineFilter]] over any
   *  (passthrough..., text) frame — shared batch/live like
   *  [[piiProjection]]. Output: passthrough..., per-rule counts,
   *  frac_end_punct, clean_hash of the kept lines. */
  def lineFilterProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough :+
      graft.functions.native.line_stats(col("text")).as("st"): _*)
      .select(passthrough ++ Seq(
        col("st.n_lines").as("n_lines"),
        col("st.n_kept").as("n_kept"),
        col("st.n_dup_line").as("n_dup_line"),
        col("st.n_bullet").as("n_bullet"),
        col("st.n_numeric").as("n_numeric"),
        col("st.n_short").as("n_short"),
        round(col("st.n_end_punct") / col("st.n_lines"), 6)
          .as("frac_end_punct"),
        md5(col("st.kept_text")).as("clean_hash")): _*)
  }

  /** Shard count for [[shuffleShard]] — at 100 TB this is O(thousands),
   *  chosen so each shard's slice fits one task's sort. */
  val ShuffleShards = 8

  /** Seed folded into the shuffle hash — a new seed is a new epoch's
   *  order, with zero data movement until the sort itself. */
  val ShuffleSeed = "epoch0"

  /**
   * Deterministic corpus SHUFFLE + SHARD — the reproducible
   * training-order randomization a pretraining loader needs: each doc
   * gets a pseudorandom rank from md5(seed|content) — no RNG, so
   * re-runs, retried tasks, and other engines produce the identical
   * order — a shard from the hash's leading bits, and a position from
   * its rank within the shard. Ties (duplicate texts — this corpus
   * has them by design) break by doc_id, keeping the order total and
   * engine-stable. Output (doc_id, shard, pos).
   * Scale shape: one hash exchange on shard, then a per-shard sort —
   * bounded parallel groups, never a global single-partition sort;
   * [[ShuffleShards]] is the knob that bounds each slice (the same
   * trade every epoch-shuffling loader makes). A different epoch =
   * a different seed constant — the plan is unchanged.
   */
  def shuffleShard(spark: SparkSession, sfDir: String): DataFrame =
    shardProjection(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      col("doc_id"))
      .select(col("doc_id"), col("shard"), col("pos"))

  /** The seeded shuffle+shard projection of [[shuffleShard]] over any
   *  frame with a `text` column — shared by the batch query and Run's
   *  per-epoch `shuffle_shard` topology (the chunkProjection /
   *  scrubProjection batch+live pattern). The text column is dropped
   *  BEFORE the per-shard rank window, so the shard exchange carries
   *  only fixed-width hashes + passthrough columns, never document
   *  bytes. Emits passthrough plus (h, shard, pos); `tieBreak`
   *  totalizes the rank among hash ties (duplicate texts) and must be
   *  a surviving column — doc_id in batch, `h` itself for an
   *  anonymous line feed (ties are then between identical rows, so
   *  the output multiset stays deterministic). */
  def shardProjection(df: DataFrame, tieBreak: Column): DataFrame = {
    val passthrough = df.columns.filter(_ != "text").map(col)
    df.select(passthrough ++ Seq(
        md5(concat_ws("|", lit(ShuffleSeed), col("text"))).as("h")): _*)
      .withColumn("shard",
        conv(substring(col("h"), 1, SplitHexDigits), 16, 10).cast("bigint")
          % ShuffleShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), tieBreak))
        .cast("bigint"))
  }

  val TfidfTopTerms = 3

  /**
   * TF-IDF top terms per document: tf from one explode + two-phase hash
   * agg on (doc_id, word); document frequency from a second agg over the
   * same tf relation (never re-scanning documents); idf = ln(N/df) with
   * the corpus size N resolved once at plan build. Top-terms ranking is
   * WindowGroupLimit-pruned per doc. One shuffle per agg plus the tiny
   * rank exchange — the shape is identical at 100 TB.
   */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    // count the raw table (parquet rowcount, no shuffle) — counting the
    // fanned-out frame would shuffle the full text just for N
    val n = Tables.documents(spark, sfDir).count()
    val docs = FanOut.fanOut(Tables.documents(spark, sfDir))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalyticsOps.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val scored = tf.join(dfreq, "term")
      .withColumn("score", col("tf") * log(lit(n.toDouble) / col("dfreq")))
    val rk = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term")))
    scored.withColumn("rk", rk.cast("int")).filter(col("rk") <= TfidfTopTerms)
      .select(col("doc_id"), col("term"), col("rk"),
        round(col("score"), 4).as("tfidf_r"))
  }

  /** Posting-list cap for [[textDocsim]], as a FRACTION of the corpus
   *  (df ≤ frac·N): terms in more documents are EXCLUDED from the
   *  similarity space — the decisive scale guard (a stop-term's
   *  posting list would contribute C(df, 2) pairs and ~zero idf
   *  weight), self-scaling where an absolute cap would silently empty
   *  at one SF and quadratically explode at another. Standard IR
   *  stop-fraction practice. */
  val DocsimDfFrac = 0.05
  /** Pairs reported by [[textDocsim]]. */
  val DocsimTopN = 50

  /**
   * Sparse document-document similarity via the INVERTED INDEX — the
   * lexical counterpart of `embed_neardup`'s dense path and the
   * third member of the retrieval stack next to tf-idf and BM25: the
   * global top-[[DocsimTopN]] document pairs by tf-idf cosine over
   * WORD-BIGRAM terms, computed without ever materializing document
   * vectors — postings join postings on term, so only pairs sharing
   * ≥1 (surviving) term are ever scored. Bigrams because pair
   * similarity needs DISCRIMINATIVE terms: this corpus's unigram
   * vocabulary is 31 words, all in ≥¾ of documents (each one a
   * stop-word by any fraction), while its ~900 bigrams spread down
   * to df = 1 — the shingle device (w-shingling, Broder 1997) at its
   * smallest width.
   *
   * Scale shape: the df-fraction cap prunes posting lists BEFORE the
   * self-join (per-term pair fan-out ≤ C(frac·N, 2) however skewed
   * the vocabulary — the maxBucket/maxBandDf device in IR clothing);
   * the join is a term equi-join of fixed-width (term, doc, w) rows;
   * the pair agg shuffles (doc1, doc2) keys; the final cut is a
   * TakeOrderedAndProject, never a global sort.
   *
   * Determinism: weights w = tf·ln(N/df) are identical doubles on
   * both engines (the textTfidf/textUnigramNll ln-parity device);
   * per-term pair contributions and per-doc squared norms are
   * floor-quantized to integer NANO units BEFORE their sums (a raw
   * double sum is aggregation-order-dependent — the BM25 device), so
   * dot and norm sums are exact integers and the final cosine is one
   * deterministic expression sqrt-divided once.
   */
  def textDocsim(spark: SparkSession, sfDir: String): DataFrame =
    docsimOf(Tables.documents(spark, sfDir))

  /** The inverted-index similarity of [[textDocsim]] over any
   *  (doc_id, text) frame — factored for fixture specs. */
  def docsimOf(docs: DataFrame): DataFrame = {
    // parquet rowcount, no shuffle (the textTfidf device)
    val n = docs.count()
    val cap = math.floor(n * DocsimDfFrac).toLong
    // SNAPSHOT the weighted postings, hash-partitioned on term (the
    // partitioning-preserving checkpoint): THREE consumers (both pair
    // self-join sides + the norm agg) re-derived the corpus bigram
    // explode + tf agg + df join otherwise (plan-measured: 16 parquet
    // scans of the documents table in the unsnapshotted plan), and the
    // term partitioning makes the pair self-join — the query's biggest
    // relation — plan with NO Exchange on either side. The df cap is
    // applied inside [[docsimPostings]], i.e. strictly before any pair
    // fan-out by construction (PlanShapeSpec pins both halves).
    val w = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(docsimPostings(docs, n, cap),
        Seq("term"))
    val ss = w.groupBy("doc_id")
      .agg(sum(floor(col("w") * col("w") * lit(1e9)).cast("long"))
        .as("ss_nano"))
    val pairs = w.as("a").join(w.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(sum(floor(col("a.w") * col("b.w") * lit(1e9)).cast("long"))
        .as("dot_nano"))
    val sim = pairs
      .join(ss.select(col("doc_id").as("doc1"), col("ss_nano").as("ss1")),
        "doc1")
      .join(ss.select(col("doc_id").as("doc2"), col("ss_nano").as("ss2")),
        "doc2")
      .withColumn("sim",
        col("dot_nano") / (sqrt(col("ss1")) * sqrt(col("ss2"))))
    sim.orderBy(col("sim").desc, col("doc1"), col("doc2"))
      .limit(DocsimTopN)
      .select(col("doc1"), col("doc2"), round(col("sim"), 4).as("sim_r"))
  }

  /** [[docsimOf]]'s weighted-postings derivation BEFORE its snapshot —
   *  bigram explode → tf agg → df-capped idf weights. Factored so the
   *  plan-shape spec can pin the df cap (the decisive scale guard)
   *  inside the snapshot build, where the consuming plan no longer
   *  shows it. */
  private[graft] def docsimPostings(docs: DataFrame, n: Long,
      cap: Long): DataFrame = {
    val tok = FanOut.fanOut(docs)
      .select(col("doc_id"), TextAnalyticsOps.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2) // Spark sequence(1, 0) DESCENDS
    val tf = tok
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1)))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= cap) // the posting-list guard
    tf.join(dfreq, "term")
      .select(col("term"), col("doc_id"),
        (col("tf") * log(lit(n.toDouble) / col("dfreq"))).as("w"))
  }

  /** BM25 parameters (the standard Robertson defaults) and the
   *  embedded query workload — literal term lists, the sim_topk
   *  embed-the-queries device. `Bm25K1Plus1` is its own literal so
   *  both engines parse the identical double rather than computing
   *  1.2 + 1 in different runtimes. */
  val Bm25K1 = 1.2
  val Bm25K1Plus1 = 2.2
  val Bm25B = 0.75
  val Bm25OneMinusB = 0.25
  val Bm25TopK = 10
  val Bm25Queries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "join"),
    "q2" -> Seq("window", "sort", "merge"),
    "q3" -> Seq("data", "stream", "batch"))

  /**
   * BM25 TOP-K RETRIEVAL — the lexical ranking half of a retrieval
   * stack (the hybrid complement to `sim_topk`'s dense half): for
   * each embedded query, the top [[Bm25TopK]] documents under
   * Okapi BM25 with the +1-smoothed idf. Determinism device:
   * per-term contributions are floor-quantized to integer NANO units
   * BEFORE the per-(query, doc) sum (the NllMicro device — a raw
   * double sum over 3 terms is addition-order-dependent), and the
   * rank order (score_nano DESC, doc_id) is total. Scale shape: the
   * tf relation is restricted to QUERY terms below its agg (global
   * df per term is unaffected by other terms' rows, so a retrieval
   * pass never builds the full df table for 8 terms; the term filter
   * prunes the explode before the (doc, term) shuffle); df then
   * derives from that tiny postings frame and BROADCASTS with the
   * query-term list and the 1-row avgdl; the final rank is
   * WindowGroupLimit-pruned per query, so map tasks forward at most
   * K rows per query to the rank exchange.
   */
  def textBm25(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, ts) => ts.map((q, _)) }.toDF("qid", "term")
    bm25Scores(Tables.documents(spark, sfDir), qterms,
      excludeSelf = false)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score_nano").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= Bm25TopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("score_nano"))
  }

  /** The Okapi BM25 scoring chain [[textBm25]] and [[simHybrid]]
   *  share — (qid, doc_id, score_nano) of every document against a
   *  (qid, term) query relation: postings restricted to QUERY terms
   *  BELOW the tf agg (global df per term is unaffected by other
   *  terms' rows, so a retrieval pass never builds the full df table;
   *  the restriction prunes the explode before the (doc, term)
   *  shuffle), df/avgdl/query relations broadcast, per-term
   *  contributions floor-quantized to integer nano units BEFORE the
   *  per-(qid, doc) sum (the NllMicro device). `n` is the parquet
   *  rowcount — counting the fanned-out frame would shuffle full text
   *  for one number (the textTfidf rule); `excludeSelf` drops
   *  doc_id == qid rows for query-by-example callers. */
  private def bm25Scores(base: DataFrame, qterms: DataFrame,
      excludeSelf: Boolean): DataFrame = {
    val n = base.count()
    // SNAPSHOT (lazy — the LM-model-relation device): two consumers
    // (the df agg below and the scoring join) each re-derived the
    // full corpus explode + query-term join + agg otherwise; the
    // restricted postings frame is ≤ |query terms|·docs-containing
    // rows, far below the corpus, so pinning one derivation in the
    // plan trades a tiny materialization for a whole corpus pass.
    // The query-term restriction sits below the tf agg inside
    // [[bm25Postings]] (PlanShapeSpec pins it there).
    val tf = bm25Postings(base, qterms).localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val avgdl = base
      .select(TextAnalyticsOps.wsTokenCount(col("text")).as("dl"))
      .agg((sum(col("dl")).cast("double") / lit(n.toDouble)).as("avgdl"))
    val joined = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(avgdl))
    (if (excludeSelf) joined.filter(col("doc_id") =!= col("qid"))
     else joined)
      .select(col("qid"), col("doc_id"),
        bm25Contribution(n.toDouble).as("c"))
      .groupBy("qid", "doc_id").agg(sum(col("c")).as("score_nano"))
  }

  /** [[bm25Scores]]' restricted-postings derivation BEFORE its
   *  snapshot — corpus explode → broadcast query-term semi-join →
   *  (doc, dl, term) tf agg. Factored so the plan-shape spec can pin
   *  the query-term restriction below the tf agg inside the snapshot
   *  build, where the consuming plan no longer shows it. */
  private[graft] def bm25Postings(base: DataFrame,
      qterms: DataFrame): DataFrame =
    FanOut.fanOut(base)
      .select(col("doc_id"),
        TextAnalyticsOps.wsTokenCount(col("text")).as("dl"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** The per-(query-term, doc) Okapi BM25 contribution in integer
   *  nano units over columns (tf, dl, dfreq, avgdl) — the one
   *  definition [[bm25Scores]] and the live serving topology's
   *  precomputed-postings scorer share, so the quantized integers
   *  cannot drift between them. */
  private[graft] def bm25Contribution(n: Double): Column = {
    val idf = log(
      (lit(n) - col("dfreq") + lit(0.5)) / (col("dfreq") + lit(0.5))
        + lit(1.0))
    val tfNorm = (col("tf") * lit(Bm25K1Plus1)) /
      (col("tf") + lit(Bm25K1) *
        (lit(Bm25OneMinusB) + lit(Bm25B) * col("dl") / col("avgdl")))
    floor(idf * tfNorm * lit(1e9)).cast("bigint")
  }

  /** Reciprocal-rank-fusion constants (Cormack, Clarke & Buettcher
   *  2009): the standard K=60 damping, 20 candidates per ranker, 10
   *  fused results. The per-rank contribution floor(1e12/(K+rank)) is
   *  an exact integer on both engines (quotients ~1.6e10 sit 6
   *  decimal orders below the double ulp boundary), so fused scores
   *  sum and order deterministically. */
  val RrfK = 60L
  val HybridCand = 20
  val HybridTopK = 10

  /**
   * HYBRID RETRIEVAL — reciprocal-rank fusion of the stack's lexical
   * and dense halves, the production serving shape between them
   * (every hybrid search engine ships exactly this composition):
   * query-by-example over the embedded [[SimQueryIds]] workload,
   * where each query document retrieves with BOTH its words (Okapi
   * BM25, the [[textBm25]] formulation with query terms drawn from
   * the query doc instead of literals) and its embedding (exact
   * cosine, [[graft.ops.SimilarityOps.cosineTopK]]); each ranker's
   * top [[HybridCand]] fuse by RRF — score(d) = Σ_rankers
   * floor(1e12/([[RrfK]]+rank)) — and the top [[HybridTopK]] emit
   * with both source ranks (NULL where one ranker missed the doc, the
   * signal hybrid exists to exploit). Self-matches are excluded on
   * both sides.
   *
   * Scale shape: the dense half broadcasts the queries (corpus floats
   * never shuffle); the lexical half restricts postings to the query
   * docs' terms BELOW the tf agg (the textBm25 rule) and broadcasts
   * the term/df/avgdl relations; the fusion outer-join touches two
   * ≤ |queries|·[[HybridCand]]-row frames — nothing corpus-sized
   * survives past the two rank cuts, both WindowGroupLimit-pruned.
   */
  def simHybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // dense ranks
    val dense = graft.ops.SimilarityOps
      .cosineTopK(Tables.embeddings(spark, sfDir), SimQueryIds, HybridCand)
      .select(col("query_id").as("qid"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    // lexical ranks: BM25 ([[bm25Scores]], the textBm25 chain), query
    // terms = each query DOC's distinct words
    val base = Tables.documents(spark, sfDir)
    val qterms = base.filter(col("doc_id").isInCollection(SimQueryIds))
      .select(col("doc_id").as("qid"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("term"))
      .distinct()
    val lex = lexRankCut(bm25Scores(base, qterms, excludeSelf = true))
    rrfFuse(dense, lex)
  }

  /** The lexical rank cut of [[simHybrid]] — (qid, doc_id, lex_rank ≤
   *  [[HybridCand]]) from a (qid, doc_id, score_nano) frame; shared
   *  with the live serving topology. */
  private[graft] def lexRankCut(scores: DataFrame): DataFrame =
    scores.withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score_nano").desc, col("doc_id"))).cast("bigint"))
      .filter(col("lex_rank") <= HybridCand)
      .select(col("qid"), col("doc_id"), col("lex_rank"))

  /** Reciprocal-rank fusion of a dense (qid, doc_id, dense_rank) and a
   *  lexical (qid, doc_id, lex_rank) frame — the [[simHybrid]] tail,
   *  shared with the live serving topology so the fusion arithmetic
   *  exists once. */
  private[graft] def rrfFuse(dense: DataFrame, lex: DataFrame): DataFrame = {
    def contrib(rank: Column): Column =
      coalesce(floor(lit(1e12) / (lit(RrfK.toDouble) + rank))
        .cast("bigint"), lit(0L))
    dense.join(lex, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf_pico",
        contrib(col("dense_rank")) + contrib(col("lex_rank")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf_pico").desc, col("doc_id"))).cast("bigint"))
      .filter(col("rank") <= HybridTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_pico"),
        col("dense_rank"), col("lex_rank"))
  }

  /**
   * Gopher-style repetition signals per document: `top_word_frac` (most
   * frequent word's share of all words) and `dup_2gram_frac` (share of
   * 2-gram occurrences that are repeats). Word frequencies are computed
   * relationally — explode + two-phase hash agg, one shuffle on
   * (doc_id, word), never a per-row frequency map — so the plan is the
   * same at 100 TB; the distinct-2-gram count is row-local (shingles).
   */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    // fan out (conditionally): locally the documents scan is a single
    // small file split and both branches below do heavy per-row work
    // before their first shuffle; a wide scan passes through untouched
    val docs = FanOut.fanOut(Tables.documents(spark, sfDir))
    val freq = docs
      .select(col("doc_id"), explode(TextAnalyticsOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"), sum(col("c")).as("n_words"))
    // distinct 2-grams via the hashed-shingle kernel (one JIT'd call per
    // row; the string-array HOF form is interpreted per element) —
    // counting distinct hashes == counting distinct grams (2^-64 collisions)
    val grams = docs.select(col("doc_id"),
      size(graft.functions.native.shingle_hashes(col("text"), 2)).as("d2"),
      (TextAnalyticsOps.wsTokenCount(col("text")) - 1).as("t2"))
    freq.join(grams, "doc_id")
      .select(col("doc_id"),
        (col("top_c") / col("n_words")).as("top_word_frac"),
        when(col("t2") > 0, (col("t2") - col("d2")) / col("t2")).as("dup_2gram_frac"))
  }

  // Gopher-rule thresholds (Rae et al. 2021 §A1.1, re-parameterized to
  // this corpus so every rule fires BOTH ways at sf0.01 — a threshold
  // no document ever fails gates nothing; measured quantiles in
  // SCALE.md). Word-count bounds, mean-word-length band, stopword
  // presence, and repetition (top-word dominance, the Gopher
  // "fraction of most common word" rule).
  val GopherMinWords = 20L
  val GopherMaxWords = 90L
  val GopherMinWlen = 3.0
  val GopherMaxWlen = 4.8
  val GopherMinStop = 0.02
  val GopherMaxTopFrac = 0.125

  /**
   * Full Gopher-style quality rule set — the named document-level
   * filter battery a production curation pipeline runs (Rae et al.
   * 2021; the per-rule FLAGS are the point: a pipeline tunes each rule
   * against its own audit table, so the query emits every rule verdict
   * plus the conjunction, not just the survivors). EVERY rule — the
   * dominance signal included — is within-document, so the whole
   * battery is [[gopherProjection]]: ONE fused one-pass kernel
   * ([[graft.functions.GopherStats]] — feature and dominance counts in
   * a single tokenization) and threshold columns, a pure row-local
   * projection with ZERO
   * exchanges at any corpus size (plan-guarded; the relational
   * explode→count→max dominance shape would shuffle every (doc_id,
   * word) pair for a statistic each row computes alone — the same
   * argument, in the other direction, as textRepetition's corpus-wide
   * frequency, which genuinely is cross-document). Stateless, so the
   * identical projection serves Run's `gopher_gate` live topology.
   */
  def qualityGopher(spark: SparkSession, sfDir: String): DataFrame =
    gopherProjection(Tables.documents(spark, sfDir)).drop("text", "lang", "source", "n_chars")

  /** The row-local rule battery of [[qualityGopher]] over any frame
   *  with a `text` column (batch query and live gate share it — the
   *  classifyProjection device). ONE fused
   *  [[graft.functions.GopherStats]] kernel pass per row (feature and
   *  dominance counts in hand together — two kernels measured 841 k
   *  rows/s live, the fused pass holds one tokenization); ratio/flag
   *  math stays composed columns, the qualityFeatures arithmetic
   *  exactly. Emits features, per-rule flags, and the `keep`
   *  conjunction; input columns other than text pass through ahead of
   *  the emitted ones. */
  def gopherProjection(df: DataFrame): DataFrame = {
    val rWords = col("n_words").between(GopherMinWords, GopherMaxWords)
    val rWlen = coalesce(col("mean_wlen").between(GopherMinWlen, GopherMaxWlen), lit(false))
    val rStop = coalesce(col("stop_ratio") >= GopherMinStop, lit(false))
    val rRep = coalesce(col("top_frac") <= GopherMaxTopFrac, lit(false))
    val passthrough = df.columns.map(col)
    df
      .withColumn("g", graft.functions.native.gopher_stats(col("text")))
      .select(passthrough ++ Seq(
        col("g.n_words").as("n_words"),
        (col("g.n_nonws") / nullif(col("g.n_words"), lit(0L))).as("mean_wlen"),
        (col("g.n_stop") / nullif(col("g.n_words"), lit(0L))).as("stop_ratio"),
        (col("g.top_c") / nullif(col("g.n_words"), lit(0L))).as("top_frac")): _*)
      .select((passthrough ++ Seq(col("n_words"), col("mean_wlen"),
        col("stop_ratio"), col("top_frac"),
        rWords.as("r_words"), rWlen.as("r_wlen"), rStop.as("r_stop"),
        rRep.as("r_rep"),
        (rWords && rWlen && rStop && rRep).as("keep"))): _*)
  }

  // Winnowing parameters (Schleimer et al. 2003): gram size and window
  // width. Guarantee: any shared substring of WinnowK + WinnowW - 1
  // words produces at least one shared fingerprint.
  val WinnowK = 3
  val WinnowW = 4
  private val WinnowPosM = 1L << 20 // position field width in the packed key
  private val WinnowMask40 = (1L << 40) - 1 // hash bits kept above it

  /**
   * Winnowing fingerprint selection (the MOSS algorithm, Schleimer et
   * al. 2003): hash every [[WinnowK]]-gram, slide a [[WinnowW]]-wide
   * window over the positional hash sequence, and in each window
   * select the minimum hash — rightmost occurrence on ties; the
   * distinct selected (position, hash) pairs are the document's
   * fingerprints (guaranteed-overlap sampling, unlike 0-mod-p). The
   * rightmost-min rule is relational via one packed key:
   * `(hash mod 2^40)·2^20 + (2^20−1−pos)` — a plain `min` over the
   * trailing window frame then IS lexicographic (hash asc, pos desc),
   * so argmin decodes by integer arithmetic, no struct ordering
   * needed. Hash family is the portable md5-60
   * ([[graft.functions.VectorMath.wordHashes]] device) because the
   * SELECTION depends on hash ORDER — the oracle must reproduce the
   * values, not a count-equivalence. Scale: one kernel pass, the
   * explode carries (doc_id, pos, hash) longs only, and the window,
   * distinct, and per-doc rollup all reuse the doc_id hash
   * partitioning — one corpus-wide exchange of fixed-width rows (the
   * dedup_spans contract); docs shorter than the window contribute
   * their single truncated window (global min), so every document
   * with ≥ [[WinnowK]] words fingerprints.
   */
  def textWinnow(spark: SparkSession, sfDir: String): DataFrame =
    winnowProjection(FanOut.fanOut(
      Tables.documents(spark, sfDir).select("doc_id", "text")))
      .select("doc_id", "n_grams", "n_fp", "fp_sum")

  /** The RELATIONAL formulation [[textWinnow]] served until r13 —
   *  per-position explode + trailing-min window + distinct + rollup.
   *  Two corpus-wide exchanges deriving what the kernel computes
   *  row-locally, so the registered query now runs the kernel; this
   *  form remains as the spec-pinned cross-validation of the selection
   *  rule (CurationQueriesSpec compares them row-for-row) and is what
   *  the DuckDB oracle independently computes. */
  private[graft] def textWinnowRelational(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = FanOut.fanOut(Tables.documents(spark, sfDir))
    val agg = winnowSelection(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), sum(col("sel_h")).as("fp_sum"))
    docs.select(col("doc_id"),
        greatest(TextAnalyticsOps.wsTokenCount(col("text")) - (WinnowK - 1), lit(0L))
          .as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
  }

  /** The distinct selected fingerprints of [[textWinnow]] — (doc_id,
   *  sel_pos, sel_h) — shared by the stats rollup and the near-dup
   *  candidate join ([[dedupWinnow]]). One kernel pass; the explode
   *  carries longs only; window, distinct, and downstream rollups all
   *  reuse the doc_id hash partitioning. */
  private[graft] def winnowSelection(docs: DataFrame): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        posexplode(graft.functions.native.gram_hashes(col("text"), WinnowK, portable = true)))
      .toDF("doc_id", "pos", "h")
      .select(col("doc_id"), col("pos"),
        (col("h").bitwiseAND(lit(WinnowMask40)) * lit(WinnowPosM) +
          // Domain guard: the packed key reserves 2^20 for position, so a
          // document with >= 2^20 grams would make this term negative and
          // corrupt the hash ordering (the WinnowStats kernel uses raw
          // positions and would silently diverge). Fail loud instead.
          when(col("pos") < lit(WinnowPosM), lit(WinnowPosM - 1) - col("pos"))
            .otherwise(raise_error(concat(
              lit(s"winnowSelection: document gram position >= $WinnowPosM " +
                "overflows the packed position field; widen WinnowPosM or " +
                "chunk the document (text_chunks) before fingerprinting"))))
        ).as("packed"))
    val byDoc = Window.partitionBy("doc_id")
    val trailing = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1), Window.currentRow)
    grams
      .withColumn("mp", min("packed").over(trailing))
      .withColumn("maxpos", max("pos").over(byDoc))
      .filter(col("pos") >= WinnowW - 1 || col("pos") === col("maxpos"))
      .select(col("doc_id"),
        (lit(WinnowPosM - 1) - col("mp") % lit(WinnowPosM)).as("sel_pos"),
        shiftright(col("mp"), 20).as("sel_h"))
      .distinct()
  }

  // Near-dup thresholds for [[dedupWinnow]] (measured at sf0.01 so both
  // fire: fingerprint df reaches 7 — the cap drops the common tail —
  // and shared counts split 1-2 (noise) vs 3..40 (true near-dups)).
  val WinnowMaxDf = 4
  val WinnowMinShared = 3L

  /**
   * Winnowing-based near-dup candidates — what MOSS does with the
   * fingerprints (Schleimer et al. 2003 §4): two documents sharing ≥
   * [[WinnowMinShared]] selected fingerprints are a candidate pair,
   * with fingerprints appearing in more than [[WinnowMaxDf]] documents
   * dropped first (the "stopword fingerprint" device — ubiquitous
   * grams carry no near-dup signal, and the cap also bounds the
   * equi-join's hottest bucket at [[WinnowMaxDf]]², the minhash-band
   * blow-up guard). Complements the minhash/simhash/ngram family:
   * winnowing candidates are POSITION-guaranteed (any shared run of
   * WinnowK+WinnowW−1 words yields a shared fingerprint), so long
   * verbatim overlaps can't slip between sampled shingles. Scale
   * shape: ONE row-local [[graft.functions.WinnowFingerprints]] kernel
   * pass (selection + per-doc hash dedup, zero exchanges — the
   * relational [[winnowSelection]] spends two corpus-wide exchanges on
   * the same selection and remains as the spec-pinned twin), a
   * fingerprint-sized df agg, then an id-only equi-join on sel_h —
   * never all-pairs.
   */
  /** Per-doc DISTINCT winnowing fingerprint hashes — row-local (the
   *  WinnowFingerprints kernel + in-row array_distinct decode; a
   *  document selecting one hash at several positions — "same same
   *  same …" — still counts ONCE toward df and once per pair); no
   *  shuffle exists until a consumer aggregates. Shared by
   *  [[dedupWinnow]] and the live gate's model build. */
  private[graft] def winnowDocFingerprints(docs: DataFrame): DataFrame =
    FanOut.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          graft.functions.native.winnow_fingerprints(
            col("text"), WinnowK, WinnowW),
          x => shiftright(x, 20)))).as("sel_h"))

  /** The RARE fingerprint hashes of a per-doc fingerprint relation
   *  (document frequency ≤ [[WinnowMaxDf]]) — THE single definition of
   *  [[dedupWinnow]]'s candidate universe and the sorted-long[] model
   *  `StreamOps.winnowGateStream` broadcasts; a cap-rule change lands
   *  in both or neither. */
  private[graft] def rareWinnowFingerprints(fp: DataFrame): DataFrame =
    fp.groupBy("sel_h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
      .select("sel_h")

  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame = {
    // SNAPSHOT the fingerprint relation hash-partitioned on sel_h (the
    // dedup_eval device): it feeds the df agg AND the rare join, and
    // `rare` feeds BOTH self-join sides — without the cuts the
    // row-local winnow kernel pass re-ran once per derivation (4× per
    // invocation; the r21 verdict's dedup_winnow 32-core finding). On
    // the preserved sel_h partitioning the df agg, the rare join, and
    // the self-join all plan with NO Exchange; only the (id1, id2)
    // pair agg still shuffles. LAZY: materializes at first action.
    val fp = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(
        winnowDocFingerprints(Tables.documents(spark, sfDir)),
        Seq("sel_h"), eager = false)
    val rare = org.apache.spark.sql.GraftColumnBridge
      .localCheckpointHashPartitioned(
        fp.join(rareWinnowFingerprints(fp), Seq("sel_h")),
        Seq("sel_h"), eager = false)
    rare.select(col("sel_h"), col("doc_id").as("id1"))
      .join(rare.select(col("sel_h"), col("doc_id").as("id2")), "sel_h")
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  /** Row-local winnowing over any frame with a `text` column: the
   *  [[graft.functions.WinnowStats]] monotone-deque kernel computing
   *  the SAME (n_grams, n_fp, fp_sum) as the relational [[textWinnow]]
   *  (document windows never cross documents, so fingerprinting needs
   *  no shuffle at all — this is the form a 100 TB pass or a live
   *  ingest gate runs; the relational form stays as the oracle-gated
   *  cross-validation of the selection rule). Input columns pass
   *  through. */
  def winnowProjection(df: DataFrame): DataFrame = {
    val passthrough = df.columns.map(col)
    df.withColumn("wn",
        graft.functions.native.winnow_stats(col("text"), WinnowK, WinnowW))
      .select(passthrough ++ Seq(col("wn.n_grams").as("n_grams"),
        col("wn.n_fp").as("n_fp"), col("wn.fp_sum").as("fp_sum")): _*)
  }

  val WeightedN = 100
  private val Pow2_60 = 1.152921504606846976e18 // 2^60, exactly representable

  /**
   * Deterministic weighted sampling without replacement (Efraimidis &
   * Spirakis 2006): each document draws key u^(1/w) with u uniform and
   * w its weight (here n_chars + 1 — length-proportional inclusion),
   * and the global top-[[WeightedN]] keys are the sample. The uniform
   * is derived from CONTENT (md5-60 of the text mapped into (0,1]) —
   * the hash_sample zero-RNG device — so the draw is reproducible
   * across engines/retries, which is what lets an A-ES sample sit
   * under a DuckDB oracle at all. Keys are compared as
   * floor(ln(u)/w · 1e6) (monotone in u^(1/w); the NllMicro
   * ln-quantization device) with doc_id tiebreak. Scale: row-local
   * key computation pushed to the scan, then ONE TakeOrderedAndProject
   * — per-partition top-N, N rows to the driver stage, no global
   * sort (the globalTopK contract).
   */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val h60 = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val u = (h60 + lit(1L)).cast("double") / lit(Pow2_60)
    val w = (col("n_chars") + lit(1L)).cast("double")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        floor(log(u) / w * lit(1000000.0)).as("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(WeightedN)
  }

  val GroupWeightedN = 10

  /**
   * STRATIFIED weighted sampling without replacement — the
   * [[sampleWeighted]] A-ES draw taken per SOURCE (top-
   * [[GroupWeightedN]] keys within each stratum): what a mixture
   * pipeline actually samples, since a global weighted draw would let
   * one verbose source crowd out the tail — the stratified complement,
   * exactly as [[sampleStratified]] is to [[hashSample]]. Identical
   * content-derived key arithmetic (reproducible, oracle-gateable);
   * the per-group cut is a rank window that plans as
   * WindowGroupLimit — per-partition top-N pushdown, state bounded by
   * N per source, no global sort (the sampleStratified contract).
   */
  def sampleGroupWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val h60 = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
    val u = (h60 + lit(1L)).cast("double") / lit(Pow2_60)
    val w = (col("n_chars") + lit(1L)).cast("double")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        floor(log(u) / w * lit(1000000.0)).as("key_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("key_micro").desc, col("doc_id"))).cast("bigint"))
      .filter(col("rank") <= GroupWeightedN)
  }

  // sample_dsir: hashed-feature buckets, target domain, selection size
  val DsirBuckets = 64
  val DsirTargetLang = "en"
  val DsirN = 100L

  /**
   * Importance resampling for domain matching (Xie et al. 2023, DSIR
   * — "Data Selection for Language Models via Importance Resampling"):
   * score every raw document by how target-like its hashed n-gram
   * feature counts are, then keep the top [[DsirN]]. The model is two
   * bucket distributions over [[DsirBuckets]] hashed word features —
   * p from the TARGET slice (here `lang = 'en'`, the domain a
   * pretraining mix would upweight), q from the full raw corpus —
   * and a document's log importance weight is Σ_b c_b·(log p_b −
   * log q_b) with add-one smoothing. Per-bucket log-ratios are
   * floor-quantized to integer micro-nats ONCE in the B-row model
   * (the NllMicro engine-stable device: the only transcendental is
   * ln of a ratio of exactly-representable integer products, < 2^53
   * so both engines see the identical double), making every document
   * score an exact integer sum.
   *
   * Scale shape: the model is ONE corpus feature pass ending in a
   * B-row conditional agg (raw and target counts together — the
   * target slice piggybacks as a `when`-counted column instead of a
   * second scan); totals are whole-frame windows over the B-row
   * relation (the unigramModel device — no extra corpus scan);
   * scoring is one explode + a BROADCAST join against the B-row model
   * + one two-phase per-doc sum; the top-N cut is the
   * WindowGroupLimit contract. Documents never shuffle; the hashed
   * bucketing (md5-60 mod B, the portable cross-engine device) keeps
   * the model FIXED-WIDTH regardless of vocabulary — the paper's
   * reason hashing works at web scale.
   */
  private def dsirBucket(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long") % DsirBuckets

  /** Per-(doc, lang, bucket) word counts — the ONE corpus
   *  tokenize+hash pass both DSIR halves read. Grouping keys carry
   *  lang so the model's target-slice counts derive from the same
   *  relation (exact integer sums either way). */
  private def dsirDocBuckets(docs: DataFrame): DataFrame =
    // fanOut: tokenize+hash explode off the scan (the langid hazard)
    FanOut.fanOut(docs)
      .select(col("doc_id"), col("lang"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
    .groupBy(col("doc_id"), col("lang"), dsirBucket(col("w")).as("b"))
    .agg(count(lit(1)).as("cnt"))

  /** The model tail over any (lang?, b, cnt) bucket-count relation —
   *  the arithmetic of the published estimator, shared by the
   *  standalone [[dsirModel]] and the fused [[dsirScores]] path. */
  private def dsirModelOf(bucketCnt: DataFrame): DataFrame = bucketCnt
    .groupBy(col("b"))
    .agg(sum(col("cnt")).as("rcnt"),
      sum(when(col("lang") === DsirTargetLang, col("cnt")).otherwise(0L))
        .as("tcnt"))
    .select(col("b"), col("rcnt"), col("tcnt"),
      floor(log(
        ((col("tcnt") + 1).cast("double") *
          (sum(col("rcnt")).over(Window.partitionBy()) + lit(DsirBuckets))
            .cast("double")) /
        ((col("rcnt") + 1).cast("double") *
          (sum(col("tcnt")).over(Window.partitionBy()) + lit(DsirBuckets))
            .cast("double")))
        * lit(1000000.0)).cast("bigint").as("lr_micro"))

  /** The B-row DSIR model (b, lr_micro) — factored so the live gate
   *  (`StreamOps.dsirGateStream`) learns the identical table once at
   *  topology build. Input needs (lang, text). */
  private[graft] def dsirModel(docs: DataFrame): DataFrame =
    dsirModelOf(FanOut.fanOut(docs)
      .select(col("lang"),
        explode(TextAnalyticsOps.words(lower(col("text")))).as("w"))
      .groupBy(col("lang"), dsirBucket(col("w")).as("b"))
      .agg(count(lit(1)).as("cnt")))

  /** Per-doc DSIR scores over the whole corpus (doc_id, n_words,
   *  logw_micro) — the scoring half of [[sampleDsir]], shared with
   *  the gate's threshold learner. The corpus is tokenized and
   *  md5-bucketed ONCE: the per-(doc, lang, b) count snapshot (lazy
   *  localCheckpoint, the LM-model-relation device) feeds BOTH the
   *  model aggregation and the scoring sum — the old form ran the
   *  full explode + per-word hash twice, once under each half.
   *  Identical integers: rcnt/tcnt are sums of the same per-doc
   *  counts, n_words = Σ cnt, and Σ_w lr(b(w)) = Σ_b cnt·lr. */
  private[graft] def dsirScores(docs: DataFrame): DataFrame = {
    val buckets = dsirDocBuckets(docs).localCheckpoint(false)
    buckets
      .join(broadcast(dsirModelOf(buckets)), "b")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("lr_micro")).as("logw_micro"))
  }

  def sampleDsir(spark: SparkSession, sfDir: String): DataFrame =
    // top-N FIRST as orderBy+limit — plans as TakeOrderedAndProject
    // (per-partition top-N + driver merge of N·parts rows), where the
    // old global row_number window single-partitioned the ENTIRE
    // per-doc score relation for a 100-row cut (guide §2.5's
    // monster-partition class; the WindowExec warning). The rank
    // window then runs over ≤ N rows; (logw desc, doc_id) is a total
    // order, so rank-over-top-N ≡ filter(global rank ≤ N) exactly.
    dsirScores(Tables.documents(spark, sfDir))
      .orderBy(col("logw_micro").desc, col("doc_id"))
      .limit(DsirN.toInt)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("logw_micro").desc, col("doc_id"))).cast("bigint"))
      .select(col("rank"), col("doc_id"), col("n_words"), col("logw_micro"))

  val CurateMinScore = 0.40
  val CurateMinWords = 20L

  /**
   * End-to-end curation pass — the composition a real training-data
   * pipeline runs, as ONE declarative plan: enrich every document with
   * language + quality signals (row-local projections, zero shuffle),
   * keep English docs above quality/length thresholds, then collapse
   * exact duplicates to their canonical survivor (min doc_id per
   * normalized fingerprint — one two-phase hash agg, the only shuffle
   * in the query; grouping also by n_words/score is free since dup
   * texts share them, and keeps the columns without a second pass).
   */
  def pipelineCurate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        TextAnalyticsOps.langId(col("text")).as("lang_pred"),
        TextAnalyticsOps.qualityFeatures(col("text")).as("q"))
      .select(col("doc_id"), col("text"), col("lang_pred"),
        col("q.n_words").as("n_words"), col("q.score").as("score"))
      .filter(col("lang_pred") === "en" &&
        col("score") >= CurateMinScore && col("n_words") >= CurateMinWords)
      .groupBy(TextAnalyticsOps.fingerprint(col("text")).as("fp"),
        col("n_words"), col("score"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_words"), col("score"), col("n_copies"))

  // ---- multimodal columns -------------------------------------------------

  private def blobs(spark: SparkSession, sfDir: String): DataFrame =
    // fan out (conditionally): md5-blob synthesis + downstream decode are
    // per-row heavy and the local documents scan is a single small file
    // split; at scale the scan is already wide and no exchange appears
    FanOut.fanOut(Tables.documents(spark, sfDir))
      .select(col("doc_id"), MultimodalOps.synthBlob(col("text")).as("bytes"))

  def mmMeta(spark: SparkSession, sfDir: String): DataFrame =
    blobs(spark, sfDir)
      .withColumn("meta", MultimodalOps.binaryMeta(col("bytes")))
      .select(col("doc_id"), col("meta.n_bytes"), col("meta.magic"))

  def mmFrames(spark: SparkSession, sfDir: String): DataFrame =
    blobs(spark, sfDir)
      .select(col("doc_id"), posexplode(
        MultimodalOps.frameSample(col("bytes"), frames = 4, frameLen = 8, stride = 16)))
      .toDF("doc_id", "frame_idx", "frame_hex")

  /** Nearest-neighbor downsample of the blob viewed as an 8x8 byte
   *  image, factor 2 -> 4x4 (16 bytes, hex). The resize "kernel" is a
   *  row-local byte gather — the real-codec version slots into
   *  decodePartitioned; the Spark-side shape (binary in, fixed-size
   *  binary out, zero shuffle) is what the pipeline depends on. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame =
    blobs(spark, sfDir).select(col("doc_id"),
      MultimodalOps.resizeNearest(col("bytes"), w = 8, h = 8, factor = 2)
        .as("resized_hex"))

  /** Stub-decoded feature vectors, exploded to (doc_id, bin, cnt) rows.
   *  Long format keeps array columns out of the result (the driver's
   *  pandas compare can't sort ndarray cells) and makes the histogram
   *  oracle-checkable: the stub's 16-bin byte-nibble histogram is
   *  recomputable in SQL from the blob's hex form. */
  def mmFeatures(spark: SparkSession, sfDir: String): DataFrame =
    blobs(spark, sfDir)
      .select(col("doc_id"),
        posexplode(MultimodalOps.decodeStub(col("bytes"))))
      .toDF("doc_id", "bin", "cnt")

  /** REAL image decode, end-to-end gated: run
   *  [[MultimodalOps.decodeImagePartitioned]] (genuine `javax.imageio`
   *  PNG decode, partition-batched) over the committed deterministic
   *  PNG corpus (`tools.PngFixture` — the driver's testdata carries no
   *  real binaries, so the fixture rides in the repo) and emit each
   *  image's dimensions + 16-bin luminance histogram. The oracle is
   *  the generator's raw-PIXEL arithmetic embedded as literals (the
   *  sign-table device): the gate passes iff the committed bytes
   *  genuinely round-trip — decode correctness, not decoder echo.
   *  Ignores sfDir by construction (the fixture is scale-free). */
  def mmDecodePng(spark: SparkSession, sfDir: String): DataFrame =
    // every fixture read goes through Tables.parquet like the sfDir
    // tables, so its schema is inferred once per session, not per query
    // (SourceHygieneSpec keeps raw parquet reads out of ops/ and queries/)
    MultimodalOps.decodeImagePartitioned(
      Tables.parquet(spark, graft.tools.PngFixture.Path), "img_id", "png")
      .toDF()
      .select(col("id").as("img_id"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL JPEG decode, end-to-end gated — the second image codec next
   *  to [[mmDecodePng]]: same [[MultimodalOps.decodeImagePartitioned]]
   *  body, routed through `javax.imageio`'s JPEG plugin (DCT blocks,
   *  quantization, chroma handling, and — for the fixture's
   *  progressive-encoded ids — the multi-scan path) over the committed
   *  deterministic corpus (`tools.JpegFixture`). JPEG is lossy, so the
   *  tolerance is engineered into the FIXTURE (16×16-aligned flat gray
   *  blocks, mid-bin levels — measured decode error 0 at quality 0.95)
   *  and the oracle stays raw block-definition arithmetic with an
   *  exact hash compare. Ignores sfDir (scale-free fixture). */
  def mmDecodeJpeg(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeImagePartitioned(
      Tables.parquet(spark, graft.tools.JpegFixture.Path), "img_id", "jpeg")
      .toDF()
      .select(col("id").as("img_id"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL BMP decode, end-to-end gated — the third image-codec rung
   *  beside [[mmDecodePng]]/[[mmDecodeJpeg]] (BMP is 24-bit
   *  UNCOMPRESSED, so the decode is exact with no tolerance device at
   *  all — not even the flat-block engineering JPEG needs):
   *  [[MultimodalOps.decodeImagePartitioned]] over the
   *  [[graft.tools.ImageRemuxFixture]] BMP arm. Oracle = the
   *  generator's raw block arithmetic as VALUES literals. Ignores
   *  sfDir (scale-free fixture). */
  def mmDecodeBmp(spark: SparkSession, sfDir: String): DataFrame = {
    val B = graft.tools.ImageRemuxFixture.IdBase
    val M = graft.tools.ImageRemuxFixture.M
    MultimodalOps.decodeImagePartitioned(
      Tables.parquet(spark, graft.tools.ImageRemuxFixture.Path)
        .filter(col("img_id") >= B + 2 * M && col("img_id") < B + 3 * M),
      "img_id", "image")
      .toDF()
      .select(col("id").as("img_id"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))
  }

  val ResizeFactor = 2

  /** REAL decode → resize pipeline stage, end-to-end gated:
   *  [[MultimodalOps.decodeImageResized]] (genuine `javax.imageio`
   *  decode fused with a nearest-neighbor factor-[[ResizeFactor]]
   *  downsample in one partition-batched pass — full-resolution pixels
   *  never leave the decoder) over the committed PNG corpus. Oracle =
   *  the generator's raw-pixel arithmetic AT THE SAMPLED COORDINATES
   *  as VALUES literals, so the gate proves decode AND transform
   *  round-trip together. Ignores sfDir (scale-free fixture). */
  def mmDecodeResize(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeImageResized(
      Tables.parquet(spark, graft.tools.PngFixture.Path), "img_id", "png",
      ResizeFactor)
      .toDF()
      .select(col("id").as("img_id"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL audio decode, end-to-end gated — the WAV sibling of
   *  [[mmDecodePng]]: [[MultimodalOps.decodeWavPartitioned]] (genuine
   *  `javax.sound.sampled` RIFF/WAVE PCM decode, partition-batched)
   *  over the committed deterministic clip corpus
   *  (`tools.WavFixture`), emitting each clip's format metadata +
   *  16-bin amplitude histogram. Oracle = the generator's raw-SAMPLE
   *  arithmetic as VALUES literals; passes iff the committed bytes
   *  genuinely round-trip the encoder. Ignores sfDir by construction
   *  (the fixture is scale-free). */
  def mmDecodeWav(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeWavPartitioned(
      Tables.parquet(spark, graft.tools.WavFixture.Path), "clip_id", "wav")
      .toDF()
      .select(col("id").as("clip_id"),
        col("sample_rate").cast("bigint").as("sample_rate"),
        col("channels").cast("bigint").as("channels"),
        col("n_samples"),
        array_join(transform(col("amp_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL decode → windowed audio FRAME FEATURES, end-to-end gated —
   *  the analysis rung above [[mmDecodeWav]]'s whole-clip histogram:
   *  [[MultimodalOps.audioFrameFeaturesPartitioned]] (genuine
   *  `javax.sound.sampled` decode fused with an integer-exact
   *  channel-0 feature fold) over the committed clip corpus —
   *  zero-crossing count, total energy, peak amplitude, and
   *  [[graft.tools.WavFixture.FrameWin]]-sample window / silence
   *  stats (non-vacuous: the fixture's silent-lead clips carry real
   *  digital silence). Oracle = the generator's raw-sample arithmetic
   *  as VALUES literals. Ignores sfDir (scale-free fixture). */
  def mmAudioFeatures(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.audioFrameFeaturesPartitioned(
      Tables.parquet(spark, graft.tools.WavFixture.Path), "clip_id", "wav",
      graft.tools.WavFixture.FrameWin, graft.tools.WavFixture.SilenceThr)
      .toDF()
      .select(col("id").as("clip_id"), col("n_windows"),
        col("zero_crossings"), col("energy"), col("peak_abs"),
        col("silent_windows"))

  /** Hamming radius for [[mmAudioNeardup]] (6 = the banding
   *  pigeonhole's lossless bound; measured separation on the
   *  committed corpus: variants 0–2, everything else ≥ 14). */
  val AudioNeardupMaxHamming = 6

  /** REAL decode → AUDIO FINGERPRINT, end-to-end gated — the audio
   *  dedup fingerprint ([[MultimodalOps.audioFingerprintPartitioned]]:
   *  channel-0 equal-window energy envelope → 1-D DCT-II → median
   *  threshold, amplitude-scale-invariant by construction;
   *  CONTAINER-GENERAL since r19 — RIFF/WAVE and Sun AU payloads
   *  magic-sniffed through the one pcm16Frames dispatch) over the
   *  UNION of the committed [[graft.tools.AudioDupFixture]] WAV
   *  corpus and the mixed-container
   *  [[graft.tools.AudioRemuxFixture]]. Oracle = the raw-sample
   *  fingerprints through the INDEPENDENT
   *  `AudioDupFixture.refAudioFp64` as VALUES literals (no audio
   *  container bytes — PCM is lossless in BOTH containers, so raw
   *  arithmetic IS the decoded content), so the gate proves both
   *  decodes AND the fingerprint definition. Ignores sfDir
   *  (scale-free fixtures). */
  def mmAudioFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.audioFingerprintPartitioned(
        mixedAudioCorpus(spark), "clip_id", "audio")
      .toDF()
      .select(col("id").as("clip_id"), col("sample_rate"),
        col("n_samples"), col("fp"))

  /** The ONE mixed-container corpus read the audio fingerprint and
   *  near-dup queries share: the WAV dup fixture lifted to the
   *  (clip_id, audio) contract, unioned with the committed WAV+AU
   *  re-master fixture (id ranges disjoint by construction —
   *  [[graft.tools.AudioRemuxFixture.IdBase]]). */
  private def mixedAudioCorpus(spark: SparkSession): DataFrame =
    Tables.parquet(spark, graft.tools.AudioDupFixture.Path)
      .select(col("clip_id"), col("wav").as("audio"))
      .unionAll(Tables.parquet(spark, graft.tools.AudioRemuxFixture.Path)
        .select(col("clip_id"), col("audio")))
      .unionAll(Tables.parquet(spark, graft.tools.AiffRemuxFixture.Path)
        .select(col("clip_id"), col("audio")))

  /** AUDIO NEAR-DUP pairs — the perceptual-hash dedup loop on sound,
   *  completing the modality family (text simhash, image phash, video
   *  frame sequences): [[graft.ops.DedupOps.hammingNearDups64]] over
   *  the clip fingerprints at radius [[AudioNeardupMaxHamming]]. The
   *  committed UNION (WAV dup corpus + WAV/AU re-masters + r20 AIFF
   *  re-masters) carries the ground truth (the query runs MIXED
   *  like mm_video_neardup — container coverage is the operator's
   *  point): 10 amplitude-scaled, dithered WAV variants MUST pair
   *  with their bases (scaling commutes with the envelope DCT —
   *  hamming 0–2 measured), each content's (WAV, AU, AIFF)
   *  re-master TRIANGLE MUST pair at hamming 0 (lossless PCM in all
   *  three containers), the 8-bit AIFF decoy must QUARANTINE (the
   *  non-PCM16 routing rule), and the REVERSED
   *  decoys — the same energy multiset in reverse order, one of them
   *  an AU — must NOT (the DCT is order-sensitive where a histogram
   *  fingerprint would be fooled). Scale shape: decode/DCT cost in
   *  the partition-batched pass; past it one (id, hash) row per clip
   *  through the banded equi-join, never all-pairs. Ignores sfDir
   *  (scale-free fixtures). */
  def mmAudioNeardup(spark: SparkSession, sfDir: String): DataFrame =
    mmAudioNeardupOf(mixedAudioCorpus(spark))

  /** The [[mmAudioNeardup]] engine over any clip frame — columns
   *  bound BY NAME (`idCol`/`bytesCol`, the gates' corpusIdCol
   *  contract: a caller frame with extra or reordered columns must
   *  not silently bind the wrong fields), payload container
   *  magic-sniffed per clip — factored so the spec can
   *  inject corrupt payloads. The
   *  fingerprint frame is MATERIALIZED once (the phashCorpus lesson —
   *  the banded self-join's two sides would otherwise each re-run the
   *  decode+DCT subtree: measured 0 ReusedExchange without it).
   *  Quarantined clips (sample_rate == -1) never enter — two
   *  undecodable clips must not pair at hamming 0 (the phashCorpus
   *  rule). Handle left to the ContextCleaner (non-boundary
   *  convention). */
  def mmAudioNeardupOf(clips: DataFrame, idCol: String = "clip_id",
      bytesCol: String = "audio"): DataFrame =
    graft.ops.DedupOps.hammingNearDups64(
        MultimodalOps.audioFingerprintPartitioned(clips, idCol, bytesCol)
          .toDF()
          .filter(col("sample_rate") =!= -1)
          .select(col("id"), col("fp"))
          .localCheckpoint(),
        col("id"), col("fp"), AudioNeardupMaxHamming)
      .select(col("id1"), col("id2"),
        col("hamming").cast("bigint").as("hamming"))

  /** Brightness shift for [[mmPhash]]'s built-in near-dup control. */
  val PhashShift = 8

  /** REAL decode → PERCEPTUAL HASH, end-to-end gated — the image-dedup
   *  fingerprint (the multimodal simhash;
   *  [[MultimodalOps.phashPartitioned]] over the committed PNG
   *  corpus): per image the 64-bit DCT pHash, the hamming distance to
   *  its own brightness-shifted variant (the near-dup ROBUSTNESS
   *  ground truth — small by construction), and to the cyclic-next
   *  unrelated image (large — the separation that makes a hash-bucket
   *  image dedup work). Oracle = the generator's raw-pixel luminance
   *  through an INDEPENDENT plain-Scala re-derivation of the DCT hash
   *  (`PngFixture.refPhash64` — own cosines, loops, median sort) as
   *  VALUES literals; the gate proves the decode AND the hash
   *  definition. Ignores sfDir (scale-free fixture). */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.tools.PngFixture
    // MATERIALIZED once: both self-join sides consume it with
    // different projections (the collocationsOf reuse lesson) —
    // without the cut every image decodes and DCT-folds twice.
    // The handle stays live under the returned frame — left to the
    // ContextCleaner (the pagerank non-boundary convention)
    val base = MultimodalOps.phashPartitioned(
      Tables.parquet(spark, PngFixture.Path), "img_id", "png", PhashShift)
      .toDF()
      .select(col("id").as("img_id"), col("phash"),
        bit_count(col("phash").bitwiseXOR(col("phash_shifted")))
          .cast("bigint").as("ham_variant"))
      .localCheckpoint()
    base.as("a")
      .join(broadcast(base.as("b").select(col("img_id").as("nid"),
        col("phash").as("nph"))),
        col("nid") === pmod(col("a.img_id") + 1, lit(PngFixture.N.toLong)))
      .select(col("a.img_id").as("img_id"), col("a.phash").as("phash"),
        col("ham_variant"),
        bit_count(col("a.phash").bitwiseXOR(col("nph")))
          .cast("bigint").as("ham_next"))
  }

  /** Hamming radius for [[mmPhashNeardup]] — the lossless bound of
   *  the 8-block/2-intact banding ([[DedupOps.hammingNearDups64]]). */
  val PhashNeardupMaxHamming = 6

  /** IMAGE NEAR-DUP at scale — the operator [[mmPhash]]'s fingerprint
   *  exists for (dedup_simhash's multimodal sibling): decode every
   *  image of every container the engine ingests (the `ImageIO.read`
   *  magic-sniffing dispatch — PNG or JPEG per image), hash base AND
   *  brightness-shifted variant ([[MultimodalOps.phashPartitioned]]),
   *  pool both into one hash corpus (variant ids on the disjoint
   *  -(id+1) keyspace), and find every pair within Hamming
   *  [[PhashNeardupMaxHamming]] via [[DedupOps.hammingNearDups64]]'s
   *  banded equi-join — 28 block-pair tables, exact popcount
   *  verification, NEVER all-pairs (plan-pinned). The input is the
   *  UNION of the committed corpora — container coverage is the
   *  operator's point, so the registered query runs MIXED (the
   *  mm_video_neardup convention): [[graft.tools.PngFixture]] (46 of
   *  48 (base, variant) self-pairs within radius at shift 8 — two
   *  variants land beyond radius 6, real misses a production radius
   *  choice trades; base-base distances start at 10 so no accidental
   *  pair qualifies) plus [[graft.tools.ImageRemuxFixture]] (each
   *  content committed as a PNG, a JPEG re-encode, AND a 24-bit BMP
   *  of the same pixels: the (PNG, JPEG, BMP) re-encode TRIANGLE
   *  MUST qualify at hamming 0 — flat mid-bin mosaics round-trip the
   *  JDK JPEG codec pixel-exactly, PNG/BMP are lossless — and a
   *  corrupt decoy must quarantine, never
   *  pair). Oracle = both fixtures' raw-pixel hashes through the
   *  INDEPENDENT `PngFixture.refPhash64`, banded and
   *  popcount-verified in SQL. Ignores sfDir (scale-free fixtures). */
  def mmPhashNeardup(spark: SparkSession, sfDir: String): DataFrame =
    mmPhashNeardupOf(mixedImageCorpus(spark), bytesCol = "image")

  /** IMAGE DEDUP CLUSTERS — closes the perceptual-hash loop end to
   *  end (decode → hash → banded pairs → CONNECTED COMPONENTS →
   *  canonical keep set), the image analogue of `dedup_clusters`:
   *  every decoded hash (base + variant ids, quarantine filtered)
   *  labeled with its component's minimum id, `is_survivor` marking
   *  the representative (the dedup_clusters min-id convention — a
   *  production keep-policy ranks members by quality instead, the
   *  dedupSurvivors shape). Runs MIXED like the pair query (the one
   *  [[mixedImageCorpus]] read): the PNG fixture's 46 two-member
   *  (base, variant) clusters + 4 singletons, plus the remux
   *  fixture's cross-container components — each content's PNG and
   *  JPEG siblings (and their pooled variants) collapse into ONE
   *  cluster, spec-pinned against brute-force CC over the
   *  independent raw-pixel hashes. Scale
   *  shape: pairs from the banded equi-join (never all-pairs), CC
   *  over pair-sized edges with per-round checkpoint truncation —
   *  the dedup_clusters cost class over a hash-sized relation. */
  def mmPhashClusters(spark: SparkSession, sfDir: String): DataFrame =
    mmPhashClustersOf(mixedImageCorpus(spark), bytesCol = "image")

  /** The ONE mixed-container corpus read `mm_phash_neardup` and
   *  `mm_phash_clusters` share: the PNG fixture lifted to the
   *  (img_id, image) contract, unioned with the committed PNG+JPEG
   *  re-encode fixture (id ranges disjoint by construction —
   *  [[graft.tools.ImageRemuxFixture.IdBase]]). */
  private def mixedImageCorpus(spark: SparkSession): DataFrame =
    Tables.parquet(spark, graft.tools.PngFixture.Path)
      .select(col("img_id"), col("png").as("image"))
      .unionAll(Tables.parquet(spark, graft.tools.ImageRemuxFixture.Path)
        .select(col("img_id"), col("image")))

  /** The [[mmPhashClusters]] engine over any image frame (columns
   *  bound BY NAME via `idCol`/`bytesCol` — the gates' corpusIdCol
   *  contract). */
  def mmPhashClustersOf(images: DataFrame, idCol: String = "img_id",
      bytesCol: String = "png"): DataFrame = {
    val corpus = phashCorpus(images, idCol, bytesCol)
    val pairs = graft.ops.DedupOps.hammingNearDups64(
        corpus, col("id"), col("phash"), PhashNeardupMaxHamming)
      .select("id1", "id2")
    graft.ops.DedupOps.connectedComponents(pairs, corpus.select(col("id")))
      .select(col("id").as("img_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_survivor"))
  }

  /** The ONE hash-corpus construction both [[mmPhashNeardupOf]] and
   *  [[mmPhashClustersOf]] dedup over — decode, quarantine filter,
   *  variant pooling share a single definition so the pair query and
   *  its cluster composition can never desynchronize. MATERIALIZED
   *  once (the mmPhash lesson): every consumer branch re-reads the
   *  checkpoint instead of re-running the decode+DCT subtree.
   *  QUARANTINED images (width == -1, sentinel phash 0) never enter:
   *  two undecodable images would pair at hamming 0 and a dedup
   *  consumer would drop one broken file for another — review-pass
   *  fix, spec-pinned. Variants ride the disjoint -(id+1) keyspace.
   *  Handle left to the ContextCleaner (non-boundary convention). */
  private def phashCorpus(images: DataFrame, idCol: String,
      bytesCol: String): DataFrame = {
    val hashed = MultimodalOps.phashPartitioned(
      images, idCol, bytesCol, PhashShift)
      .toDF()
      .filter(col("width") =!= -1)
      .localCheckpoint()
    hashed.select(col("id"), col("phash"))
      .unionAll(hashed.select((-(col("id") + 1)).as("id"),
        col("phash_shifted").as("phash")))
  }

  /** The [[mmPhashNeardup]] engine over any image frame (columns
   *  bound BY NAME via `idCol`/`bytesCol`, payload container
   *  magic-sniffed per image) — factored so the spec can inject
   *  corrupt payloads. Corpus rules (quarantine, variant keyspace)
   *  live in [[phashCorpus]], shared with the cluster composition. */
  def mmPhashNeardupOf(images: DataFrame, idCol: String = "img_id",
      bytesCol: String = "png"): DataFrame =
    graft.ops.DedupOps.hammingNearDups64(
        phashCorpus(images, idCol, bytesCol), col("id"), col("phash"),
        PhashNeardupMaxHamming)
      .select(col("id1"), col("id2"),
        col("hamming").cast("bigint").as("hamming"))

  /** Per-frame Hamming radius for [[mmVideoNeardup]] (6 = the banding
   *  pigeonhole's lossless bound). */
  val VideoFrameMaxHamming = 6

  /** VIDEO NEAR-DUP — the perceptual-hash dedup loop lifted from
   *  images to FRAME SEQUENCES (the mm_phash_neardup of clips):
   *  decode every frame of every container the engine ingests to its
   *  DCT perceptual hash
   *  ([[MultimodalOps.videoFramePhashesPartitioned]] — magic-sniffed
   *  GIF or MJPEG-AVI dispatch through the SHARED frame-hash grid,
   *  shift 0 — one transform per frame), then a clip pair is a
   *  near-duplicate iff (a) the clips have the SAME frame count and
   *  (b) EVERY temporally aligned frame pair sits within Hamming
   *  [[VideoFrameMaxHamming]] — candidates from
   *  [[graft.ops.DedupOps.hammingNearDups64Aligned]]
   *  (banded equi-join keyed on the frame index: alignment is a JOIN
   *  KEY, never a post-filter over the cross-position blowup), exact
   *  per the pigeonhole, so the clip-level verdict is exact too.
   *  The input is the UNION of the THREE committed corpora —
   *  container coverage is the operator's point, so the registered
   *  query runs MIXED: [[graft.tools.VideoDupFixture]] (GIF; 10
   *  brightness-variant pairs MUST qualify, frame-PERMUTED decoys
   *  must not, a TRUNCATED decoy must not) plus
   *  [[graft.tools.VideoRemuxFixture]] (each clip committed as a GIF
   *  AND as an MJPEG-AVI re-mux of the same pixels: the
   *  CROSS-CONTAINER pair MUST qualify at aligned hamming 0, and a
   *  truncated AVI decoy must not) plus
   *  [[graft.tools.Mp4RemuxFixture]] (r20 — MJPEG-MP4 re-muxes of
   *  the same contents: each content's (GIF, AVI, MP4) TRIANGLE
   *  pairs at aligned hamming 0, and an 'avc1' codec decoy
   *  quarantines out of the join). Oracle = all fixtures' raw-pixel
   *  hashes through the INDEPENDENT refPhash64, all-pairs aligned
   *  xor/popcount in SQL (no banding echo). Ignores sfDir
   *  (scale-free fixtures).
   *
   *  Scale shape: decode/DCT cost stays in the partition-batched
   *  pass; past it only (id, frame, hash) triples move — 28 banded
   *  rows per frame, one shuffled equi-join on (frame, band-table,
   *  key), clip-sized count/rollup aggs. At 100 TB of video the hash
   *  relation is ~24 bytes/frame and the pair space is bounded by
   *  the banding, never all-pairs. */
  def mmVideoNeardup(spark: SparkSession, sfDir: String): DataFrame =
    mmVideoNeardupOf(mixedVideoCorpus(spark))

  /** The ONE mixed-container corpus read `mm_video_neardup` and
   *  `mm_video_clusters` share: the GIF dedup fixture lifted to the
   *  (clip_id, video) contract, unioned with the committed GIF+AVI
   *  re-mux fixture (id ranges disjoint by construction —
   *  [[graft.tools.VideoRemuxFixture.IdBase]]). */
  private def mixedVideoCorpus(spark: SparkSession): DataFrame =
    Tables.parquet(spark, graft.tools.VideoDupFixture.Path)
      .select(col("clip_id"), col("gif").as("video"))
      .unionAll(Tables.parquet(spark, graft.tools.VideoRemuxFixture.Path)
        .select(col("clip_id"), col("video")))
      .unionAll(Tables.parquet(spark, graft.tools.Mp4RemuxFixture.Path)
        .select(col("clip_id"), col("video")))

  /** The [[mmVideoNeardup]] engine over any (clip_id, video) frame
   *  (payload container magic-sniffed per clip) — factored so the
   *  spec can inject corrupt payloads. Hash frame
   *  MATERIALIZED once (the phashCorpus lesson): the count agg and
   *  the banded join both re-read the checkpoint instead of re-running
   *  decode+DCT. Quarantined clips (width == -1) never enter — two
   *  undecodable clips must not pair at hamming 0 (the phashCorpus
   *  rule). Handle left to the ContextCleaner (non-boundary
   *  convention). */
  def mmVideoNeardupOf(clips: DataFrame, idCol: String = "clip_id",
      bytesCol: String = "video"): DataFrame =
    videoPairsOf(videoHashCorpus(clips, idCol, bytesCol))

  /** The ONE frame-hash corpus construction the video pair query and
   *  its cluster composition share (the phashCorpus convention):
   *  container-sniffed decode (columns bound BY NAME — the gates'
   *  corpusIdCol contract; positional binding would silently read the
   *  wrong fields from a wider caller frame) + per-frame DCT hash,
   *  quarantine filtered, MATERIALIZED
   *  once — every consumer re-reads the checkpoint instead of
   *  re-running decode+DCT. Handle left to the ContextCleaner
   *  (non-boundary convention). */
  private def videoHashCorpus(clips: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    MultimodalOps.videoFramePhashesPartitioned(
        clips, idCol, bytesCol, brightShift = 0)
      .toDF()
      .filter(col("width") =!= -1)
      .select(col("id"), col("frame"), col("phash"))
      .localCheckpoint()

  /** Clip-level near-dup verdicts over a [[videoHashCorpus]] frame:
   *  aligned banded candidates → per-pair rollup → the count-equality
   *  + all-frames-within-radius qualification. */
  private def videoPairsOf(sigs: DataFrame): DataFrame = {
    val counts = sigs.groupBy(col("id")).agg(count(lit(1)).as("n_frames"))
    graft.ops.DedupOps.hammingNearDups64Aligned(sigs, col("id"),
        col("frame"), col("phash"), VideoFrameMaxHamming)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_aligned"),
        max(col("hamming")).cast("bigint").as("max_hamming"),
        sum(col("hamming")).as("sum_hamming"))
      .join(counts.select(col("id").as("id1"), col("n_frames").as("n1")),
        "id1")
      .join(counts.select(col("id").as("id2"), col("n_frames").as("n2")),
        "id2")
      .filter(col("n1") === col("n2") && col("n_aligned") === col("n1"))
      .select(col("id1"), col("id2"), col("n1").as("n_frames"),
        col("max_hamming"), col("sum_hamming"))
  }

  /** VIDEO DEDUP CLUSTERS — closes the video loop end to end the way
   *  `mm_phash_clusters` closes the image loop: CONNECTED COMPONENTS
   *  over the [[mmVideoNeardup]] pairs, every decoded clip labeled
   *  with its component's minimum id, `is_survivor` marking the
   *  representative. Runs MIXED like the pair query: on the committed
   *  union, 10 two-member (base, variant) GIF clusters + 3 GIF decoy
   *  singletons + 6 two-member cross-container (GIF, AVI re-mux)
   *  clusters + 1 truncated-AVI singleton — spec-pinned.
   *  Scale shape: pairs from the aligned banded equi-join (never
   *  all-pairs), CC over pair-sized edges — the dedup_clusters cost
   *  class over a clip-sized relation. Ignores sfDir (scale-free
   *  fixtures). */
  def mmVideoClusters(spark: SparkSession, sfDir: String): DataFrame =
    mmVideoClustersOf(mixedVideoCorpus(spark))

  /** The [[mmVideoClusters]] engine over any clip frame (columns
   *  bound BY NAME via `idCol`/`bytesCol`). */
  def mmVideoClustersOf(clips: DataFrame, idCol: String = "clip_id",
      bytesCol: String = "video"): DataFrame = {
    val sigs = videoHashCorpus(clips, idCol, bytesCol)
    val pairs = videoPairsOf(sigs).select("id1", "id2")
    graft.ops.DedupOps.connectedComponents(pairs,
        sigs.select(col("id")).distinct())
      .select(col("id").as("clip_id"), col("cluster"),
        (col("id") === col("cluster")).as("is_survivor"))
  }

  /** REAL animated-GIF frame decode, end-to-end gated — the LOSSLESS
   *  multi-frame rung beside `mm_frames_mjpeg`
   *  ([[MultimodalOps.decodeGifFramesPartitioned]] over the committed
   *  `tools.GifFixture` corpus): frame count / constant dims / summed
   *  GraphicControlExtension delay / 16-bin luminance histogram over
   *  every frame — EXACT by construction (indexed color round-trips
   *  grayscale losslessly; probe-verified), the one decode gate in
   *  the family needing no engineered tolerance. Oracle = the
   *  generator's raw pixel arithmetic as VALUES literals. Ignores
   *  sfDir (scale-free fixture). */
  def mmFramesGif(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeGifFramesPartitioned(
      Tables.parquet(spark, graft.tools.GifFixture.Path), "clip_id", "gif")
      .toDF()
      .select(col("id").as("clip_id"), col("n_frames"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("total_delay_cs"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL video-container probe, end-to-end gated — the MP4 rung of
   *  the [[mmDecodePng]]/[[mmDecodeWav]] family:
   *  [[MultimodalOps.probeMp4Partitioned]] (strict ISO BMFF box walk,
   *  partition-batched) over the committed deterministic container
   *  corpus (`tools.Mp4Fixture`), emitting brand / movie timescale /
   *  integer-ms duration / track count / mdat payload size — the
   *  routing metadata a curation pipeline extracts BEFORE shipping
   *  payloads to a transcode farm (no video codec is JDK-public, so
   *  container structure is the honest scope). Oracle = the
   *  generator's raw-definition arithmetic as VALUES literals; passes
   *  iff the committed boxes genuinely round-trip the layout. Ignores
   *  sfDir by construction (the fixture is scale-free). */
  def mmProbeMp4(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.probeMp4Partitioned(
      Tables.parquet(spark, graft.tools.Mp4Fixture.Path), "clip_id", "mp4")
      .toDF()
      .select(col("id").as("clip_id"), col("brand"), col("timescale"),
        col("duration_ms"), col("n_tracks"), col("mdat_bytes"))

  /** REAL video FRAME decode, end-to-end gated — the decoded-pixels
   *  rung above [[mmProbeMp4]]'s container probe:
   *  [[MultimodalOps.decodeMjpegAviPartitioned]] (strict RIFF walk +
   *  per-frame `javax.imageio` JPEG decode, partition-batched) over
   *  the committed deterministic MJPEG-in-AVI corpus
   *  (`tools.AviFixture`), emitting frame count, frame dimensions,
   *  the container frame clock, and a 16-bin luminance histogram over
   *  EVERY frame's pixels. Lossiness is engineered out by the fixture
   *  (flat mid-bin gray blocks, the [[mmDecodeJpeg]] device), frames
   *  differ within a clip (first-frame-times-n fails), and the oracle
   *  stays raw block-definition arithmetic with an exact hash
   *  compare. Ignores sfDir (scale-free fixture). */
  def mmFramesMjpeg(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeMjpegAviPartitioned(
      Tables.parquet(spark, graft.tools.AviFixture.Path), "clip_id", "avi")
      .toDF()
      .select(col("id").as("clip_id"), col("n_frames"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("us_per_frame"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))

  /** REAL video FRAME decode from MP4 — the third ingested video
   *  container's decoded-pixels rung, closing [[mmProbeMp4]]'s
   *  routing gap for the one codec class the JDK CAN decode
   *  ([[MultimodalOps.decodeMjpegMp4Partitioned]]: strict ISO BMFF
   *  sample-table walk — stsd codec gate, stts clock, stsc×stco
   *  chunk expansion, every sample bounds-checked inside mdat — then
   *  the exact per-frame JPEG decode the AVI walk owns) over the
   *  committed [[graft.tools.Mp4RemuxFixture]]. Same output contract
   *  as [[mmFramesMjpeg]]; the fixture's codec decoy ('avc1' stsd)
   *  emits its quarantine sentinel row, and the ORACLE pins that row
   *  too — the routing boundary is part of the verified surface.
   *  Lossiness engineered out by the shared flat mid-bin mosaics.
   *  Ignores sfDir (scale-free fixture). */
  def mmFramesMp4(spark: SparkSession, sfDir: String): DataFrame =
    MultimodalOps.decodeMjpegMp4Partitioned(
      Tables.parquet(spark, graft.tools.Mp4RemuxFixture.Path),
      "clip_id", "video")
      .toDF()
      .select(col("id").as("clip_id"), col("n_frames"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("us_per_frame"),
        array_join(transform(col("lum_hist"), _.cast("string")), ",")
          .as("hist_csv"))
}
