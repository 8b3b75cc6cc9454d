package graft

import graft.SparkSpec

/** Plan-shape regression guards: the physical plans the scale design
  * depends on (SCALE.md). Runs against the smoke data — plan shapes
  * don't depend on input size for these checks. */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** For each graft kernel class (a class in `graft.functions`), the
    * copies of its most-copied call across any Filter, the Project
    * directly above it and the Projects directly below it, in the
    * executed plan `plan` (for a batch query, the AQE final plan after
    * it runs: planning can re-inline an alias the optimized plan reads
    * once). */
  private def kernelCopies(plan: org.apache.spark.sql.execution.SparkPlan)
      : Map[String, Int] = {
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => (other.children ++ other.subqueries).flatMap(nodes)
    })
    val all = nodes(plan)
    all.collect { case f: FilterExec => f }.flatMap { f =>
      val above = all.collect { case p: ProjectExec if p.child eq f => p.projectList }
      val below = Iterator.iterate(f.child)(_.children.headOption.orNull)
        .takeWhile(_.isInstanceOf[ProjectExec])
        .flatMap(_.asInstanceOf[ProjectExec].projectList)
      (above.flatten ++ below :+ f.condition).flatMap(_.collect {
        case k if k.getClass.getName.startsWith("graft.functions.") => k
      }).groupBy(_.canonicalized).values
        .map(ks => ks.head.getClass.getSimpleName -> ks.size)
    }.groupMapReduce(_._1)(_._2)(math.max)
  }

  /** The executed plan of `name`, run once at the smoke scale. */
  private def queryPlan(name: String): org.apache.spark.sql.execution.SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan
  }

  /** The executed plan of topology `name`'s last trigger over 2000 of its
    * feed's lines through the memory sink, or None for a foreachBatch
    * form. */
  private def topologyPlan(name: String): Option[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.functions.{col, current_timestamp}
    val entry = Topologies(name)
    val indexes = spark.readStream.format(classOf[sources.ThrottledSeqSource].getName)
      .option("totalRows", 2000L).load()
      .select(current_timestamp().as("ts"), col("value"))
    entry.build(spark, sources.Generators.feedLines(indexes, entry.feed),
        Topologies.Options(Map.empty)) match {
      case Topologies.Streamed(df, mode) =>
        val q = streaming.StreamOps.toMemory(df, s"plan_${name}_${System.nanoTime}",
          mode, tempDir("plan-shape"))
        try {
          q.processAllAvailable()
          Some(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
            .lastExecution.executedPlan)
        } finally q.stop()
      case _: Topologies.PerTrigger => None
    }
  }

  test("every declared query and streamed topology evaluates each graft " +
      "kernel call at most once across a Filter and the Projects " +
      "around it") {
    val plans = SparkEntry.queries.keysIterator.map(n => n -> queryPlan(n)) ++
      Topologies.table.keysIterator.flatMap(n => topologyPlan(n).map(s"topology $n" -> _))
    val repeated = plans.flatMap { case (name, plan) =>
      kernelCopies(plan).filter(_._2 > 1).map { case (k, n) => s"$name: $k x$n" }
    }.toList
    assert(repeated.isEmpty, repeated.mkString("\n"))
  }

  test("the gates whose pushed-down predicates copied a kernel into " +
      "every term now evaluate it once: gopher_gate (was 14 copies), " +
      "quality_cut (9), dataclean (5), pageview_count (5), " +
      "outlier_gate's SynthEmbedding (25)") {
    Seq("gopher_gate" -> "GopherStats", "quality_cut" -> "QualityStats",
        "dataclean" -> "PageViewFields", "pageview_count" -> "PageViewFields",
        "outlier_gate" -> "SynthEmbedding").foreach { case (name, kernel) =>
      assert(topologyPlan(name).map(kernelCopies(_).get(kernel)) == Some(Some(1)),
        s"$name: $kernel")
    }
  }

  test("plan trees stay bounded (no exponential expression blowup)") {
    // round-2 regression: a when-chain fold that referenced its own
    // accumulator twice per step made sim_ivf's plan 2^16x larger (a
    // 2 GiB plan string) and hung the bench at plan stringification
    SparkEntry.queries.keys.foreach { name =>
      val len = plan(name).length
      assert(len < 2 * 1000 * 1000,
        s"$name plan string is $len chars - expression tree blowup?")
    }
  }

  test("no accidental cartesian products anywhere") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("pair-generation joins are broadcast nested-loop (theta joins)") {
    Seq("flight_dist", "embed_neardup").foreach { name =>
      assert(plan(name).contains("BroadcastNestedLoopJoin"), name)
    }
  }

  test("analytic dim joins broadcast (no shuffled fact-dim join)") {
    val p = plan("q_revenue_by_region")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ")
  }

  test("dedup candidate joins are hash equi-joins on 64-bit keys") {
    val p = plan("dedup_ngram")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("decontaminate joins the broadcast benchmark set, never shuffling " +
      "corpus shingles") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), "benchmark set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus shingles shuffled for the benchmark join:\n" + p)
  }

  test("decontaminate_bloom probes with ZERO exchanges and ZERO joins " +
      "(the corpus is scanned once and never shuffled)") {
    // the filter build runs its own bounded jobs before this plan
    // exists; the RETURNED probing plan must be scan -> project ->
    // filter, fully pipelined - the whole point of the Bloom form
    val p = plan("decontaminate_bloom")
    assert(!p.contains("Exchange"), "bloom probe plan shuffles:\n" + p)
    assert(!p.contains("Join"), "bloom probe plan joins:\n" + p)
  }

  test("fused row-local projections plan zero exchanges " +
      "(text_linefilter, text_normalize)") {
    Seq("text_linefilter", "text_normalize").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name shuffles a row-local pass:\n" + p)
      assert(!p.contains("Join"), s"$name joins:\n" + p)
    }
  }

  test("dedup_normalized shuffles only the md5 group key (one exchange, " +
      "no join - the kernel fuses into the scan)") {
    val p = plan("dedup_normalized")
    assert(p.split("Exchange").length - 1 == 1,
      "expected exactly one exchange (the group-by):\n" + p)
    assert(!p.contains("Join"), "dedup_normalized joins:\n" + p)
  }

  test("aggregation queries keep two-phase partial aggregation") {
    // partial_count markers show map-side combine before the shuffle
    Seq("wordcount", "rolling_count", "pageview_count").foreach { name =>
      assert(plan(name).contains("partial_count"), s"$name lost partial agg")
    }
  }

  test("asOfJoin plans as a single-pass window, never a join") {
    val p = plan("asof_join")
    assert(!p.contains("Join"), "as-of degraded to a join:\n" + p)
    assert(p.contains("Window"), "expected the forward-fill window")
  }

  test("bandedRangeJoin plans as an equi-join, never nested-loop") {
    val p = plan("range_join")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "band join must be a hash/sort-merge equi-join:\n" + p)
  }

  test("the co-occurrence graph family reads the SHARED bucketed " +
      "coPairsTable artifact: one derivation per session (no rebuild " +
      "between consumers), the backbone weight filter is PUSHED to the " +
      "bucketed scan, and u-keyed aggregation over the table plans no " +
      "Exchange (bucket layout = HashPartitioning)") {
    import graft.queries.AnalyticsQueries
    import org.apache.spark.sql.functions.{col, sum}
    // consumers checkpoint eagerly at construction, so pin the INPUT
    // frames they consume rather than the checkpoint-rooted outputs
    val src = AnalyticsQueries.coPairsTable(spark, sfDir)
      .select("u", "v").queryExecution.executedPlan.toString
    assert(src.contains("graft_graph_copairs"),
      "triangles/kcore input must scan the artifact:\n" + src)
    assert(!src.contains("lineitem"),
      "the per-order self-join must not re-derive:\n" + src)
    val cb = AnalyticsQueries.coBackbone(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(cb.contains("graft_graph_copairs") && !cb.contains("lineitem"),
      "the lpa/bfs backbone must scan the artifact:\n" + cb)
    assert(cb.contains("GreaterThanOrEqual(w,2"),
      "the weight cut must reach PushedFilters:\n" + cb)
    // single derivation: running two consumers must not rewrite the
    // table (the memo guarantees once per (SparkContext, sfDir));
    // the name carries the applicationId (cross-process isolation)
    val warehouse = new java.io.File(new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath,
      ("graft_graph_copairs_" + sfDir.replaceAll("[^a-zA-Z0-9]+", "_") +
        "_" + spark.sparkContext.applicationId
          .replaceAll("[^a-zA-Z0-9]+", "_")).toLowerCase)
    assert(warehouse.exists, s"expected table dir at $warehouse")
    val stamp = warehouse.lastModified
    SparkEntry.queries("graph_kcore")(spark, sfDir).collect()
    SparkEntry.queries("graph_triangles")(spark, sfDir).collect()
    assert(warehouse.lastModified == stamp,
      "a consumer rebuilt the shared artifact")
    // the zero-shuffle read the bucket layout buys
    val agg = AnalyticsQueries.coPairsTable(spark, sfDir)
      .groupBy("u").agg(sum(col("w")))
      .queryExecution.executedPlan.toString
    assert(!agg.contains("Exchange"),
      "u-keyed agg over the bucketed table must not shuffle:\n" + agg)
  }

  test("mm_phash_neardup verifies candidates over a BANDED equi-join " +
      "(block-pair keys), never an all-pairs join") {
    val p = plan("mm_phash_neardup")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "hamming candidates must come from the (tbl, key) equi-join:\n" + p)
    // the 28-way band explode is present (posexplode -> Generate)
    assert(p.contains("Generate"),
      "expected the block-pair key explode:\n" + p)
  }

  test("pivot with explicit values plans ONE aggregate pass, no re-scans") {
    val p = plan("q_pivot")
    // one scan of events; pivot must not expand to per-type scans
    assert("FileScan parquet".r.findAllIn(p).size == 1, "pivot re-scans:\n" + p)
  }

  test("IVF probe join is a broadcast hash equi-join; assignment is row-local") {
    val p = plan("sim_ivf")
    assert(p.contains("BroadcastHashJoin"), "probe join must broadcast:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IVF must never fall back to all-pairs:\n" + p)
  }

  test("sample_dsir joins the broadcast B-row model and prunes its " +
      "global top-N rank via TakeOrderedAndProject (the global-window " +
      "form of the WindowGroupLimit contract: per-partition top-N, one " +
      "ordered take — never a full global sort)") {
    val p = plan("sample_dsir")
    assert(p.contains("BroadcastHashJoin"), "model join must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "corpus features shuffled for the 64-row model join:\n" + p)
    assert(p.contains("TakeOrderedAndProject(limit=100"),
      "top-N rank must prune via TakeOrderedAndProject:\n" + p)
  }

  test("pack_eval reads the corpus exactly once (the shared token+cum " +
      "frame, no second scan for the rollup)") {
    val p = plan("pack_eval")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "the monitor must not re-scan the corpus:\n" + p)
  }

  test("SQ8 decodes row-locally against the BROADCAST query table " +
      "(corpus floats never shuffle before scoring) and prunes the " +
      "rank via WindowGroupLimit") {
    val p = plan("sim_sq8")
    // brute-force-over-decoded is the intended scoring: a broadcast
    // nested-loop against the |queries|-row side, never a shuffled join
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query side must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus must not shuffle for the tiny query join:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "top-k rank must prune via WindowGroupLimit:\n" + p)
    // decode is fused into the scan projection: exactly two corpus scans
    // (one for the recon side, one for the filtered query side) — the
    // min/max model pass happens eagerly at build time, outside this plan
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "decode must fuse into the corpus scan, not re-scan:\n" + p)
  }

  test("dq_check's constraint battery scans each table once per role " +
      "(agg + RI side), never once per constraint") {
    val p = plan("dq_check")
    // orders: the conditional-sum agg + the RI build side; lineitem:
    // the rowcount agg + the RI probe — four scans total, NOT 6x
    assert("Scan parquet".r.findAllIn(p).size <= 4,
      "constraint battery re-scans per constraint:\n" + p)
  }

  test("docsim prunes postings BEFORE the self-join and cuts the " +
      "global top-N via TakeOrderedAndProject, never a global sort") {
    val p = plan("text_docsim")
    assert(p.contains("TakeOrderedAndProject"),
      "top-N must prune via TakeOrderedAndProject:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the pair join must stay a term equi-join:\n" + p)
    // r21: the weighted postings are SNAPSHOTTED (term-partitioned
    // localCheckpoint) before the pair self-join, so the df cap — the
    // decisive scale guard — lives in the snapshot-BUILD plan, not the
    // consuming plan. Pin both halves:
    // (1) the consuming pair join reads the snapshot, which by
    //     construction puts the whole postings derivation (cap
    //     included) before the C(df, 2) fan-out;
    val pairJoin = "Join \\[term[^\\n]*doc_id#\\d+L? < doc_id".r
      .findFirstMatchIn(p)
    assert(pairJoin.isDefined, "expected the doc_id< pair join:\n" + p)
    assert(p.contains("Scan ExistingRDD"),
      "the pair join must consume the postings snapshot:\n" + p)
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      "in-plan corpus re-scan: the postings snapshot must be the only " +
        "source:\n" + p)
    // (2) the snapshot-build plan carries the cap filter below its
    //     weight projection. The cap literal depends on corpus size —
    //     recompute it from the actual smoke corpus.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val cap = math.floor(n * graft.queries.PipelineQueries.DocsimDfFrac)
      .toLong
    val build = graft.queries.PipelineQueries
      .docsimPostings(docs, n, cap)
      .queryExecution.executedPlan.toString
    assert(s"Filter [^\\n]*dfreq#\\d+L? <= $cap".r
      .findFirstMatchIn(build).isDefined,
      s"expected the dfreq <= $cap cap filter in the postings " +
        s"build:\n" + build)
  }

  test("re-rank fetches full-precision vectors via the BROADCAST " +
      "candidate equi-join (corpus never shuffles for stage 2) and " +
      "prunes both stages' ranks via WindowGroupLimit") {
    val p = plan("sim_rerank")
    assert(p.contains("BroadcastHashJoin"),
      "candidate fetch must be a broadcast equi-join:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus must not shuffle for the tiny candidate/query joins:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "rank cuts must prune via WindowGroupLimit:\n" + p)
  }

  test("IVF-PQ scoring joins the broadcast probe table on cell; codes " +
      "and ADC lookups never fall back to all-pairs") {
    val p = plan("sim_ivfpq")
    assert(p.contains("BroadcastHashJoin"), "probe join must broadcast:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IVF-PQ must never fall back to all-pairs:\n" + p)
  }

  test("LM scorers scan the corpus exactly twice (learn, score) and " +
      "broadcast the model for the apply join") {
    for (q <- Seq("text_unigram_nll", "text_bigram_nll")) {
      val p = plan(q)
      // the learn pass lives behind the model snapshot (lazy
      // localCheckpoint — r21: the normalizer scalar is an aggregate
      // branch over it, so without the snapshot the model subtree
      // would re-derive per consumer); in-plan the corpus is scanned
      // exactly once (score) and the model reads the snapshot
      assert("FileScan parquet".r.findAllIn(p).size == 1,
        s"$q must scan the corpus once in-plan (score); the learn " +
          s"pass is the model snapshot:\n" + p)
      assert(p.contains("Scan ExistingRDD"),
        s"$q model side must read the checkpoint snapshot:\n" + p)
      assert(p.contains("BroadcastHashJoin"),
        s"$q model join must broadcast:\n" + p)
    }
  }

  test("dedup_spans evaluates the gram kernel ONCE and shuffles only " +
      "fixed-width triples (single-pass window shape, no self-join)") {
    val p = plan("dedup_spans")
    // one Generate = one kernel pass over the corpus; the join-based
    // formulation re-evaluates the exploded subtree per consumer
    assert("gramhashes".r.findAllIn(p).size == 1,
      "gram kernel must run exactly once:\n" + p)
    // the only hash exchanges are the two window keys (gh, then doc_id);
    // everything after the Generate carries (doc_id, pos, gh) triples
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "expected exactly gh + doc_id exchanges:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "span stats must not self-join the gram stream:\n" + p)
  }

  test("dedup_spans_maximal keeps the dedup_spans contract: one gram " +
      "kernel pass, two fixed-width exchanges, no self-join — the run " +
      "and doc rollups reuse the doc_id window partitioning") {
    val p = plan("dedup_spans_maximal")
    assert("gramhashes".r.findAllIn(p).size == 1,
      "gram kernel must run exactly once:\n" + p)
    // gh count-window + doc_id run-window; the (doc_id, grp) run
    // rollup and the doc_id span rollup are both satisfied by the
    // doc_id hash partitioning already in place
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "expected exactly gh + doc_id exchanges:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "maximal spans must not self-join the gram stream:\n" + p)
  }

  test("dedup_spans_removal: one gram pass; past the islands window " +
      "only RUN-level fixed-width frames shuffle (fp survivorship agg " +
      "+ join-back + interval rollup); reconstruction is a row-local " +
      "filter, no self-join") {
    import org.apache.spark.sql.functions.col
    // full lineage (materialize = identity): the survivorship is a
    // two-phase min AGGREGATE + join-back (the skew-safe form,
    // SkewSpec), whose two consumers would each re-run the gram
    // subtree — hence the production localCheckpoint below. Here the
    // un-cut plan shows the whole shape at once.
    val full = graft.ops.DedupOps.removeRepeatedSpans(
      graft.model.Tables.documents(spark, sfDir),
      col("doc_id"), col("text"),
      n = graft.queries.PipelineQueries.SpanN,
      minLen = graft.queries.PipelineQueries.MaxSpanL,
      materialize = identity)
      .queryExecution.executedPlan.toString
    assert(!full.linesIterator.exists(l =>
        l.contains("row_number") && l.contains("fp#")),
      "fp survivorship must be the min aggregate, not a window sort:\n" + full)
    assert(!full.contains("BroadcastNestedLoopJoin") &&
      !full.contains("CartesianProduct"),
      "all joins must be equi-joins:\n" + full)
    // production form: the run relation is checkpointed ONCE — the
    // final plan reads the materialized runs (no gram kernel re-run
    // past the cut) and shuffles only run-level fixed-width frames
    val p = plan("dedup_spans_removal")
    assert(!p.contains("gramhashes"),
      "gram kernel must not re-run past the checkpoint cut:\n" + p)
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "survivorship must consume the materialized run relation:\n" + p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "reconstruction must re-join by id (broadcast), never self-join:\n" + p)
  }

  test("dedup_paragraphs cuts units once and shuffles only fixed-width " +
      "triples (window + rollup exchanges; text stays scan-side)") {
    val p = plan("dedup_paragraphs")
    // one Generate = one unit-cut pass; reconstruction re-slices the
    // corpus row-locally instead of re-exploding it
    assert("Generate explode".r.findAllIn(p).size == 1,
      "unit cut must run exactly once:\n" + p)
    // the only hash exchanges are the survivorship window key (uh) and
    // the per-doc rollup (doc_id); the id-join of the rollup back to
    // the corpus broadcasts locally (bucketed co-partition at scale)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "expected exactly uh + doc_id exchanges:\n" + p)
  }

  test("embed_project is a pure projection: zero exchanges, pruned scan") {
    val p = plan("embed_project")
    assert(!p.contains("Exchange"), "projection must not shuffle:\n" + p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding"),
      "scan must read only (vec_id, embedding):\n" + p)
  }

  test("mix_sample broadcasts thresholds; the corpus side never shuffles") {
    val p = plan("mix_sample")
    // the only exchanges belong to the source-sized threshold frame:
    // one two-phase agg on source + one SinglePartition window over it
    assert(p.contains("BroadcastHashJoin"),
      "thresholds must broadcast-join the corpus:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "expected only the source-totals agg exchange:\n" + p)
  }

  test("q_anomaly broadcasts the per-type stats; events never shuffle") {
    val p = plan("q_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      "stats frame must broadcast-join the events:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "events shuffled for the stats join:\n" + p)
    // the only hash exchange is the |event_types|-group moment agg
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "expected only the stats-agg exchange:\n" + p)
  }

  test("q_funnel pushes each stage's type filter to the scan and " +
      "broadcasts the qualifying-user frames") {
    val p = plan("q_funnel")
    assert(p.contains("BroadcastHashJoin"),
      "per-user frames must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "events shuffled for a stage join:\n" + p)
    assert("PushedFilters: \\[.*EqualTo\\(event_type".r.findFirstIn(p).isDefined,
      "stage type filter not pushed to the parquet scan:\n" + p)
  }

  test("corpus_report is one scan + one grouped agg (no joins, no " +
      "second corpus pass)") {
    val p = plan("corpus_report")
    assert(!p.contains("Join"), "the dashboard must not join:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "expected exactly the |sources|-group agg exchange:\n" + p)
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "corpus scanned more than once:\n" + p)
  }

  test("text_bm25 filters the postings to query terms below the tf " +
      "agg, broadcasts df/avgdl/queries, and prunes the rank via " +
      "WindowGroupLimit") {
    val p = plan("text_bm25")
    assert(!p.contains("SortMergeJoin"),
      "corpus postings shuffled for a broadcastable join:\n" + p)
    assert(p.contains("WindowGroupLimit"),
      "top-k rank must prune via WindowGroupLimit:\n" + p)
    // r21: the restricted postings are SNAPSHOTTED (lazy
    // localCheckpoint) so the scoring plan consumes Scan ExistingRDD;
    // the query-term restriction under the tf agg lives in the
    // snapshot-BUILD plan. Pin both halves:
    assert(p.contains("Scan ExistingRDD"),
      "scoring must consume the postings snapshot:\n" + p)
    // the query-term restriction must sit UNDER the tf aggregation,
    // not above it — since r16's bm25Scores factoring it is a
    // broadcast semi-join on term (shared with sim_hybrid's
    // corpus-derived query terms) rather than an isin literal; the
    // explode must meet it before the (doc, term) shuffle
    val qterms = graft.queries.PipelineQueries.Bm25Queries
      .flatMap { case (q, ts) => ts.map((q, _)) }
    val build = graft.queries.PipelineQueries
      .bm25Postings(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        spark.createDataFrame(qterms).toDF("qid", "term"))
      .queryExecution.executedPlan.toString
    val aggIdx = build.indexOf("HashAggregate(keys=[doc_id")
    assert(aggIdx >= 0, "expected the tf agg:\n" + build)
    assert("BroadcastHashJoin \\[term#\\d+\\]".r.findAllMatchIn(build)
      .exists(_.start > aggIdx),
      "query-term broadcast restriction must appear BELOW the tf agg " +
        "(printed after it, as the agg's subtree):\n" + build)
  }

  test("knn_graph joins candidates as id pairs (hash equi-joins, " +
      "no broadcast nested loop, no cartesian)") {
    val p = plan("knn_graph")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate generation must stay an equi-join:\n" + p)
  }

  test("scans prune columns (wordcount reads only text)") {
    val p = SparkEntry.queries("wordcount")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<text:string>"))
  }

  test("sol fuses to zero exchanges; sol_shuffled pays exactly one") {
    assert(!plan("sol").contains("Exchange"), "sol must stay fused")
    // CollapseRepartition merges the adjacent identity hops: Storm's
    // levels-1 identical network exchanges survive as ONE full-data
    // exchange — the unit serialization+transfer cost under the bench
    val hops = "Exchange RoundRobinPartitioning".r
      .findAllIn(plan("sol_shuffled")).size
    assert(hops == 1, s"expected the one surviving exchange, got $hops")
  }

  test("rolling_sort_lastn takes last-N via TakeOrderedAndProject, no window") {
    val p = plan("rolling_sort_lastn")
    assert(p.contains("TakeOrderedAndProject"),
      "last-N must plan per-partition top-N + merge, not a global sort:\n" + p)
    assert(!p.contains("Window"), "rank must come from array_sort, not WindowExec")
  }

  test("flight_dist_wire keeps the broadcast theta-join snapshot shape") {
    val p = plan("flight_dist_wire")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_stratified bounds per-group sort state via WindowGroupLimit") {
    val p = plan("sample_stratified")
    // the rn <= N filter must push a group limit below the shuffle:
    // each map task forwards at most N rows per stratum, so state is
    // N x partitions — never the stratum size
    assert(p.contains("WindowGroupLimit"),
      "rank filter did not plan a WindowGroupLimit:\n" + p)
  }

  test("sample_group_weighted pushes a partial group limit below the " +
      "source exchange (two-phase WindowGroupLimit)") {
    val p = plan("sample_group_weighted")
    // partial WindowGroupLimit before the exchange + final after: each
    // map task forwards at most N rows per source, so the shuffle and
    // the final sort carry N x sources rows, never the corpus
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      "per-source A-ES cut must plan a two-phase WindowGroupLimit:\n" + p)
  }

  test("q_rank_funcs ranks via range partitions, never a per-type window sort") {
    val p = plan("q_rank_funcs")
    // the two-pass rank: a rangepartitioning exchange spreads the sort
    assert(p.contains("Exchange rangepartitioning"),
      "expected the range-partitioned first pass:\n" + p)
    // and no full-data window may partition on event_type ALONE — five
    // types = five window partitions = one task sorting 20% of the
    // corpus (the round-7 scale-killer this query was rebuilt to avoid).
    // The one legit type-alone window (boundary offsets over the tiny
    // counts aggregate) orders by pid, so match the bad shape exactly:
    // partition [event_type] ordered by [value, ...]
    val badWindow = "\\], \\[event_type#\\d+\\], \\[value#".r
    assert(badWindow.findFirstIn(p).isEmpty,
      "full-data window partitioned by low-cardinality event_type alone:\n" + p)
    // rank arithmetic replaces the rank window functions entirely
    assert(!p.contains("ntile") && !p.contains("percent_rank") &&
      !p.contains("cume_dist"),
      "rank window functions crept back in:\n" + p)
  }

  test("q_rank_funcs materializes its range shuffle ONCE (exchange reuse)") {
    // distributionRanks' correctness depends on the counts branch and
    // the main branch seeing the SAME range boundaries: range
    // partitioning samples with an RDD-derived seed, so if exchange
    // reuse ever fails to unify the two identical subtrees the two
    // executions could draw different boundaries and the broadcast
    // offsets would join against wrong pids, silently mis-ranking.
    // Guard: after execution, the final plan must hold exactly one
    // IDENTITY-distinct rangepartitioning exchange, however many times
    // it is referenced (ReusedExchange / reused query stage).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val df = SparkEntry.queries("q_rank_funcs")(spark, sfDir)
    // collect() finalizes THIS DataFrame's adaptive plan (a write would
    // execute a separate QueryExecution and leave this one un-staged)
    df.collect()
    val distinct = scala.collection.mutable.Set[Int]()
    var refs = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: ShuffleExchangeExec
          if s.outputPartitioning.isInstanceOf[RangePartitioning] =>
        refs += 1
        distinct += System.identityHashCode(s)
        s.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    assert(refs >= 2,
      s"expected the range exchange to be referenced by both branches, saw $refs")
    assert(distinct.size == 1,
      s"range shuffle materialized ${distinct.size} times — boundary seeds " +
        "may diverge between the counts and main branches")
  }

  test("fan-out repartition is conditional on scan width (no full-text " +
      "shuffle at scale)") {
    import org.apache.spark.sql.functions.col
    val parts = spark.sessionState.conf.numShufflePartitions
    // narrow input (one slice, the local-parquet shape): fanOut must
    // insert the round-robin exchange so the heavy kernel parallelizes
    val narrow = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq((1L, "a b c d"), (2L, "b c d e")), 1)).toDF("doc_id", "text")
    val narrowPlan =
      ops.FanOut.fanOut(narrow).queryExecution.executedPlan.toString
    assert(narrowPlan.contains("RoundRobinPartitioning"),
      "narrow scan did not fan out:\n" + narrowPlan)
    // wide input (>= shuffle parallelism, the 100 TB scan shape):
    // fanOut is the identity — no exchange of any kind in the plan
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 16L).map(i => (i, "a b c d e")), parts)).toDF("doc_id", "text")
    val widePlan =
      ops.FanOut.fanOut(wide).queryExecution.executedPlan.toString
    assert(!widePlan.contains("Exchange"),
      "pre-widened input still shuffled:\n" + widePlan)
    // end-to-end through the heaviest consumer: a pre-widened documents
    // frame reaches the shingle kernel with NO text-carrying round-robin
    // exchange — the only exchanges left are the fixed-width (id, minima)
    // aggregation shuffles downstream of the kernel
    val sigPlan = ops.DedupOps
      .minhashSignatures(wide, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("RoundRobinPartitioning"),
      "wide input re-shuffled before the shingle stage:\n" + sigPlan)
  }

  test("fanOut enforces its scan-stage contract: a scan passes, a frame " +
      "whose plan already holds an exchange throws before any job runs") {
    import org.apache.spark.sql.functions.col
    val scan = graft.model.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    ops.FanOut.fanOut(scan)
    val grouped = scan.groupBy(col("doc_id")).count()
    val (err, jobs) = countJobs(intercept[IllegalArgumentException](
      ops.FanOut.fanOut(grouped)))
    assert(err.getMessage.contains("Exchange"), err.getMessage)
    assert(jobs == 0, s"the rejected frame still ran $jobs job(s)")
  }

  test("text_langid_nb's apply side is ZERO-exchange: the only shuffles " +
      "in the plan belong to the train half (the bigram agg), never to " +
      "the kernel scoring pass") {
    val p = plan("text_langid_nb")
    // the kernel projection (scan -> filter -> project) must contain
    // the NbLangId call and no Window/rank machinery — the argmax
    // happens inside the kernel, not in a plan operator
    assert(p.toLowerCase.contains("nblangid"),
      "apply must score through the native kernel:\n" + p)
    assert(!p.contains("Window"),
      "the argmax window is gone — it lives inside the kernel:\n" + p)
    // the apply never joins: the model is a broadcast ARTIFACT (a
    // reference object in codegen), not a relation
    assert(!p.contains("SortMergeJoin"),
      "nothing in this plan should sort-merge:\n" + p)
  }

  test("sim_hybrid's ONLY sort-merge join is the full-outer fusion of " +
      "the two rank-cut frames — every corpus-sided join broadcasts, " +
      "and both source rank cuts WindowGroupLimit-prune BELOW it") {
    val p = plan("sim_hybrid")
    // full-outer cannot broadcast in Spark; it is fine here because
    // its inputs are the two <= |queries|*cand-row rank-cut frames,
    // which the assertions below prove
    val smjs = "SortMergeJoin .*, (\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(smjs == Seq("FullOuter"),
      s"only the tiny fusion join may sort-merge, got $smjs:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "no cartesian products:\n" + p)
    // both source rank cuts (cand = 20) sit BELOW the fusion join in
    // the tree (printed after it), so the SMJ consumes rank-bounded
    // frames, not corpus-sized ones
    val smjIdx = p.indexOf("SortMergeJoin")
    // count FINAL-mode nodes only: ONE cut plans a Partial+Final PAIR
    // (the sample_group_weighted precedent), so a raw >= 2 would stay
    // green with a single cut — the vacuous-assert class
    assert("WindowGroupLimit .*row_number\\(\\), 20, Final".r
      .findAllMatchIn(p).count(_.start > smjIdx) >= 2,
      "BOTH rank cuts must prune below the fusion join:\n" + p)
  }

  test("q_linreg reduces all six OLS statistics in ONE scan + one " +
      "two-phase aggregate (no window, no join, no second pass)") {
    val p = plan("q_linreg")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "documents must be scanned once:\n" + p)
    assert(!p.contains("Window") && !p.contains("Join"),
      "sufficient statistics need no window or join:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size == 2,
      "partial+final hash aggregate pair expected:\n" + p)
  }

  test("text_collocations cuts with TakeOrderedAndProject (never a " +
      "global sort) and scans the corpus ONCE in-plan (the unigram " +
      "model is checkpoint-materialized, feeding both joins)") {
    val p = plan("text_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      "top-K must be a streaming cut:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "the pair relation must never shuffle for the model joins:\n" + p)
    // the unigram build scanned the corpus once at checkpoint time;
    // the final plan scans it once more for pairs — a second in-plan
    // scan means the model subtree is being re-derived per consumer
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "one in-plan corpus scan (pairs):\n" + p)
  }

  test("text_bigram_kn derives the whole KN model from the bigram " +
      "relation alone: one in-plan corpus scan (score) + the model " +
      "snapshot (learn), model joins broadcast") {
    val p = plan("text_bigram_kn")
    // r21: the bigram TYPE relation is snapshot once (lazy
    // localCheckpoint) and feeds both the windowed model rows and the
    // T scalar — the corpus itself is scanned once in-plan (score)
    // and once at snapshot time (learn), the same two total passes
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "one in-plan corpus scan (score); learn is the snapshot:\n" + p)
    assert(p.contains("Scan ExistingRDD"),
      "the KN model must read the type-relation snapshot:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "the vocab^2-bounded model must broadcast:\n" + p)
  }

  test("dedup_containment joins fixed-width shingle hashes, never " +
      "documents (the dedup_ngram equi-join contract)") {
    val p = plan("dedup_containment")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("mm_video_neardup generates candidates over the frame-ALIGNED " +
      "banded equi-join (never all-pairs, never a cross-position " +
      "theta join)") {
    val p = plan("mm_video_neardup")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("er_matches: catalog block index broadcasts and the mention side " +
      "never shuffles (row-local argmin, no per-mention groupBy)") {
    val p = plan("er_matches")
    assert(p.contains("BroadcastHashJoin"),
      "block index must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"),
      "mention-entity join degraded to SMJ:\n" + p)
    // only the CATALOG-sized aggregations may hash-exchange (distinct
    // names; one block-array collect PER BLOCKING PASS — prefix +
    // suffix since r19) — mentions flow scan -> two broadcast joins
    // -> project with zero exchanges
    val ex = "Exchange hashpartitioning".r.findAllMatchIn(p).length
    assert(ex <= 3, s"mention side shuffled ($ex hash exchanges):\n" + p)
  }
}
