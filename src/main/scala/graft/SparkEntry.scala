package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the beyond-reference
  * classes the north star requires) is declared here as a named query; for
  * each SQL-expressible one, `oracleSql` holds the equivalent ANSI SQL that
  * DuckDB runs over the same parquet tables.
  *
  * Column-name AND column-type parity with the oracle is deliberate:
  * aggregates are aliased identically on both sides; integer-ish results are
  * cast to the same width (DuckDB's sum(BIGINT)→HUGEINT, row_number→BIGINT,
  * double→BIGINT cast rounds-not-truncates are all worked around explicitly);
  * money sums go through DECIMAL(18,2) on both sides so they are exact and
  * independent of accumulation order (see Relational.dsum).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped: 3-way join + exact-decimal aggregation + top-k.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3JoinAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference-implemented algebra (SURVEY.md §2.1) ---
    "scan_read_files" -> (Relational.scan _),
    // CSV/JSON/ORC sink→source round-trips (reference README checkboxes;
    // oracle recomputes the projection from Parquet, so a hash match
    // proves value-exact fidelity through the text/typed formats)
    "scan_csv_roundtrip" -> (graft.sources.RoundTrip.scanCsv _),
    "scan_json_roundtrip" -> (graft.sources.RoundTrip.scanJson _),
    "scan_orc_roundtrip" -> (graft.sources.RoundTrip.scanOrc _),
    // schema drift across file generations (reference DEV_NOTES.md
    // "Allow for differences in schema"): added column + int→long
    // widening, normalized into ONE scan via a widen-merged read schema
    "scan_schema_drift" -> (graft.sources.SchemaDrift.scanSchemaDrift _),
    // decimal precision/scale drift widened in-scan (still ONE scan) and
    // partition-layout drift normalized as one scan per layout signature
    "scan_decimal_drift" -> (graft.sources.SchemaDrift.scanDecimalDrift _),
    "scan_partition_drift" -> (graft.sources.SchemaDrift.scanPartitionDrift _),
    // per-column drift classification (metadata-only; static oracle —
    // the planted generations make the expected report exact)
    "drift_report" -> (graft.sources.SchemaDrift.driftReportQuery _),
    // lake maintenance: small-file compaction (value-exact by oracle)
    // and contiguous row-id assignment without a one-partition window
    "compact_files" -> (Maintenance.compactFiles _),
    "assign_row_ids" -> (Maintenance.assignRowIds _),
    "filter_where" -> (Relational.filterWhere _),
    "project_expr" -> (Relational.projectExpr _),
    "sort_orderby" -> (Relational.sortOrderBy _),
    "limit_topk" -> (Relational.limitTopK _),
    "distinct_select" -> (Relational.distinctSelect _),
    // --- beyond-reference relational (SURVEY.md §2.3 / §7.3 step 5) ---
    "q1_agg" -> (Relational.q1Agg _),
    "agg_having" -> (Relational.aggHaving _),
    "rollup_agg" -> (Relational.rollupAgg _),
    "join_inner" -> (Relational.joinInner _),
    "join_left" -> (Relational.joinLeft _),
    "join_semi" -> (Relational.joinSemi _),
    "join_anti" -> (Relational.joinAnti _),
    "join_broadcast_dims" -> (Relational.joinBroadcastDims _),
    "q3_join_agg" -> (Relational.q3JoinAgg _),
    "window_rank" -> (Relational.windowRank _),
    "window_running" -> (Relational.windowRunning _),
    "setop_union" -> (Relational.setopUnion _),
    "setop_intersect" -> (Relational.setopIntersect _),
    "setop_except" -> (Relational.setopExcept _),
    "cte_query" -> (Relational.cteQuery _),
    "cte_recursive" -> (Relational.cteRecursive _),
    "case_cast_like" -> (Relational.caseCastLike _),
    "events_window" -> (Relational.eventsWindow _),
    "events_sessionize" -> (graft.streaming.EventStreams.eventsSessionize _),
    "events_attribution" -> (graft.streaming.EventStreams.eventsAttribution _),
    "events_enrich" -> (graft.streaming.EventStreams.eventsEnrich _),
    // two-source watermarked stream-stream LEFT OUTER join, batch twin
    // (same definition body runs in both modes — withWatermark is a
    // batch no-op); streaming path + state-bound proof in StreamingSpec
    "events_enrich_join" ->
      (graft.streaming.EventStreams.eventsEnrichJoin _),
    "events_funnel" -> (graft.streaming.EventStreams.eventsFunnel _),
    "events_retention" -> (graft.streaming.EventStreams.eventsRetention _),
    "length_filter" -> (Curation.lengthFilter _),
    "skew_diagnose" -> (Skew.skewDiagnose _),
    // custom physical operator: bounded per-key heaps instead of the
    // window's full per-partition sort (plans/GroupedTopK.scala)
    "grouped_topk" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      graft.plans.TopKPlans.groupedTopK(
        graft.sources.Tables.table(s, d, "orders"),
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_totalprice"))
    }),
    // --- second tranche: remaining joins, windows, aggregates, functions ---
    "join_cross" -> (RelationalExt.joinCross _),
    "join_right" -> (RelationalExt.joinRight _),
    "join_full_outer" -> (RelationalExt.joinFullOuter _),
    "setop_union_distinct" -> (RelationalExt.setopUnionDistinct _),
    "cube_agg" -> (RelationalExt.cubeAgg _),
    "window_lag_lead" -> (RelationalExt.windowLagLead _),
    "agg_stats" -> (RelationalExt.aggStats _),
    "agg_median" -> (RelationalExt.aggMedian _),
    "agg_collect" -> (RelationalExt.aggCollect _),
    "agg_approx_distinct" -> (RelationalExt.aggApproxDistinct _),
    "agg_approx_quantile" -> (RelationalExt.aggApproxQuantile _),
    "lang_sample" -> (Curation.langSample _),
    "date_functions" -> (RelationalExt.dateFunctions _),
    "string_functions" -> (RelationalExt.stringFunctions _),
    "offset_limit" -> (RelationalExt.offsetLimit _),
    "agg_topk_udaf" -> (RelationalExt.aggTopKUdaf _),
    "setop_except_all" -> (RelationalExt.setopExceptAll _),
    "setop_intersect_all" -> (RelationalExt.setopIntersectAll _),
    "pivot_agg" -> (RelationalExt.pivotAgg _),
    "join_asof" -> (RelationalExt.joinAsOf _),
    "explode_unnest" -> (RelationalExt.explodeUnnest _),
    "json_functions" -> (RelationalExt.jsonFunctions _),
    "grouping_sets" -> (RelationalExt.groupingSets _),
    "sort_nulls_first" -> (RelationalExt.sortNullsFirst _),
    "q5_local_supplier" -> (RelationalExt.q5LocalSupplier _),
    "q7_volume_shipping" -> (RelationalExt.q7VolumeShipping _),
    "q9_profit" -> (RelationalExt.q9Profit _),
    "q18_large_orders" -> (RelationalExt.q18LargeOrders _),
    "q21_suppliers_waiting" -> (RelationalExt.q21SuppliersWaiting _),
    "q13_custdist" -> (RelationalExt.q13CustDist _),
    "q17_small_qty_revenue" -> (RelationalExt.q17SmallQtyRevenue _),
    "q20_concentrated_suppliers" -> (RelationalExt.q20ConcentratedSuppliers _),
    "q4_priority_check" -> (RelationalExt.q4PriorityCheck _),
    "q6_forecast_revenue" -> (RelationalExt.q6ForecastRevenue _),
    "q8_market_share" -> (RelationalExt.q8MarketShare _),
    "q10_returned_items" -> (RelationalExt.q10ReturnedItems _),
    "q12_late_by_flag" -> (RelationalExt.q12LateByFlag _),
    "q14_promo_revenue" -> (RelationalExt.q14PromoRevenue _),
    "q15_top_supplier" -> (RelationalExt.q15TopSupplier _),
    "q19_disjunct_revenue" -> (RelationalExt.q19DiscountedRevenue _),
    "q22_sales_opportunity" -> (RelationalExt.q22SalesOpportunity _),
    "q2_min_cost_supplier" -> (RelationalExt.q2MinCostSupplier _),
    "q11_important_value" -> (RelationalExt.q11ImportantValue _),
    "q16_supplier_count" -> (RelationalExt.q16SupplierCount _),
    "join_salted" -> (Skew.joinSalted _),
    "agg_twophase" -> (Skew.aggTwoPhase _),
    "window_lag_skew" -> (Skew.windowLagSkew _),
    "window_rank_skew" -> ((s, d) => Skew.windowRankSkew(s, d)),
    "window_running_skew" -> (Skew.windowRunningSkew _),
    "window_range_skew" -> ((s, d) => Skew.windowRangeSkew(s, d)),
    "window_auto" -> (Skew.windowAuto _),
    "window_auto_rank" -> (Skew.windowAutoRank _),
    "window_auto_running" -> (Skew.windowAutoRunning _),
    "window_auto_range" -> (Skew.windowAutoRange _),
    "window_auto_events" -> (Skew.windowAutoEvents _),
    "window_auto_desc" -> (Skew.windowAutoDesc _),
    "window_lag_k" -> ((s, d) => Skew.windowLagK(s, d)),
    "window_firstlast_skew" -> (Skew.windowFirstLastSkew _),
    "window_firstlast_nulls" -> (Skew.windowFirstLastNulls _),
    "window_rank_ext" -> (Skew.windowRankExt _),
    "bloom_join" -> (RuntimeFilter.bloomJoin _),
    "bucket_join" -> (Bucketing.bucketJoin _),
    "bloom_join_auto" -> (RuntimeFilter.bloomJoinAuto _),
    // --- training-data pipeline ops (north-star scope) ---
    "text_stats" -> (TextOps.textStats _),
    "text_quality" -> (TextOps.textQuality _),
    "lang_id" -> (TextOps.langId _),
    "doc_fingerprint" -> ((s, d) => TextOps.docFingerprint(s, d)),
    "pii_redact" -> (Curation.piiRedact _),
    "decontaminate" -> (Curation.decontaminate _),
    "quality_model" -> (Curation.qualityModel _),
    "sample_stratified" -> (Curation.sampleStratified _),
    "pack_sequences" -> ((s, d) => Curation.packSequences(s, d)),
    "chunk_documents" -> (Curation.chunkDocuments _),
    "split_assign" -> (Curation.splitAssign _),
    "shuffle_shards" -> (Curation.shuffleShards _),
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_minhash" -> ((s, d) => Dedup.dedupMinhash(s, d)),
    "dedup_incremental" -> ((s, d) => Dedup.dedupIncremental(s, d)),
    "dedup_incremental_minhash" ->
      ((s, d) => Dedup.dedupIncrementalMinhash(s, d)),
    // The streaming ingest fold, oracle = the batch operator's oracle
    // VERBATIM: the driver's hash match proves the micro-batch fold
    // equals the one-shot batch dedup (see streaming.DedupStream).
    "dedup_stream_fold" ->
      ((s, d) => graft.streaming.DedupStream.foldBoundedDelta(s, d)),
    "dedup_substring" -> ((s, d) => Dedup.dedupSubstring(s, d)),
    "dedup_substring_keepone" ->
      ((s, d) => Dedup.dedupSubstringKeepOne(s, d)),
    "dedup_substring_clean" -> ((s, d) => Dedup.dedupSubstringClean(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.dedupSimhash(s, d)),
    "dedup_simhash_scaled" -> ((s, d) => Dedup.dedupSimhashScaled(s, d)),
    "dedup_ngram" -> ((s, d) => Dedup.dedupNgramJaccard(s, d)),
    "dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    "dedup_winnow" -> ((s, d) => Dedup.dedupWinnow(s, d)),
    "dedup_embedding" -> ((s, d) => Dedup.dedupEmbedding(s, d)),
    "dedup_embedding_lsh" -> ((s, d) => Dedup.dedupEmbeddingLsh(s, d)),
    "dedup_segments" -> (Dedup.dedupSegments _),
    "dedup_containment" -> ((s, d) => Dedup.dedupContainment(s, d)),
    "dedup_semantic" -> ((s, d) => Dedup.dedupSemantic(s, d)),
    "dedup_recall" -> (Dedup.dedupRecall _),
    "fuzzy_join" -> (EntityResolution.fuzzyJoin _),
    "zorder_layout" -> (Layout.zorderLayout _),
    "embedding_centroids" -> (Ann.embeddingCentroids _),
    "unpivot_melt" -> (RelationalExt.unpivotMelt _),
    "merge_upsert" -> (RelationalExt.mergeUpsert _),
    "heavy_hitters" -> (TextOps.heavyHitters _),
    "sample_exact_k" -> ((s, d) => Curation.sampleExactK(s, d)),
    "ann_bruteforce" -> (Ann.annBruteforce _),
    "ann_lsh" -> ((s, d) => Ann.annLsh(s, d)),
    "ann_ivf" -> ((s, d) => Ann.annIvf(s, d)),
    "ann_incremental" -> ((s, d) => Ann.annIncremental(s, d)),
    // The streaming ANN ingest fold, oracle = ann_incremental's oracle
    // VERBATIM: the driver's hash match proves the micro-batch fold
    // equals the one-shot batch search (see streaming.AnnStream).
    "ann_stream_fold" ->
      ((s, d) => graft.streaming.AnnStream.foldBoundedDelta(s, d)),
    "ann_pq" -> ((s, d) => Ann.annPq(s, d)),
    "multimodal_meta" -> (Multimodal.multimodalMeta _),
    "multimodal_features" -> (Multimodal.multimodalFeatures _),
    "multimodal_features_checked" ->
      (Multimodal.multimodalFeaturesChecked _),
    "join_range" -> (RelationalExt.joinRange _),
    "subq_correlated" -> (RelationalExt.subqCorrelated _),
    "window_range_frame" -> (RelationalExt.windowRangeFrame _),
    "quantize_embeddings" -> (Ann.quantizeEmbeddings _),
    "project_embeddings" -> (Ann.projectEmbeddings _),
    "tfidf_topterms" -> ((s, d) => Ranking.tfIdfTopTerms(s, d)),
    "bm25_search" -> ((s, d) => Ranking.bm25Search(s, d)),
    "unigram_ll" -> ((s, d) => Ranking.unigramLogLikelihood(s, d)),
    "bigram_ll" -> ((s, d) => Ranking.bigramLogLikelihood(s, d)),
    "trigram_ll" -> ((s, d) => Ranking.trigramLogLikelihood(s, d)),
    "fivegram_ll" -> ((s, d) => Ranking.fivegramLogLikelihood(s, d)),
    "quality_repetition" -> (TextOps.qualityRepetition _),
    "ann_recall" -> (Ann.annRecall _),
    "ann_autotune" -> (Ann.annAutoProbe _),
    // Bare catalog-table SQL — the one reference node
    // (logical_planner.rs:392-395) that parses but errors NotImplemented
    // at execution (builder.rs:67-72): register the sf tables as views,
    // then run plain `FROM tablename` SQL through the facade.
    "catalog_table" -> ((s, d) => {
      graft.sources.Tables.registerAll(s, d)
      graft.sql.QueryFacade.run(s,
        "SELECT n_name, count(*) AS n_cust FROM customer " +
          "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")
    }),
    // round-6 wave 2: retrieval, selection, graph, history, monitoring
    "hybrid_rank_fusion" -> ((s, d) => Ranking.hybridRankFusion(s, d)),
    "dsir_weights" -> (Curation.dsirWeights _),
    "dsir_resample" -> (Curation.dsirResample _),
    "inverted_index" -> ((s, d) => Ranking.invertedIndex(s, d)),
    "vocab_coverage" -> (Ranking.vocabCoverage _),
    "graph_degrees" -> (Graph.graphDegrees _),
    "label_propagation" -> ((s, d) => Graph.labelPropagation(s, d)),
    "events_anomaly" -> (graft.streaming.EventStreams.eventsAnomaly _),
    "scd2_history" -> (RelationalExt.scd2History _),
    "sketch_merge" -> (RelationalExt.sketchMerge _),
    "pagerank_links" -> (Graph.pagerankLinks _),
    "curate_pipeline" -> (Curation.curatePipeline _),
    // the same pipeline behind the fail-fast quality gate: on an
    // admitted (clean) delivery the gate is transparent, so the oracle
    // is curate_pipeline's; a rejected delivery throws GateViolation
    // naming the rules (ValidateSpec proves the abort path)
    "curate_gated" -> ((s, d) => Curation.curatePipelineGated(s, d)),
    "curriculum_bins" -> (Curation.curriculumBins _),
    // round-6 wave 3: graph structure, collocations, LM smoothing,
    // time series, model fitting, kNN graph
    "graph_triangles" -> (Graph.graphTriangles _),
    "colloc_pmi" -> (Ranking.collocationsPmi _),
    "kneser_ney_ll" -> ((s, d) => Ranking.kneserNeyLogLikelihood(s, d)),
    "timeseries_fill" -> (TimeSeries.timeseriesFill _),
    "quality_regression" -> (Curation.qualityRegression _),
    "knn_graph" -> (Ann.knnGraph _),
    "knn_graph_bucketed" -> ((s, d) => Ann.knnGraphBucketed(s, d)),
    "ann_ivfpq" -> ((s, d) => Ann.annIvfPq(s, d)),
    // round-6 wave 4: per-domain caps, weighted sampling, robust scaling,
    // content-defined chunking, frequency sketch
    "domain_cap" -> (Curation.domainCap _),
    "weighted_sample" -> ((s, d) => Curation.weightedSample(s, d)),
    "winsorize_scores" -> (Curation.winsorizeScores _),
    "cdc_chunks" -> (Dedup.cdcChunks _),
    "sketch_freq" -> (TextOps.sketchFreq _),
    // round-6 wave 5: distribution analytics, table profiling,
    // containment-tier decontamination
    "window_ntile" -> (RelationalExt.windowNtile _),
    "profile_table" -> (Profile.profileTable _),
    // data-quality gates: declarative constraint validation (one scan,
    // rules as conditional aggregates) and PSI distribution drift
    "validate_constraints" -> (Validate.validateConstraints _),
    "drift_psi" -> (Validate.driftPsi _),
    "decontaminate_fuzzy" -> (Curation.decontaminateFuzzy _),
    "events_heavy_users" ->
      (graft.streaming.EventStreams.eventsHeavyUsers _),
    "window_firstlast" -> (RelationalExt.windowFirstLast _),
    "agg_corr" -> (RelationalExt.aggCorr _),
    "histogram_equidepth" -> (Profile.histogramEquidepth _),
    "cogroup_audit" -> (Profile.cogroupAudit _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** ann_lsh oracle, generated from the SAME deterministic hyperplane
    * matrices the Spark query uses (Ann.planes is seeded per table) —
    * the nTables signatures, depth-probeBits multi-probe expansion,
    * cross-table dedup (max over identical cosines), and ranking are all
    * plain SQL once the planes are literals. Double literals round-trip
    * exactly (shortest-repr toString), and list_dot_product/
    * list_cosine_similarity evaluate the same sequential double
    * arithmetic as VectorFunctions.
    */
  private def annLshOracleSql: String = {
    import graft.operators.Ann.{LshBits => nBits, LshTables => nTables,
      LshProbeBits => probeBits}
    val sigExprs = (0 until nTables).map { t =>
      val planes = graft.operators.Ann.planes(nBits, 64,
        graft.operators.Ann.lshSeed(t))
      val b = planes.zipWithIndex.map { case (p, j) =>
        val lst = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lst) " +
          s"> 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n          + ")
      s"CAST($b AS BIGINT) AS b$t"
    }
    val masks = graft.operators.Ann.probeMasks(nBits, probeBits)
      .mkString("[", ", ", "]")
    val tbls = (0 until nTables).mkString("[", ", ", "]")
    val caseB = "CASE t.tbl " +
      (0 until nTables).map(t => s"WHEN $t THEN b$t ").mkString + "END"
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
          ${sigExprs.mkString(",\n          ")}
        FROM embeddings),
      c AS (
        SELECT vec_id AS cand_id, emb AS ce, t.tbl, $caseB AS bucket
        FROM e, unnest($tbls) AS t(tbl)),
      q AS (
        SELECT vec_id AS q_id, emb AS qe, t.tbl, xor($caseB, m.m) AS bucket
        FROM e, unnest($tbls) AS t(tbl), unnest($masks) AS m(m)
        WHERE vec_id < 10),
      s AS (
        SELECT q_id, cand_id,
          max(round(list_cosine_similarity(qe, ce), 6)) AS cos_r
        FROM c JOIN q USING (tbl, bucket) WHERE q_id <> cand_id
        GROUP BY q_id, cand_id),
      r AS (SELECT q_id, cand_id, cos_r,
              row_number() OVER (PARTITION BY q_id
                ORDER BY cos_r DESC, cand_id) AS rank
            FROM s)
      SELECT q_id, rank, cand_id, cos_r FROM r WHERE rank <= 10"""
  }

  /** knn_graph_bucketed oracle — the annLsh mirror at full-corpus query
    * coverage: same seeded-plane signature literals, same multi-probe
    * expansion, no vec_id filter, top-KnnK per src. Operating point AND
    * cell-cap constants come from the shared Ann vals the operator
    * itself uses — retuning either cannot desync plan from oracle.
    */
  private def knnGraphBucketedOracleSql: String = {
    import graft.operators.Ann.{LshProbeBits => probeBits}
    // size-adaptive code width AND table count — mirrored from the same
    // cached corpus count / tuned-tables cache the operator derived them
    // from (fail-closed to LshBits / LshTables, the exact values at
    // every gate SF)
    val nBits = graft.operators.Ann.oracleBits(dumpDirOpt)
    val nTables = graft.operators.Ann.oracleTables(dumpDirOpt)
    val sigExprs = (0 until nTables).map { t =>
      val planes = graft.operators.Ann.planes(nBits, 64,
        graft.operators.Ann.lshSeed(t))
      val b = planes.zipWithIndex.map { case (p, j) =>
        val lst = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lst) " +
          s"> 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n          + ")
      s"CAST($b AS BIGINT) AS b$t"
    }
    val masks = graft.operators.Ann.budgetedProbeMasks(nBits, probeBits)
      .mkString("[", ", ", "]")
    val tbls = (0 until nTables).mkString("[", ", ", "]")
    val caseB = "CASE t.tbl " +
      (0 until nTables).map(t => s"WHEN $t THEN b$t ").mkString + "END"
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
          ${sigExprs.mkString(",\n          ")}
        FROM embeddings),
      c0 AS (
        SELECT vec_id AS dst, emb AS ce, t.tbl, $caseB AS bucket
        FROM e, unnest($tbls) AS t(tbl)),
      cnt AS (SELECT count(*) AS n FROM embeddings),
      c AS (
        SELECT dst, ce, tbl, bucket FROM (
          SELECT *, count(*) OVER (PARTITION BY tbl, bucket) AS bsz
          FROM c0), cnt
        WHERE bsz <= greatest(${graft.operators.Ann.CellCapFloor},
          n * ${graft.operators.Ann.CellCapFactor} // ${1 << nBits})),
      q AS (
        SELECT vec_id AS src, emb AS qe, t.tbl, xor($caseB, m.m) AS bucket
        FROM e, unnest($tbls) AS t(tbl), unnest($masks) AS m(m)),
      s AS (
        SELECT src, dst,
          max(round(list_cosine_similarity(qe, ce), 6)) AS cos_r
        FROM c JOIN q USING (tbl, bucket) WHERE src <> dst
        GROUP BY src, dst),
      r AS (SELECT src, dst, cos_r,
              row_number() OVER (PARTITION BY src
                ORDER BY cos_r DESC, dst) AS rank
            FROM s)
      SELECT src, rank, dst, cos_r FROM r
      WHERE rank <= ${graft.operators.Ann.KnnK}"""
  }

  /** Generated oracle for [[graft.operators.Ranking.ngramLogLikelihood]]
    * at any order n >= 3 — the ladder's tier chain, count tables, and
    * fp-op association are emitted from the SAME n/LmMinCount/
    * BackoffAlpha the Spark side uses (fivegram_ll runs it at n=5; the
    * hand-written trigram_ll oracle doubles as an independent cross-check
    * of the generator's n=3 shape).
    */
  private def ngramLlOracleSql(n: Int, keepAbove: Double, countCol: String,
                               avgCol: String): String = {
    val minC = graft.operators.Ranking.LmMinCount
    val alpha = graft.operators.Ranking.BackoffAlpha
    def coefSql(j: Int): String = s"$alpha * " * j
    def gramList(m: Int): String =
      s"list_transform(range(1, len(toks) - ${m - 2}), i -> " +
        (0 until m).map(d => if (d == 0) "toks[i]" else s"toks[i+$d]")
          .mkString(" || ' ' || ") + ")"
    def words(ps: Range): String =
      ps.map(p => s"split_part(g, ' ', $p)").mkString(" || ' ' || ")
    val cntCtes = (2 until n).map { m =>
      s"""cnt$m AS (
        SELECT x.g, count(*) AS c
        FROM (SELECT ${gramList(m)} AS gs FROM t WHERE len(toks) >= $m),
          unnest(gs) AS x(g)
        GROUP BY x.g)"""
    }
    val keyCols = (0 to n - 2).map(j =>
      s"${words((1 + j) to (n - 1))} AS dk$j") ++
      (1 to n - 2).map(j => s"${words((1 + j) to n)} AS nk$j") :+
      s"split_part(g, ' ', $n) AS wn"
    val joins = s"LEFT JOIN cnt${n - 1} d0 ON tfc.dk0 = d0.g" +:
      (1 to n - 2).flatMap(j => Seq(
        s"LEFT JOIN cnt${n - j} n$j ON tfc.nk$j = n$j.g",
        s"LEFT JOIN cnt${n - 1 - j} d$j ON tfc.dk$j = d$j.g"))
    val tiers =
      s"WHEN ctg >= $minC THEN ln(CAST(ctg AS DOUBLE) / CAST(d0.c AS DOUBLE))" +:
        (1 to n - 2).map(j =>
          s"WHEN coalesce(n$j.c, 0) >= $minC THEN ln(${coefSql(j)}" +
            s"CAST(n$j.c AS DOUBLE) / CAST(d$j.c AS DOUBLE))")
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tg AS (
        SELECT doc_id, g.g
        FROM (SELECT doc_id, ${gramList(n)} AS gs
              FROM t WHERE len(toks) >= $n), unnest(gs) AS g(g)),
      cnt1 AS (
        SELECT u.g, count(*) AS c FROM t, unnest(toks) AS u(g)
        GROUP BY u.g),
      ${cntCtes.mkString(",\n      ")},
      totals AS (SELECT CAST(sum(c) AS BIGINT) AS n_toks,
                   count(*) AS vocab FROM cnt1),
      tf AS (
        SELECT doc_id, g, count(*) AS tf,
          ${keyCols.mkString(",\n          ")}
        FROM tg GROUP BY doc_id, g),
      tfc AS (
        SELECT *, CAST(sum(tf) OVER (PARTITION BY g) AS BIGINT) AS ctg
        FROM tf),
      scored AS (
        SELECT doc_id, tf,
          CASE ${tiers.mkString("\n               ")}
               ELSE ln(${coefSql(n - 1)}
                 (CAST(CASE WHEN coalesce(ub.c, 0) >= $minC THEN ub.c
                       ELSE 0 END AS DOUBLE) + 1.0) /
                 (CAST(n_toks AS DOUBLE) + CAST(vocab AS DOUBLE)))
          END AS lp
        FROM tfc
        ${joins.mkString("\n        ")}
        LEFT JOIN cnt1 ub ON tfc.wn = ub.g
        CROSS JOIN totals),
      doc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS nn,
          sum(CAST(tf AS DOUBLE) * lp) AS ll
        FROM scored GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(doc.nn, 0) AS $countCol,
        round(doc.ll / CAST(doc.nn AS DOUBLE), 3) AS $avgCol,
        coalesce(doc.ll / CAST(doc.nn AS DOUBLE) >= $keepAbove, false)
          AS keep
      FROM documents d LEFT JOIN doc USING (doc_id)"""
  }

  /** dedup_semantic oracle, from the fitted centroid literals looked up
    * in the pure memoized fit cache by dump dir (Ann.cachedCentroids at
    * Dedup.SemClusters; threshold is the SemDedupCos constant the query
    * default uses — no mutable last-fit state anywhere): DuckDB
    * recomputes cluster assignment (argmin squared-L2, lowest cell wins
    * ties), the MaxBucket hot-cell cap, within-cluster pair cosines,
    * and the min-id-representative verdicts. Absent (rows-only
    * fallback) only if no query fitted this dir's quantizer in this JVM.
    */
  private def dedupSemanticOracleSqlOpt: Option[(String, String)] =
    dumpDirOpt.flatMap { d =>
      // mirror the size-adaptive cluster count from the same cached
      // corpus count the operator derived it from
      val k = graft.operators.Ann.cachedCorpusCount(d)
        .map(graft.operators.Dedup.semClustersFor)
        .getOrElse(graft.operators.Dedup.SemClusters)
      graft.operators.Ann.cachedCentroids(d, k)
    }.map { cents =>
        val threshold = graft.operators.Dedup.SemDedupCos
        val dim = cents.head.length
        val vals = cents.zipWithIndex.map { case (c, ci) =>
          s"($ci, ${c.mkString("[", ", ", "]")})"
        }.mkString(",\n          ")
        // assignment mirror follows the operator's strategy switch:
        // flat exact argmin up to Ann.TwoLevelAssignThreshold cells
        // (every gate SF), the two-level coarse-then-fine above it —
        // supers and branch membership recomputed from the SAME cached
        // centroids via the SAME pure miniKmeans, so both engines
        // assign through identical structures
        val assignSql =
          if (cents.length <= graft.operators.Ann.TwoLevelAssignThreshold)
            s"""
      d AS (SELECT e.vec_id, e.emb, c.cell,
              list_sum(list_transform(range(1, ${dim + 1}),
                i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
            FROM e CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, emb, cell FROM (
          SELECT vec_id, emb, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM d)
        WHERE rn = 1),"""
          else {
            val branches = graft.operators.Ann.twoLevelStructure(cents)
            val superVals = branches.zipWithIndex.map { case ((sc, _), bi) =>
              s"($bi, ${sc.mkString("[", ", ", "]")})"
            }.mkString(",\n          ")
            val memberVals = branches.zipWithIndex.flatMap {
              case ((_, ids), bi) => ids.map(c => s"($bi, $c)")
            }.mkString(",\n          ")
            s"""
      supers AS (SELECT * FROM (VALUES $superVals) AS t(si, sv)),
      smap AS (SELECT * FROM (VALUES $memberVals) AS t(si, cell)),
      sd AS (SELECT e.vec_id, e.emb, s.si,
               list_sum(list_transform(range(1, ${dim + 1}),
                 i -> (emb[i] - sv[i]) * (emb[i] - sv[i]))) AS dist
             FROM e CROSS JOIN supers s),
      sa AS (
        SELECT vec_id, emb, si FROM (
          SELECT vec_id, emb, si, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, si ASC) AS rn
          FROM sd)
        WHERE rn = 1),
      cd AS (SELECT sa.vec_id, sa.emb, m.cell,
               list_sum(list_transform(range(1, ${dim + 1}),
                 i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
             FROM sa JOIN smap m USING (si) JOIN cents USING (cell)),
      assign AS (
        SELECT vec_id, emb, cell FROM (
          SELECT vec_id, emb, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM cd)
        WHERE rn = 1),"""
          }
        "dedup_semantic" -> s"""
      WITH cents AS (SELECT * FROM (VALUES $vals) AS t(cell, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),$assignSql
      capped AS (
        SELECT vec_id, emb, cell FROM assign
        QUALIFY count(*) OVER (PARTITION BY cell)
          <= ${graft.operators.Dedup.MaxBucket}),
      pr AS (
        SELECT x.vec_id AS a, y.vec_id AS b,
          list_cosine_similarity(x.emb, y.emb) AS cos
        FROM capped x JOIN capped y
          ON x.cell = y.cell AND x.vec_id < y.vec_id),
      prf AS (SELECT * FROM pr WHERE cos >= $threshold),
      dd AS (
        SELECT b AS vec_id, min(a) AS dup_of, max(cos) AS best_cos
        FROM prf GROUP BY b)
      SELECT a2.vec_id, a2.cell, dup_of,
        round(best_cos, 4) AS best_cos, dup_of IS NULL AS keep
      FROM assign a2 LEFT JOIN dd USING (vec_id)"""
    }

  /** Shared DuckDB fragments for the md5-gram winnowing device
    * (TextFunctions.gramHashes/windowMins): the gram-hash stream and its
    * sliding-window minima, with the same short-text edges as the Spark
    * side (empty -> empty; shorter than one gram -> one whole-text hash;
    * fewer hashes than one window -> one global min). K/W interpolated
    * from the SAME constants the Spark expressions use.
    */
  private def winnowHsSqlFragment: String = {
    val k = graft.functions.TextFunctions.WinnowK
    s"""CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
           WHEN length(text) - $k + 1 < 1
             THEN [CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)]
           ELSE list_transform(range(1, length(text) - $k + 2),
             i -> CAST('0x' || substr(md5(substr(text, i, $k)), 1, 15)
                    AS BIGINT)) END"""
  }

  private def winnowWinsSqlFragment: String = {
    val w = graft.functions.TextFunctions.WinnowW
    s"""CASE WHEN len(hs) = 0 THEN hs
           WHEN len(hs) <= $w THEN [list_min(hs)]
           ELSE list_transform(range(1, len(hs) - $w + 2),
             j -> list_min(hs[j:j+${w - 1}])) END"""
  }

  /** dedup_winnow oracle: DuckDB recomputes the ENTIRE winnowing dedup —
    * gram hashes, window minima, distinct fingerprint sets, the
    * MaxBucket hot-fingerprint cap, pair overlap counts, the
    * shared/ratio gates, and the per-doc verdict.
    */
  private def dedupWinnowOracleSql: String = {
    val d = graft.operators.Dedup
    s"""
      WITH h AS (
        SELECT doc_id, $winnowHsSqlFragment AS hs FROM documents),
      wi AS (
        SELECT doc_id, $winnowWinsSqlFragment AS wins FROM h),
      fps AS (
        SELECT doc_id, f.fp
        FROM wi, unnest(list_distinct(wins)) AS f(fp)),
      capped AS (
        SELECT doc_id, fp FROM fps
        QUALIFY count(*) OVER (PARTITION BY fp) <= ${d.MaxBucket}),
      counts AS (
        SELECT doc_id, count(*) AS nf FROM capped GROUP BY doc_id),
      shared AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
        FROM capped x JOIN capped y
          ON x.fp = y.fp AND x.doc_id < y.doc_id
        GROUP BY a, b
        HAVING count(*) >= ${d.MinSharedFps}),
      rs AS (
        SELECT s.a, s.b, s.n_shared
        FROM shared s
        JOIN counts ca ON s.a = ca.doc_id
        JOIN counts cb ON s.b = cb.doc_id
        WHERE CAST(s.n_shared AS DOUBLE) / CAST(least(ca.nf, cb.nf)
            AS DOUBLE) >= ${d.MinSharedRatio}),
      dups AS (
        SELECT b AS doc_id, min(a) AS dup_of, max(n_shared) AS best_shared
        FROM rs GROUP BY b)
      SELECT t.doc_id, dup_of, best_shared, dup_of IS NULL AS keep
      FROM documents t LEFT JOIN dups USING (doc_id)"""
  }

  /** doc_fingerprint oracle: min gram hash as the document fingerprint,
    * consecutive-deduped winnow pick count, and the exact-collision dup
    * verdict — all recomputed by DuckDB from the text.
    */
  private def docFingerprintOracleSql: String =
    s"""
      WITH h AS (
        SELECT doc_id, $winnowHsSqlFragment AS hs FROM documents),
      wi AS (
        SELECT doc_id, hs, $winnowWinsSqlFragment AS wins FROM h),
      f AS (
        SELECT doc_id, list_min(hs) AS fp,
          CAST(CASE WHEN len(wins) = 0 THEN 0
            ELSE len(list_filter(range(1, len(wins) + 1),
              j -> j = 1 OR wins[j] <> wins[greatest(j - 1, 1)])) END
            AS INT) AS n_winnow
        FROM wi)
      SELECT doc_id, fp, n_winnow,
        min(doc_id) OVER (PARTITION BY fp) AS first_doc,
        doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
      FROM f"""

  /** The sfDir the current oracle dump targets (set by Verify). Since
    * r10 the fitted-literal generators look fits up in the pure
    * memoized fit caches KEYED BY THIS DIR (Ann.cachedCentroids /
    * cachedPqCodebooks) with every knob interpolated from the same
    * named constants the registry queries use — there is no mutable
    * last-fit state, so a session that also ran fits against another
    * dir or with other knobs cannot desync this dir's oracle. FAIL
    * CLOSED: an unknown dump dir or an absent fit yields the rows-only
    * degrade, never another directory's centroids.
    */
  val oracleDumpDir =
    new java.util.concurrent.atomic.AtomicReference[String]()

  private def dumpDirOpt: Option[String] = Option(oracleDumpDir.get())

  /** Fit-provenance report for the remaining fitted-literal oracles —
    * ann_ivf, ann_pq, dedup_semantic, the queries whose DuckDB mirror
    * is generated from JVM fit state rather than static SQL. Verify
    * writes this per run so a driver-side plan/oracle desync (the
    * failure mode that kept histogram_equidepth red for three rounds
    * until its oracle went static) is diagnosable in one diff of the
    * committed FIT_PROVENANCE.md: identical literals ⇒ the coupling
    * held; different literals name exactly which fit moved.
    */
  def fitProvenance: String = {
    def sha8(body: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(body.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    def block(name: String, fit: Option[(String, String)]): String =
      fit.fold(s"## $name\n\nabsent — query did not run in this JVM " +
          "(rows-only oracle degrade was in effect)\n") {
        case (d, lits) =>
          s"## $name\n\nfit dir: `$d`\nliterals sha256/8: " +
            s"`${sha8(lits)}`\n\n```\n$lits\n```\n"
      }
    def centsLines(cents: Array[Array[Double]]): String =
      cents.zipWithIndex.map { case (c, i) =>
        s"c$i: ${c.mkString(", ")}" }.mkString("\n")
    val ivf = for {
      d <- dumpDirOpt; cents <- graft.operators.Ann.cachedCentroids(d)
    } yield (d, s"nProbe=${graft.operators.Ann.IvfProbe}\n" +
      centsLines(cents))
    val pq = for {
      d <- dumpDirOpt; cbs <- graft.operators.Ann.cachedPqCodebooks(d)
    } yield (d, cbs.zipWithIndex.map { case (cb, m) =>
      cb.zipWithIndex.map { case (cv, j) =>
        s"m$m j$j: ${cv.mkString(", ")}" }.mkString("\n")
    }.mkString("\n"))
    val sem = for {
      d <- dumpDirOpt
      cents <- graft.operators.Ann.cachedCentroids(
        d, graft.operators.Ann.cachedCorpusCount(d)
          .map(graft.operators.Dedup.semClustersFor)
          .getOrElse(graft.operators.Dedup.SemClusters))
    } yield (d, s"threshold=${graft.operators.Dedup.SemDedupCos}\n" +
      centsLines(cents))
    // ann_incremental: the adaptive-k quantizer (== the ann_ivf fit at
    // every test SF — same (dir, 16) cache key — but recorded under its
    // own derived k so any ivfCellsFor/oracle desync diffs in one line)
    val inc = for {
      d <- dumpDirOpt
      k = graft.operators.Ann.cachedCorpusCount(d)
        .map(graft.operators.Ann.ivfCellsFor)
        .getOrElse(graft.operators.Ann.IvfCentroids)
      cents <- graft.operators.Ann.cachedCentroids(d, k)
    } yield (d, s"cells=$k nProbe=${graft.operators.Ann.IvfProbe}\n" +
      centsLines(cents))
    "# FIT PROVENANCE\n\nRegenerated by `graft.Verify` each full run: " +
      "the exact fitted literals interpolated into this round's " +
      "generated DuckDB oracles, rendered with the same " +
      "shortest-round-trip Double formatting the oracle SQL embeds.\n\n" +
      block("ann_ivf", ivf) + "\n" + block("ann_incremental", inc) +
      "\n" + block("ann_pq", pq) + "\n" + block("dedup_semantic", sem)
  }

  /** ann_pq oracle, from the fitted per-subspace codebooks the plan
    * broadcast, looked up by dump dir (Ann.cachedPqCodebooks): DuckDB
    * recomputes the per-subspace argmin codes (lowest code wins ties),
    * the centroid-concatenation reconstruction, the flat 64-term ADC,
    * and the ascending-distance rank. Absent — rows-only fallback —
    * only if no query fitted this dir's codebooks in this JVM.
    */
  private def annPqOracleSqlOpt: Option[(String, String)] =
    dumpDirOpt.flatMap(graft.operators.Ann.cachedPqCodebooks)
      .map { cbs =>
        val sd = graft.operators.Ann.PqSubDim
        val vals = (for {
          m <- cbs.indices; j <- cbs(m).indices
        } yield s"($m, $j, ${cbs(m)(j).mkString("[", ", ", "]")})")
          .mkString(",\n          ")
        "ann_pq" -> s"""
      WITH cb AS (SELECT * FROM (VALUES $vals) AS t(m, j, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
      sd AS (SELECT e.vec_id, c.m, c.j,
              list_sum(list_transform(range(1, ${sd + 1}),
                i -> (emb[c.m * $sd + i] - cv[i])
                   * (emb[c.m * $sd + i] - cv[i]))) AS dist
            FROM e CROSS JOIN cb c),
      code AS (
        SELECT vec_id, m, j FROM (
          SELECT vec_id, m, j, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY dist ASC, j ASC) AS rn
          FROM sd)
        WHERE rn = 1),
      rec AS (
        SELECT code.vec_id, flatten(list(cv ORDER BY code.m)) AS rv
        FROM code JOIN cb USING (m, j) GROUP BY code.vec_id),
      q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
      s AS (
        SELECT q.q_id, q.qe, r.vec_id AS cand_id,
          round(list_sum(list_transform(range(1, ${cbs.length * sd + 1}),
            i -> (qe[i] - rv[i]) * (qe[i] - rv[i]))), 6) AS adc_r
        FROM q JOIN rec r ON q.q_id <> r.vec_id),
      short AS (
        SELECT q_id, qe, cand_id, adc_r FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_r ASC, cand_id ASC) AS rank_adc
          FROM s)
        WHERE rank_adc <= ${graft.operators.Ann.oracleShortlist(dumpDirOpt)}),
      ref AS (
        SELECT sh.q_id, sh.cand_id, sh.adc_r,
          round(list_cosine_similarity(sh.qe, e2.emb), 6) AS cos_r
        FROM short sh JOIN e e2 ON sh.cand_id = e2.vec_id),
      rk AS (SELECT q_id, cand_id, cos_r, adc_r, row_number() OVER (
               PARTITION BY q_id ORDER BY cos_r DESC, cand_id ASC) AS rank
             FROM ref)
      SELECT q_id, rank, cand_id, cos_r, adc_r FROM rk WHERE rank <= 10"""
      }

  private def annIvfOracleSqlOpt: Option[(String, String)] =
    dumpDirOpt.flatMap(d => graft.operators.Ann.cachedCentroids(d))
      .map { cents =>
        val nProbe = graft.operators.Ann.IvfProbe
        val dim = cents.head.length
        val vals = cents.zipWithIndex.map { case (c, ci) =>
          s"($ci, ${c.mkString("[", ", ", "]")})"
        }.mkString(",\n          ")
        "ann_ivf" -> s"""
      WITH cents AS (SELECT * FROM (VALUES $vals) AS t(cell, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
      d AS (SELECT e.vec_id, e.emb, c.cell,
              list_sum(list_transform(range(1, ${dim + 1}),
                i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
            FROM e CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, emb, cell FROM (
          SELECT vec_id, emb, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM d)
        WHERE rn = 1),
      probe AS (
        SELECT q_id, qe, cell FROM (
          SELECT vec_id AS q_id, emb AS qe, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS pr
          FROM d WHERE vec_id < 10)
        WHERE pr <= $nProbe),
      s AS (
        SELECT p.q_id, a.vec_id AS cand_id,
          round(list_cosine_similarity(p.qe, a.emb), 6) AS cos_r, a.cell
        FROM assign a JOIN probe p ON a.cell = p.cell
        WHERE p.q_id <> a.vec_id),
      r AS (SELECT q_id, cand_id, cos_r, cell, row_number() OVER (
              PARTITION BY q_id ORDER BY cos_r DESC, cand_id) AS rank
            FROM s)
      SELECT q_id, rank, cand_id, cos_r, cell FROM r WHERE rank <= 10"""
    }

  /** ann_incremental oracle — the annIvf mirror with the ingest carve:
    * assignment runs over the CORPUS side only (vec_id % 10 <> 7,
    * exactly what the persisted index artifact holds), probes are the
    * DELTA side, and there is no self-pair filter (delta is disjoint
    * from the index by construction). Same cached centroid literals.
    *
    * The probe CTE follows the operator's strategy switch (the
    * dedup_semantic assignment-mirror device, generalized to top-n):
    * flat rank over all cells at/below Ann.TwoLevelAssignThreshold
    * (every gate SF — SQL byte-identical to the historical oracle),
    * the coarse-then-fine prefix walk above it — supers, branch
    * membership, the (dist, branch)-ranked super order, the
    * ProbeOverscan×nProbe cumulative prefix rule, and the final
    * (dist, cell) top-nProbe all recomputed by DuckDB from the SAME
    * cached centroids via the SAME pure miniKmeans, so both engines
    * probe through identical structures. Assignment stays the flat
    * exact argmin at every k (the artifact is written with
    * cellAssignExact — the r15 index/probe-divergence lesson).
    */
  private def annIncrementalOracleSqlOpt: Option[(String, String)] =
    dumpDirOpt.flatMap { d =>
      // mirror the size-adaptive cell count through the cached corpus
      // count (== IvfCentroids at every test SF, so the gate oracle is
      // unchanged; fail-closed to the historical constant when absent)
      val k = graft.operators.Ann.cachedCorpusCount(d)
        .map(graft.operators.Ann.ivfCellsFor)
        .getOrElse(graft.operators.Ann.IvfCentroids)
      graft.operators.Ann.cachedCentroids(d, k)
    }
      .map { cents =>
        val nProbe = graft.operators.Ann.IvfProbe
        val dim = cents.head.length
        val vals = cents.zipWithIndex.map { case (c, ci) =>
          s"($ci, ${c.mkString("[", ", ", "]")})"
        }.mkString(",\n          ")
        val probeSql =
          if (cents.length <= graft.operators.Ann.TwoLevelAssignThreshold)
            s"""
      probe AS (
        SELECT q_id, qe, cell FROM (
          SELECT vec_id AS q_id, emb AS qe, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS pr
          FROM d WHERE vec_id % 10 = 7)
        WHERE pr <= $nProbe),"""
          else {
            val branches = graft.operators.Ann.twoLevelStructure(cents)
            val superVals = branches.zipWithIndex.map { case ((sc, _), bi) =>
              s"($bi, ${sc.mkString("[", ", ", "]")})"
            }.mkString(",\n          ")
            val memberVals = branches.zipWithIndex.flatMap {
              case ((_, ids), bi) => ids.map(c => s"($bi, $c)")
            }.mkString(",\n          ")
            val target =
              graft.operators.Ann.ProbeOverscan.toLong * nProbe
            s"""
      supers AS (SELECT * FROM (VALUES $superVals) AS t(si, sv)),
      smap AS (SELECT * FROM (VALUES $memberVals) AS t(si, cell)),
      mcnt AS (SELECT si, count(*) AS mc FROM smap GROUP BY si),
      sdq AS (SELECT e.vec_id AS q_id, e.emb AS qe, s.si,
                list_sum(list_transform(range(1, ${dim + 1}),
                  i -> (emb[i] - sv[i]) * (emb[i] - sv[i]))) AS dist
              FROM e CROSS JOIN supers s
              WHERE e.vec_id % 10 = 7),
      srk AS (SELECT q_id, qe, si, row_number() OVER (
                PARTITION BY q_id ORDER BY dist ASC, si ASC) AS rk
              FROM sdq),
      scm AS (SELECT q_id, qe, si,
                sum(mc) OVER (PARTITION BY q_id ORDER BY rk) - mc
                  AS cum_before
              FROM srk JOIN mcnt USING (si)),
      chosen AS (SELECT q_id, qe, si FROM scm
                 WHERE cum_before < $target),
      cdq AS (SELECT c.q_id, c.qe, m.cell,
                list_sum(list_transform(range(1, ${dim + 1}),
                  i -> (c.qe[i] - cv[i]) * (c.qe[i] - cv[i]))) AS dist
              FROM chosen c JOIN smap m USING (si)
                JOIN cents USING (cell)),
      probe AS (
        SELECT q_id, qe, cell FROM (
          SELECT q_id, qe, cell, row_number() OVER (
            PARTITION BY q_id ORDER BY dist ASC, cell ASC) AS pr
          FROM cdq)
        WHERE pr <= $nProbe),"""
          }
        "ann_incremental" -> s"""
      WITH cents AS (SELECT * FROM (VALUES $vals) AS t(cell, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
      d AS (SELECT e.vec_id, e.emb, c.cell,
              list_sum(list_transform(range(1, ${dim + 1}),
                i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
            FROM e CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, emb, cell FROM (
          SELECT vec_id, emb, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM d WHERE vec_id % 10 <> 7)
        WHERE rn = 1),$probeSql
      s AS (
        SELECT p.q_id, a.vec_id AS cand_id,
          round(list_cosine_similarity(p.qe, a.emb), 6) AS cos_r, a.cell
        FROM assign a JOIN probe p ON a.cell = p.cell),
      r AS (SELECT q_id, cand_id, cos_r, cell, row_number() OVER (
              PARTITION BY q_id ORDER BY cos_r DESC, cand_id) AS rank
            FROM s)
      SELECT q_id, rank, cand_id, cos_r, cell FROM r WHERE rank <= 10"""
    }

  /** ann_autotune oracle — the annIvf assignment/probe mirror swept
    * over the probe ladder: one top-K re-rank per rung from the SAME
    * candidate CTE (pr <= rung), recall vs the brute-force mirror, and
    * the smallest-sufficient-rung choice recomputed by DuckDB's own
    * window over the ladder. Recall is a ratio of two BIGINT counts —
    * one IEEE division, bit-identical cross-engine.
    */
  private def annAutoProbeOracleSqlOpt: Option[(String, String)] =
    dumpDirOpt.flatMap(d => graft.operators.Ann.cachedCentroids(d))
      .map { cents =>
        val ladder = graft.operators.Ann.ProbeLadder
        val target = graft.operators.Ann.AutoProbeTarget
        val dim = cents.head.length
        val vals = cents.zipWithIndex.map { case (c, ci) =>
          s"($ci, ${c.mkString("[", ", ", "]")})"
        }.mkString(",\n          ")
        val ladderVals = ladder.map(p => s"($p)").mkString(", ")
        "ann_autotune" -> s"""
      WITH cents AS (SELECT * FROM (VALUES $vals) AS t(cell, cv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
      d AS (SELECT e.vec_id, e.emb, c.cell,
              list_sum(list_transform(range(1, ${dim + 1}),
                i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
            FROM e CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, emb, cell FROM (
          SELECT vec_id, emb, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM d)
        WHERE rn = 1),
      probe AS (
        SELECT q_id, qe, cell, pr FROM (
          SELECT vec_id AS q_id, emb AS qe, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS pr
          FROM d WHERE vec_id < 10)
        WHERE pr <= ${ladder.max}),
      ladder AS (SELECT * FROM (VALUES $ladderVals) AS t(nprobe)),
      cand AS (
        SELECT p.q_id, a.vec_id AS cand_id,
          round(list_cosine_similarity(p.qe, a.emb), 6) AS cos_r, p.pr
        FROM assign a JOIN probe p ON a.cell = p.cell
        WHERE p.q_id <> a.vec_id),
      rk AS (
        SELECT l.nprobe, c.q_id, c.cand_id,
          row_number() OVER (PARTITION BY l.nprobe, c.q_id
            ORDER BY c.cos_r DESC, c.cand_id ASC) AS rank
        FROM cand c JOIN ladder l ON c.pr <= l.nprobe),
      topk AS (SELECT nprobe, q_id, cand_id FROM rk WHERE rank <= 10),
      q AS (SELECT vec_id AS q_id, emb AS qe FROM e WHERE vec_id < 10),
      bs AS (SELECT q.q_id, e2.vec_id AS cand_id,
               round(list_cosine_similarity(q.qe, e2.emb), 6) AS cos_r
             FROM q JOIN e e2 ON q.q_id <> e2.vec_id),
      bf AS (SELECT q_id, cand_id FROM (
               SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_r DESC, cand_id) AS rank FROM bs)
             WHERE rank <= 10),
      nbf AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM bf),
      hits AS (
        SELECT t.nprobe,
          CAST(sum(CASE WHEN b.cand_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit
        FROM topk t LEFT JOIN bf b
          ON t.q_id = b.q_id AND t.cand_id = b.cand_id
        GROUP BY t.nprobe),
      scored AS (
        SELECT nprobe, n_hit,
          CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
        FROM hits CROSS JOIN nbf)
      SELECT nprobe, n_hit, recall, recall >= $target AS meets,
        (recall >= $target) AND coalesce(
          sum(CASE WHEN recall >= $target THEN 1 ELSE 0 END)
            OVER (ORDER BY nprobe
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          0) = 0 AS chosen
      FROM scored"""
      }

  /** ann_ivfpq oracle — the two fitted-literal mirrors COMPOSED: the
    * annIvf assignment/probe CTEs pick the candidate cells, the annPq
    * code/reconstruction/ADC CTEs rank candidates inside them, then the
    * exact refine. Present only when both fits were recorded for the
    * dump dir.
    */
  private def annIvfPqOracleSqlOpt: Option[(String, String)] =
    for {
      d <- dumpDirOpt
      cents <- graft.operators.Ann.cachedCentroids(d)
      cbs <- graft.operators.Ann.cachedPqCodebooks(d)
    } yield {
      val nProbe = graft.operators.Ann.IvfProbe
      val dim = cents.head.length
      val sd = graft.operators.Ann.PqSubDim
      val cVals = cents.zipWithIndex.map { case (c, ci) =>
        s"($ci, ${c.mkString("[", ", ", "]")})"
      }.mkString(",\n          ")
      val cbVals = (for {
        m <- cbs.indices; j <- cbs(m).indices
      } yield s"($m, $j, ${cbs(m)(j).mkString("[", ", ", "]")})")
        .mkString(",\n          ")
      "ann_ivfpq" -> s"""
      WITH cents AS (SELECT * FROM (VALUES $cVals) AS t(cell, cv)),
      cb AS (SELECT * FROM (VALUES $cbVals) AS t(m, j, cbv)),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings),
      d AS (SELECT e.vec_id, e.emb, c.cell,
              list_sum(list_transform(range(1, ${dim + 1}),
                i -> (emb[i] - cv[i]) * (emb[i] - cv[i]))) AS dist
            FROM e CROSS JOIN cents c),
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
          FROM d)
        WHERE rn = 1),
      probe AS (
        SELECT q_id, qe, cell FROM (
          SELECT vec_id AS q_id, emb AS qe, cell, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS pr
          FROM d WHERE vec_id < 10)
        WHERE pr <= $nProbe),
      sdist AS (SELECT e.vec_id, c.m, c.j,
              list_sum(list_transform(range(1, ${sd + 1}),
                i -> (emb[c.m * $sd + i] - cbv[i])
                   * (emb[c.m * $sd + i] - cbv[i]))) AS dist
            FROM e CROSS JOIN cb c),
      code AS (
        SELECT vec_id, m, j FROM (
          SELECT vec_id, m, j, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY dist ASC, j ASC) AS rn
          FROM sdist)
        WHERE rn = 1),
      rec AS (
        SELECT code.vec_id, flatten(list(cbv ORDER BY code.m)) AS rv
        FROM code JOIN cb USING (m, j) GROUP BY code.vec_id),
      s AS (
        SELECT p.q_id, p.qe, a.vec_id AS cand_id,
          round(list_sum(list_transform(
            range(1, ${cbs.length * sd + 1}),
            i -> (qe[i] - rv[i]) * (qe[i] - rv[i]))), 6) AS adc_r
        FROM probe p JOIN assign a ON a.cell = p.cell
          AND a.vec_id <> p.q_id
        JOIN rec r ON r.vec_id = a.vec_id),
      short AS (
        SELECT q_id, qe, cand_id, adc_r FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY adc_r ASC, cand_id ASC) AS rank_adc
          FROM s)
        WHERE rank_adc <= ${graft.operators.Ann.oracleShortlist(dumpDirOpt)}),
      ref AS (
        SELECT sh.q_id, sh.cand_id, sh.adc_r,
          round(list_cosine_similarity(sh.qe, e2.emb), 6) AS cos_r
        FROM short sh JOIN e e2 ON sh.cand_id = e2.vec_id),
      rk AS (SELECT q_id, cand_id, cos_r, adc_r, row_number() OVER (
               PARTITION BY q_id ORDER BY cos_r DESC, cand_id ASC) AS rank
             FROM ref)
      SELECT q_id, rank, cand_id, cos_r, adc_r FROM rk WHERE rank <= 10"""
    }

  /** dedup_embedding_lsh oracle, generated from the SAME seeded
    * hyperplanes as the Spark query (the annLshOracleSql device): bucket
    * signature, one-bit multi-probe, capped home buckets, cosine verify
    * and per-vector verdict are all plain SQL once the planes are
    * literals.
    */
  private def dedupEmbeddingLshOracleSql: String = {
    // size-adaptive code width, mirrored like knnGraphBucketed's
    val nBits = graft.operators.Ann.oracleBits(dumpDirOpt)
    val planes = graft.operators.Ann.planes(nBits, 64)
    val bucket = planes.zipWithIndex.map { case (p, j) =>
      val lst = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $lst) " +
        s"> 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n          + ")
    val masks = (Seq(0L) ++ (0 until nBits).map(j => 1L << j))
      .mkString("[", ", ", "]")
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
          CAST($bucket AS BIGINT) AS bucket
        FROM embeddings
        QUALIFY count(*) OVER (PARTITION BY bucket)
          <= ${graft.operators.Dedup.MaxBucket}),
      p AS (
        SELECT vec_id, emb, xor(bucket, m) AS bucket
        FROM e, unnest($masks) AS t(m)),
      pr AS (
        SELECT x.vec_id AS a, y.vec_id AS b,
          list_cosine_similarity(x.emb, y.emb) AS cos
        FROM p x JOIN e y USING (bucket) WHERE x.vec_id < y.vec_id),
      d AS (
        SELECT b AS vec_id, min(a) AS dup_of, max(cos) AS best_cos
        FROM pr WHERE cos >= 0.4 GROUP BY b)
      SELECT e2.vec_id, dup_of, round(best_cos, 4) AS best_cos,
        dup_of IS NULL AS keep
      FROM embeddings e2 LEFT JOIN d USING (vec_id)"""
  }

  /** dedup_incremental oracle, generated with the same vote/pack loops
    * as dedupSimhashOracleSql: batch membership is the md5-coin device,
    * the exact tier mirrors dedup_exact's norm, and the near tier is the
    * simhash chunk join restricted to batch x index (with the same
    * capped index buckets the Spark side applies).
    */
  private def dedupIncrementalOracleSql: String = {
    import graft.operators.Dedup.{SimhashBits, SimhashChunks,
      SimhashChunkBits, MaxBucket, IncrementalBatchCoin}
    val votes = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n          ")
    val packed = (0 until SimhashBits).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("\n          + ")
    val mask = (1L << SimhashChunkBits) - 1L
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      h AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM tok),
      v AS (
        SELECT doc_id,
          $votes
        FROM h GROUP BY doc_id),
      sig AS (
        SELECT doc_id, CAST($packed AS BIGINT) AS simhash
        FROM v),
      flag AS (
        SELECT doc_id,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            < '$IncrementalBatchCoin' AS is_batch
        FROM documents),
      n AS (
        SELECT d.doc_id,
          lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
          f.is_batch
        FROM documents d JOIN flag f USING (doc_id)),
      ex AS (
        SELECT nb.doc_id, min(ni.doc_id) AS exact_dup_of
        FROM n nb JOIN n ni ON ni.norm = nb.norm
        WHERE nb.is_batch AND NOT ni.is_batch
        GROUP BY nb.doc_id),
      ch AS (
        SELECT s2.doc_id, s2.simhash, ci,
          (s2.simhash >> ($SimhashChunkBits * ci)) & $mask AS cv,
          f.is_batch
        FROM sig s2 JOIN flag f USING (doc_id),
          unnest(range(0, $SimhashChunks)) AS u(ci)),
      chi AS (
        SELECT doc_id, simhash, ci, cv FROM ch WHERE NOT is_batch
        QUALIFY count(*) OVER (PARTITION BY ci, cv) <= $MaxBucket),
      chb AS (SELECT doc_id, simhash, ci, cv FROM ch WHERE is_batch),
      nd AS (
        SELECT cb.doc_id, min(cx.doc_id) AS near_dup_of,
          min(CAST(bit_count(xor(cb.simhash, cx.simhash)) AS INT))
            AS best_hamming
        FROM chb cb JOIN chi cx ON cb.ci = cx.ci AND cb.cv = cx.cv
        WHERE bit_count(xor(cb.simhash, cx.simhash)) <= 3
        GROUP BY cb.doc_id),
      b AS (SELECT doc_id FROM flag WHERE is_batch)
      SELECT b.doc_id, ex.exact_dup_of, nd.near_dup_of, nd.best_hamming,
        (ex.exact_dup_of IS NULL AND nd.near_dup_of IS NULL) AS keep
      FROM b LEFT JOIN ex USING (doc_id) LEFT JOIN nd USING (doc_id)"""
  }

  /** zorder_layout oracle, generated from the same ZBits bound the Spark
    * expression uses: the 32-term Morton shift/mask sum is mechanical,
    * and DuckDB's lateral alias reuse lets zbucket derive from zval.
    */
  private def zorderOracleSql: String = {
    import graft.operators.Layout.{ZBits, ZBucketShift}
    val mask = (1L << ZBits) - 1L
    val terms = (0 until ZBits).map(i =>
      s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
      .mkString("\n          + ")
    s"""
      WITH m AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
          l_partkey & $mask AS x, l_suppkey & $mask AS y
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        CAST($terms AS BIGINT) AS zval,
        CAST(zval >> $ZBucketShift AS BIGINT) AS zbucket
      FROM m"""
  }

  /** dedup_containment oracle, generated from the same constants
    * (gram width, df cap, threshold, and the shared prefix-fraction
    * LITERAL — see Dedup.ContainPrefixFrac for why it must be the same
    * token in both engines).
    */
  private def dedupContainmentOracleSql: String = {
    import graft.operators.Dedup.{ContainThreshold, ContainPrefixFrac,
      ContainGramLen, MaxContainDf}
    // corpus-scaled df cut, mirrored from the same cached count the
    // operator resolved it from (fail-closed to the calibration
    // constant — exact at every gate SF)
    val containCut = dumpDirOpt
      .flatMap(graft.operators.Dedup.cachedDocCount)
      .map(graft.operators.Dedup.containMaxDfFor)
      .getOrElse(MaxContainDf)
    val q = ContainGramLen
    s"""
      WITH t AS (
        SELECT doc_id, lower(trim(text)) AS s FROM documents),
      g AS (
        SELECT doc_id, gram FROM (
          SELECT DISTINCT doc_id, substr(s, CAST(i AS INT), $q) AS gram
          FROM t, unnest(range(1, greatest(length(s) - ${q - 1}, 0) + 1))
            AS u(i))
        WHERE substr(md5(gram), 1, 1) IN ('0', '1', '2', '3')),
      gd0 AS (
        SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df,
          count(*) OVER (PARTITION BY doc_id) AS n
        FROM g),
      gd AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY df, gram) AS rn
        FROM gd0),
      pref AS (
        SELECT * FROM gd
        WHERE rn <= floor(n * $ContainPrefixFrac) + 1
          AND df <= $containCut),
      cand AS (
        SELECT DISTINCT a.doc_id AS a, a.n AS na, b.doc_id AS b
        FROM pref a JOIN (SELECT doc_id, gram, n FROM gd
          WHERE df <= $containCut) b USING (gram)
        WHERE a.doc_id <> b.doc_id
          AND CAST(b.n AS DOUBLE) >= CAST(a.n AS DOUBLE)
            * $ContainThreshold),
      ver AS (
        SELECT c.a, c.b, c.na, count(*) AS inter
        FROM cand c
        JOIN g ga ON ga.doc_id = c.a
        JOIN g gb ON gb.doc_id = c.b AND gb.gram = ga.gram
        GROUP BY c.a, c.b, c.na),
      vq AS (
        SELECT a AS doc_id, min(b) AS contained_in,
          round(max(CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)), 4)
            AS best_cont
        FROM ver
        WHERE CAST(inter AS DOUBLE) >= CAST(na AS DOUBLE)
          * $ContainThreshold
        GROUP BY a)
      SELECT d.doc_id, contained_in, best_cont,
        contained_in IS NULL AS keep
      FROM documents d LEFT JOIN vq USING (doc_id)"""
  }

  /** skew_diagnose oracle, generated per profiled key column from the
    * same Skew.SkewKeyCols list; arg-max tie-break mirrored with an
    * ORDER BY c DESC, k LIMIT 1 subquery.
    */
  private def skewDiagnoseOracleSql: String =
    graft.operators.Skew.SkewKeyCols.map { k =>
      s"""
      SELECT '$k' AS key_col, n_keys, n_rows, max_cnt, top_key,
        round(CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
          AS top_share, p50_cnt, p99_cnt,
        CASE WHEN round(CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE),
            6) >= ${graft.operators.Skew.WindowSkewShare}
          THEN 'window_lag_skew' ELSE 'plain_window' END AS window_plan
      FROM (
        SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
          max(c) AS max_cnt,
          (SELECT kk FROM (SELECT $k AS kk, count(*) AS c FROM lineitem
             GROUP BY 1) ORDER BY c DESC, kk LIMIT 1) AS top_key,
          round(quantile_cont(c, 0.5), 4) AS p50_cnt,
          round(quantile_cont(c, 0.99), 4) AS p99_cnt
        FROM (SELECT $k AS kk, count(*) AS c FROM lineitem GROUP BY 1))"""
    }.mkString("\n      UNION ALL\n")

  /** dedup_simhash oracle, generated: the 60 per-bit vote sums and the
    * bit packing are mechanical, so they are emitted by the same loop
    * bounds the Spark query uses (Dedup.SimhashBits/SimhashChunks). The
    * per-token hash is the first 15 hex chars of md5 — DuckDB's
    * `CAST('0x' || ... AS BIGINT)` equals Spark's `conv(..., 16, 10)`
    * exactly, which is what makes the whole pipeline hash-checkable.
    */
  private def dedupSimhashOracleSql: String = {
    import graft.operators.Dedup.{SimhashBits, SimhashChunks, SimhashChunkBits, MaxBucket}
    val votes = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n          ")
    val packed = (0 until SimhashBits).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("\n          + ")
    val mask = (1L << SimhashChunkBits) - 1L
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      h AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM tok),
      v AS (
        SELECT doc_id,
          $votes
        FROM h GROUP BY doc_id),
      sig AS (
        SELECT doc_id, CAST($packed AS BIGINT) AS simhash
        FROM v),
      ch AS (
        SELECT doc_id, simhash, ci,
          (simhash >> ($SimhashChunkBits * ci)) & $mask AS cv
        FROM sig, unnest(range(0, $SimhashChunks)) AS u(ci)
        QUALIFY count(*) OVER (PARTITION BY ci,
          (simhash >> ($SimhashChunkBits * ci)) & $mask) <= $MaxBucket),
      cand AS (
        SELECT DISTINCT a.doc_id AS a, a.simhash AS ha,
          b.doc_id AS b, b.simhash AS hb
        FROM ch a JOIN ch b
          ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id),
      ver AS (
        SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      dup AS (
        SELECT b AS doc_id, min(a) AS dup_of, min(hamming) AS best_hamming
        FROM ver GROUP BY b)
      SELECT s.doc_id, s.simhash, d.dup_of, d.best_hamming,
        d.dup_of IS NULL AS keep
      FROM sig s LEFT JOIN dup d USING (doc_id)"""
  }

  /** dedup_simhash_scaled oracle — the dedupSimhashOracleSql pipeline
    * with the Manku multi-table key stage: the C(6,3) combo keys are
    * re-derived here from the same shared geometry constants
    * (Dedup.simhashBlockCombos), interpolated as one CASE over the
    * table index, so DuckDB independently recomputes blocks, combo
    * keys, caps, candidates and Hamming verdicts.
    */
  private def dedupSimhashScaledOracleSql: String = {
    import graft.operators.Dedup.{SimhashBits, SimhashScaledBlockBits,
      MaxBucket}
    val votes = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n          ")
    val packed = (0 until SimhashBits).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("\n          + ")
    val bmask = (1L << SimhashScaledBlockBits) - 1L
    def blockSql(c: Int) =
      s"((simhash >> ${c * SimhashScaledBlockBits}) & $bmask)"
    val combos = graft.operators.Dedup.simhashBlockCombos
    val kvCase = "CASE t.ti " + combos.zipWithIndex.map { case (combo, t) =>
      val expr = combo.zipWithIndex.map { case (c, pos) =>
        s"(${blockSql(c)} << ${pos * SimhashScaledBlockBits})"
      }.mkString(" + ")
      s"WHEN $t THEN $expr "
    }.mkString + "END"
    val tis = combos.indices.mkString("[", ", ", "]")
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      h AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        FROM tok),
      v AS (
        SELECT doc_id,
          $votes
        FROM h GROUP BY doc_id),
      sig AS (
        SELECT doc_id, CAST($packed AS BIGINT) AS simhash
        FROM v),
      ch AS (
        SELECT doc_id, simhash, t.ti, $kvCase AS kv
        FROM sig, unnest($tis) AS t(ti)
        QUALIFY count(*) OVER (PARTITION BY t.ti, $kvCase)
          <= $MaxBucket),
      cand AS (
        SELECT DISTINCT a.doc_id AS a, a.simhash AS ha,
          b.doc_id AS b, b.simhash AS hb
        FROM ch a JOIN ch b
          ON a.ti = b.ti AND a.kv = b.kv AND a.doc_id < b.doc_id),
      ver AS (
        SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
      dup AS (
        SELECT b AS doc_id, min(a) AS dup_of, min(hamming) AS best_hamming
        FROM ver GROUP BY b)
      SELECT s.doc_id, s.simhash, d.dup_of, d.best_hamming,
        d.dup_of IS NULL AS keep
      FROM sig s LEFT JOIN dup d USING (doc_id)"""
  }

  /** dedup_minhash oracle, generated: the 64 per-member min aggregates
    * and the 8 band hashes are mechanical, emitted from the same loop
    * bounds the Spark query uses. Signatures are md5-derived
    * (Kirsch–Mitzenmacher: member i = (h1 + i*h2) & (2^60-1) from one
    * md5's two halves — Dedup.SigMask), so DuckDB computes bit-identical
    * signatures, bands, estimate prefilters and exact Jaccard verdicts.
    */
  /** The shared MinHash CTE prefix (tokens → shingles → 30-bit hash
    * family → 64-component signatures → per-band hashes, WITHOUT the
    * bucket cap, which differs between the batch and incremental
    * variants): single-sourced so both oracles compute identical
    * signatures from the same constants.
    */
  private def minhashCoreCtes: String = {
    import graft.operators.Dedup.{NumHashes, Bands, RowsPerBand, SigMask}
    val mins = (0 until NumHashes).map(i =>
      s"min((h1 + $i * h2) & $SigMask) AS m$i").mkString(",\n          ")
    val sigList = (0 until NumHashes).map(i => s"m$i").mkString("[", ", ", "]")
    val bandConcat = (0 until RowsPerBand).map(r =>
      s"CAST(sig[band * $RowsPerBand + ${r + 1}] AS VARCHAR)")
      .mkString(", ")
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(toks) >= 3 THEN
            list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))
          ELSE [array_to_string(toks, ' ')] END) AS shingles
        FROM t),
      hp AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(s.sh), 1, 15) AS BIGINT) AS p
        FROM sh, unnest(sh.shingles) AS s(sh)),
      hx AS (
        SELECT doc_id, (p >> 28) & $SigMask AS h1,
          (p & $SigMask) | 1 AS h2
        FROM hp),
      v AS (
        SELECT doc_id,
          $mins
        FROM hx GROUP BY doc_id),
      sg AS (SELECT doc_id, $sigList AS sig FROM v),
      bands_all AS (
        SELECT doc_id, sig, band,
          substr(md5(concat_ws(',', $bandConcat)), 1, 16) AS bh
        FROM sg, unnest(range(0, $Bands)) AS u(band))"""
  }

  private def dedupMinhashOracleSql: String = {
    import graft.operators.Dedup.{NumHashes, MaxBucket, EstEpsilon}
    val thr = 0.8
    val minNeeded = (NumHashes * (thr - EstEpsilon)).ceil.toInt
    s"""$minhashCoreCtes,
      bands AS (
        SELECT * FROM bands_all
        QUALIFY count(*) OVER (PARTITION BY band, bh) <= $MaxBucket),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        WHERE len(list_filter(range(0, $NumHashes),
          i -> x.sig[i+1] = y.sig[i+1])) >= $minNeeded),
      ver AS (
        SELECT c.a, c.b,
          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
            CAST(len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b),
      dup AS (
        SELECT b AS doc_id, min(a) AS dup_of, max(jaccard) AS best_jaccard
        FROM ver WHERE jaccard >= $thr GROUP BY b)
      SELECT d.doc_id, dup.dup_of, round(dup.best_jaccard, 4)
          AS best_jaccard,
        dup.dup_of IS NULL AS keep
      FROM documents d LEFT JOIN dup USING (doc_id)"""
  }

  /** dedup_incremental_minhash oracle: identical signature/band arithmetic via
    * [[minhashCoreCtes]]; the split, per-side bucket caps, the
    * unordered delta-vs-index candidate join and the ordered
    * delta-vs-delta self-join, the estimate gate, exact verify and
    * delta-only verdicts all mirror Dedup.dedupIncrementalMinhash
    * exactly.
    */
  private def dedupIncrementalMinhashOracleSql: String = {
    import graft.operators.Dedup.{NumHashes, MaxBucket, EstEpsilon,
      IndexDeltaMod, IndexDeltaRem}
    val thr = 0.8
    val minNeeded = (NumHashes * (thr - EstEpsilon)).ceil.toInt
    s"""$minhashCoreCtes,
      bands_c AS (
        SELECT * FROM bands_all
        WHERE doc_id % $IndexDeltaMod <> $IndexDeltaRem
        QUALIFY count(*) OVER (PARTITION BY band, bh) <= $MaxBucket),
      bands_d AS (
        SELECT * FROM bands_all
        WHERE doc_id % $IndexDeltaMod = $IndexDeltaRem
        QUALIFY count(*) OVER (PARTITION BY band, bh) <= $MaxBucket),
      cand AS (
        SELECT DISTINCT c.doc_id AS a, d.doc_id AS b
        FROM bands_d d JOIN bands_c c
          ON d.band = c.band AND d.bh = c.bh
        WHERE len(list_filter(range(0, $NumHashes),
          i -> d.sig[i+1] = c.sig[i+1])) >= $minNeeded
        UNION
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands_d x JOIN bands_d y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        WHERE len(list_filter(range(0, $NumHashes),
          i -> x.sig[i+1] = y.sig[i+1])) >= $minNeeded),
      ver AS (
        SELECT c.a, c.b,
          CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
            CAST(len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b),
      dup AS (
        SELECT b AS doc_id, min(a) AS dup_of, max(jaccard) AS best_jaccard
        FROM ver WHERE jaccard >= $thr GROUP BY b)
      SELECT d.doc_id, dup.dup_of, round(dup.best_jaccard, 4)
          AS best_jaccard,
        dup.dup_of IS NULL AS keep
      FROM (SELECT doc_id FROM documents
            WHERE doc_id % $IndexDeltaMod = $IndexDeltaRem) d
      LEFT JOIN dup USING (doc_id)"""
  }

  /** bm25_search oracle, generated so the query-term list and constants
    * stay single-sourced with Ranking.bm25Search. The per-term partial
    * scores are summed in the SAME written order as the Spark query (one
    * conditional max per term) — double addition order is part of the
    * hash contract.
    */
  private def bm25OracleSql: String = {
    import graft.operators.Ranking.{Bm25Query, Bm25K1, Bm25B}
    val qlist = Bm25Query.map(t => s"'$t'").mkString("(", ", ", ")")
    val perTerm = Bm25Query.zipWithIndex.map { case (t, i) =>
      s"coalesce(max(CASE WHEN term = '$t' THEN sc END), 0.0) AS s_$i"
    }.mkString(",\n          ")
    val sumCols = Bm25Query.indices.map(i => s"s_$i").mkString(" + ")
    s"""
      WITH base AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               x -> length(x) > 0)) AS BIGINT) AS dl,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      stats AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        FROM base),
      tf AS (
        SELECT doc_id, dl, t.term, count(*) AS tf
        FROM base, unnest(toks) AS t(term)
        WHERE t.term IN $qlist
        GROUP BY doc_id, dl, t.term),
      tfd AS (
        SELECT doc_id, dl, term, tf,
          count(*) OVER (PARTITION BY term) AS df
        FROM tf),
      scored AS (
        SELECT doc_id, dl, term,
          ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
             (CAST(df AS DOUBLE) + 0.5) + 1.0)
            * CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0} /
            (CAST(tf AS DOUBLE) + $Bm25K1 *
              (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) /
                (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS sc
        FROM tfd, stats),
      summed AS (
        SELECT doc_id, dl,
          $perTerm
        FROM scored GROUP BY doc_id, dl),
      ranked AS (
        SELECT doc_id, dl, $sumCols AS score,
          row_number() OVER (ORDER BY $sumCols DESC, doc_id) AS rank
        FROM summed)
      SELECT rank, doc_id, dl, round(score, 4) AS score
      FROM ranked WHERE rank <= 100"""
  }

  /** chunk_documents oracle, generated so the chunk size/stride/overlap
    * stay single-sourced with Curation's constants — a tuning change on
    * the Spark side cannot silently desync the oracle.
    */
  private def chunkDocumentsOracleSql: String = {
    import graft.operators.Curation.{ChunkSize, ChunkStride, ChunkOverlap}
    s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      st AS (SELECT doc_id, toks, n,
               unnest(range(0, n, $ChunkStride)) AS start FROM n)
      SELECT doc_id,
        CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
        CAST(start AS BIGINT) AS start,
        CAST(len(toks[start+1:start+$ChunkSize]) AS BIGINT)
          AS n_chunk_tokens,
        array_to_string(toks[start+1:start+$ChunkSize], ' ') AS chunk_text
      FROM st
      WHERE start = 0 OR start + $ChunkOverlap < n"""
  }

  /** hybrid_rank_fusion oracle — the BM25 oracle nested verbatim as the
    * lexical list, the dense list recomputed from embeddings, and the
    * RRF constants interpolated from Ranking so the 1/(k+rank) doubles
    * (and their fixed bm-then-vec addition order) match the Spark side
    * bit for bit.
    */
  private def hybridRankFusionOracleSql: String = {
    import graft.operators.Ranking.{RrfK, RrfTopK}
    s"""
      WITH bm AS (
        SELECT doc_id, rank AS r_bm25 FROM ($bm25OracleSql)),
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE vec_id = 0),
      vs AS (
        SELECT vec_id,
          round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6)
            AS cos_r
        FROM embeddings, q WHERE vec_id <> 0),
      vr AS (
        SELECT vec_id AS doc_id,
          row_number() OVER (ORDER BY cos_r DESC, vec_id) AS r_vec
        FROM vs ORDER BY cos_r DESC, vec_id LIMIT 100),
      f AS (
        SELECT coalesce(bm.doc_id, vr.doc_id) AS doc_id, r_bm25, r_vec,
          coalesce(1.0 / ($RrfK + CAST(r_bm25 AS DOUBLE)), 0.0)
            + coalesce(1.0 / ($RrfK + CAST(r_vec AS DOUBLE)), 0.0) AS rrf
        FROM bm FULL OUTER JOIN vr ON bm.doc_id = vr.doc_id),
      r AS (SELECT doc_id, r_bm25, r_vec, rrf,
              row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank
            FROM f)
      SELECT rank, doc_id, r_bm25, r_vec, round(rrf, 6) AS rrf_score
      FROM r WHERE rank <= $RrfTopK"""
  }

  /** dsir_weights oracle — bucket count, target slice, and threshold
    * interpolated from Curation so the hashed-feature space and smoothing
    * denominators stay single-sourced.
    */
  private def dsirWeightsOracleSql: String = {
    import graft.operators.Curation.{DsirBuckets, DsirTargetLang, DsirKeepAbove}
    s"""
      WITH base AS (
        SELECT doc_id, lang,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, lang,
          CAST('0x' || substr(md5(t.term), 1, 15) AS BIGINT)
            % $DsirBuckets AS b,
          count(*) AS tf
        FROM base, unnest(toks) AS t(term)
        GROUP BY doc_id, lang, b),
      bk AS (
        SELECT b,
          CAST(sum(CASE WHEN lang = '$DsirTargetLang' THEN tf ELSE 0 END)
            AS BIGINT) AS ct,
          CAST(sum(tf) AS BIGINT) AS cr
        FROM tf GROUP BY b),
      tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
                     CAST(sum(cr) AS BIGINT) AS nr FROM bk),
      lam AS (
        SELECT b,
          ln((CAST(ct AS DOUBLE) + 1.0) /
             (CAST(nt AS DOUBLE) + ${DsirBuckets.toDouble}))
          - ln((CAST(cr AS DOUBLE) + 1.0) /
             (CAST(nr AS DOUBLE) + ${DsirBuckets.toDouble})) AS lw
        FROM bk, tot),
      doc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
          sum(CAST(tf AS DOUBLE) * lw) AS w
        FROM tf JOIN lam USING (b) GROUP BY doc_id)
      SELECT d.doc_id, d.lang,
        coalesce(doc.n_toks, 0) AS n_toks,
        round(doc.w / CAST(doc.n_toks AS DOUBLE), 3) AS avg_w,
        coalesce(doc.w / CAST(doc.n_toks AS DOUBLE) > $DsirKeepAbove,
          false) AS keep
      FROM documents d LEFT JOIN doc ON d.doc_id = doc.doc_id"""
  }

  /** inverted_index oracle — df band interpolated from Ranking; the
    * stop cap is relative to corpus size on both sides.
    */
  private def invertedIndexOracleSql: String = {
    import graft.operators.Ranking.{IndexMinDf, IndexStopFrac}
    s"""
      WITH p AS (
        SELECT DISTINCT doc_id, t.term
        FROM (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> length(x) > 0) AS toks
              FROM documents), unnest(toks) AS t(term)),
      n AS (SELECT count(*) AS n_docs FROM documents),
      d AS (
        SELECT doc_id, term,
          count(*) OVER (PARTITION BY term) AS df
        FROM p),
      g AS (
        SELECT term, CAST(df AS BIGINT) AS df,
          list(doc_id ORDER BY doc_id) AS plist
        FROM d, n
        WHERE df >= $IndexMinDf
          AND CAST(df AS DOUBLE) <= CAST(n_docs AS DOUBLE) * $IndexStopFrac
        GROUP BY term, df)
      SELECT term, df,
        array_to_string(plist, ',') AS postings,
        array_to_string(
          list_transform(range(1, len(plist) + 1),
            i -> CASE WHEN i = 1 THEN plist[1]
                 ELSE plist[i] - plist[i - 1] END), ',') AS gaps
      FROM g"""
  }

  /** vocab_coverage oracle — targets interpolated from Ranking; DuckDB
    * unnest of a decimal literal list is cast to DOUBLE so the coverage
    * column type matches Spark's.
    */
  private def vocabCoverageOracleSql: String = {
    import graft.operators.Ranking.CoverageTargets
    s"""
      WITH base AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tf AS (
        SELECT t.term, count(*) AS cnt
        FROM base, unnest(toks) AS t(term) GROUP BY t.term),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM tf),
      sh AS (
        SELECT
          row_number() OVER (ORDER BY cnt DESC, term) AS vocab_size,
          CAST(CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM tf, tot),
      t AS (SELECT CAST(c AS DOUBLE) AS coverage
            FROM unnest(${CoverageTargets.mkString("[", ", ", "]")})
              AS u(c)),
      m AS (
        SELECT coverage, CAST(min(vocab_size) AS BIGINT) AS vocab_size
        FROM sh, t WHERE share >= coverage GROUP BY coverage)
      SELECT m.coverage, m.vocab_size, round(sh.share, 6) AS cum_share
      FROM m JOIN sh ON m.vocab_size = sh.vocab_size"""
  }

  /** events_anomaly oracle — baseline window, warmup floor, and sigma
    * threshold interpolated from EventStreams; moments from integer
    * window sums so the derived doubles match Spark bit for bit.
    */
  private def eventsAnomalyOracleSql: String = {
    import graft.streaming.EventStreams.{AnomalyBaselineHours,
      AnomalyMinBaseline, AnomalyZ}
    s"""
      WITH hourly AS (
        SELECT event_type,
          date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hr,
          count(*) AS cnt
        FROM events GROUP BY event_type, hr),
      w AS (
        SELECT event_type, hr, cnt,
          count(*) OVER win AS n_base,
          CAST(sum(cnt) OVER win AS BIGINT) AS s1,
          CAST(sum(cnt * cnt) OVER win AS BIGINT) AS s2
        FROM hourly
        WINDOW win AS (PARTITION BY event_type ORDER BY hr
          RANGE BETWEEN $AnomalyBaselineHours PRECEDING
            AND 1 PRECEDING)),
      z AS (
        SELECT event_type, hr, cnt, n_base,
          CASE WHEN n_base >= $AnomalyMinBaseline
                AND (CAST(s2 AS DOUBLE) -
                  CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
                    CAST(n_base AS DOUBLE)) /
                  (CAST(n_base AS DOUBLE) - 1.0) > 0.0
            THEN round((CAST(cnt AS DOUBLE) -
                CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)) /
              sqrt((CAST(s2 AS DOUBLE) -
                  CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
                    CAST(n_base AS DOUBLE)) /
                (CAST(n_base AS DOUBLE) - 1.0)), 3) END AS z
        FROM w)
      SELECT event_type,
        strftime(to_timestamp(hr * 3600), '%Y-%m-%d %H:00:00')
          AS hour_start,
        cnt, n_base, z,
        coalesce(abs(z) >= $AnomalyZ, false) AS anomaly
      FROM z"""
  }

  /** dsir_resample oracle — the weights oracle nested verbatim, then the
    * same deterministic Gumbel-top-k draw (md5 uniform, -ln(-ln u))
    * with constants from Curation.
    */
  private def dsirResampleOracleSql: String = {
    import graft.operators.Curation.DsirSampleK
    s"""
      WITH dw AS (SELECT * FROM ($dsirWeightsOracleSql)),
      k AS (
        SELECT doc_id, lang, avg_w,
          round(avg_w + -ln(-ln(
            (CAST('0x' || substr(md5('dr:' || CAST(doc_id AS VARCHAR)),
               1, 8) AS BIGINT) + 0.5) / 4294967296.0)), 6) AS skey
        FROM dw WHERE avg_w IS NOT NULL),
      r AS (SELECT doc_id, lang, avg_w, skey,
              row_number() OVER (ORDER BY skey DESC, doc_id) AS rank
            FROM k)
      SELECT rank, doc_id, lang, avg_w, skey
      FROM r WHERE rank <= $DsirSampleK"""
  }

  /** dedup_recall oracle — the full minhash oracle nested as the
    * "flagged" side, the exact shingle-set Jaccard ground truth
    * recomputed over the same fixed audit slice.
    */
  private def dedupRecallOracleSql: String = {
    import graft.operators.Dedup.{DedupRecallSlice, DedupRecallFloor}
    s"""
      WITH mh AS (
        SELECT doc_id FROM ($dedupMinhashOracleSql)
        WHERE dup_of IS NOT NULL),
      t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents WHERE doc_id < $DedupRecallSlice),
      sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(toks) >= 3 THEN
            list_transform(range(1, len(toks) - 1),
              i -> array_to_string(toks[i:i+2], ' '))
          ELSE [array_to_string(toks, ' ')] END) AS shingles
        FROM t),
      ex AS (SELECT doc_id, s.g FROM sh, unnest(sh.shingles) AS s(g)),
      p AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY da, db),
      sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
      tp AS (
        SELECT da, db FROM p
        JOIN sz x ON p.da = x.doc_id JOIN sz y ON p.db = y.doc_id
        WHERE CAST(inter AS DOUBLE) /
          CAST(x.n + y.n - inter AS DOUBLE) >= 0.8),
      j AS (
        SELECT count(*) AS n_truth_pairs,
          CAST(coalesce(sum(CASE WHEN a.doc_id IS NOT NULL
            OR b.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
            AS n_found_pairs
        FROM tp LEFT JOIN mh a ON tp.da = a.doc_id
                LEFT JOIN mh b ON tp.db = b.doc_id)
      SELECT n_truth_pairs, n_found_pairs,
        CASE WHEN n_truth_pairs > 0 THEN
          round(CAST(n_found_pairs AS DOUBLE) /
            CAST(n_truth_pairs AS DOUBLE), 4)
        END AS recall,
        coalesce(CASE WHEN n_truth_pairs > 0 THEN
          CAST(n_found_pairs AS DOUBLE) / CAST(n_truth_pairs AS DOUBLE)
            >= $DedupRecallFloor END, false) AS pass
      FROM j"""
  }

  private def decontaminateOracleSql: String = """
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      sh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(toks) >= 8 THEN
            list_transform(range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))
          ELSE [array_to_string(toks, ' ')] END) AS shingles
        FROM t),
      h AS (
        SELECT doc_id, md5(s.sh) AS h
        FROM sh, unnest(sh.shingles) AS s(sh)),
      bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 97 = 0),
      hits AS (
        SELECT doc_id, count(DISTINCT h.h) AS n_hits
        FROM h JOIN bench USING (h)
        WHERE doc_id % 97 <> 0
        GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(hits.n_hits, 0) AS n_hits,
        coalesce(hits.n_hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
      WHERE d.doc_id % 97 <> 0"""

  private def qualityModelOracleSql: String = """
      WITH t AS (
        SELECT doc_id, text,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      f AS (
        SELECT doc_id,
          CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
            AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
          CAST(len(list_filter(toks,
            x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE) /
            CAST(greatest(len(toks), 1) AS DOUBLE) AS stop_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) /
            CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
          least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS len_norm
        FROM t),
      z AS (
        SELECT doc_id,
          -1.2 + 2.4 * stop_ratio + 1.1 * uniq_ratio + 0.9 * len_norm
            + -1.8 * punct_ratio AS z
        FROM f)
      SELECT doc_id,
        round(1.0 / (1.0 + exp(-z)), 4) AS model_score,
        (1.0 / (1.0 + exp(-z))) > 0.5 AS keep
      FROM z"""

  private def dedupExactOracleSql: String = """
      WITH n AS (
        SELECT doc_id,
          lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        FROM documents)
      SELECT doc_id,
        doc_id = min(doc_id) OVER (PARTITION BY norm) AS keep,
        count(*) OVER (PARTITION BY norm) AS n_copies
      FROM n"""

  private def lengthFilterOracleSql: String = s"""
      WITH b AS (
        SELECT lang,
          round(quantile_cont(n_chars,
            ${graft.operators.Curation.LengthLowQ}), 4) AS p05,
          round(quantile_cont(n_chars,
            ${graft.operators.Curation.LengthHighQ}), 4) AS p95
        FROM documents GROUP BY lang)
      SELECT doc_id, d.lang, n_chars, p05, p95,
        (n_chars >= p05 AND n_chars <= p95) AS keep
      FROM documents d JOIN b USING (lang)"""

  /** curate_pipeline oracle — the four gate oracles nested verbatim and
    * joined on doc_id with the same reason-code precedence. The
    * decontaminate gate's output excludes the benchmark slice, so it
    * joins left and a null verdict becomes the benchmark_doc reason.
    */
  private def curatePipelineOracleSql: String =
    s"""
      WITH q AS (SELECT doc_id, keep AS q_ok
                 FROM ($qualityModelOracleSql)),
      l AS (SELECT doc_id, lang, keep AS len_ok
            FROM ($lengthFilterOracleSql)),
      d AS (SELECT doc_id, keep AS uniq_ok FROM ($dedupExactOracleSql)),
      c AS (SELECT doc_id, n_hits = 0 AS clean_raw
            FROM ($decontaminateOracleSql)),
      j AS (
        SELECT q.doc_id, l.lang, q_ok, len_ok, uniq_ok,
          c.doc_id IS NULL AS is_bench,
          coalesce(clean_raw, false) AS clean_ok
        FROM q
        JOIN l ON q.doc_id = l.doc_id
        JOIN d ON q.doc_id = d.doc_id
        LEFT JOIN c ON q.doc_id = c.doc_id)
      SELECT doc_id, lang, q_ok, len_ok, uniq_ok, clean_ok,
        (q_ok AND len_ok AND uniq_ok AND clean_ok) AS keep,
        CASE WHEN is_bench THEN 'benchmark_doc'
             WHEN NOT uniq_ok THEN 'duplicate'
             WHEN NOT clean_ok THEN 'contaminated'
             WHEN NOT q_ok THEN 'low_quality'
             WHEN NOT len_ok THEN 'length_outlier'
             ELSE 'keep' END AS verdict
      FROM j"""

  /** curriculum_bins oracle — quality oracle nested; cut points from
    * the same Curation literals; bin = boundaries strictly below.
    */
  private def curriculumBinsOracleSql: String = {
    import graft.operators.Curation.curriculumCuts
    s"""
      WITH sc AS (SELECT doc_id, model_score
                  FROM ($qualityModelOracleSql)),
      j AS (
        SELECT d.doc_id, d.lang, sc.model_score
        FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
      b AS (
        SELECT lang,
          quantile_cont(model_score,
            ${curriculumCuts.mkString("[", ", ", "]")}) AS qs
        FROM j GROUP BY lang)
      SELECT j.doc_id, j.lang, j.model_score,
        CAST(len(list_filter(qs, q -> j.model_score > q)) AS INT) AS bin
      FROM j JOIN b USING (lang)"""
  }

  // exact-substring window width, single-sourced with the plan (the
  // dedupIncrementalMinhashOracleSql convention: plan constants are
  // interpolated, never re-typed, so they cannot drift)
  private val SW = graft.operators.Dedup.SubstrW

  def oracleSql: Map[String, String] = Map(
    "curriculum_bins" -> curriculumBinsOracleSql,
    "curate_pipeline" -> curatePipelineOracleSql,
    "curate_gated" -> curatePipelineOracleSql,
    "dedup_recall" -> dedupRecallOracleSql,
    "hybrid_rank_fusion" -> hybridRankFusionOracleSql,
    "dsir_weights" -> dsirWeightsOracleSql,
    "dsir_resample" -> dsirResampleOracleSql,
    "inverted_index" -> invertedIndexOracleSql,
    "vocab_coverage" -> vocabCoverageOracleSql,
    "graph_degrees" -> graft.operators.Graph.graphDegreesOracleSql,
    "label_propagation" -> graft.operators.Graph.labelPropagationOracleSql,
    "graph_triangles" -> graft.operators.Graph.graphTrianglesOracleSql,
    "colloc_pmi" -> graft.operators.Ranking.collocationsPmiOracleSql,
    "kneser_ney_ll" -> graft.operators.Ranking.kneserNeyOracleSql,
    "timeseries_fill" -> graft.operators.TimeSeries.timeseriesFillOracleSql,
    "quality_regression" ->
      graft.operators.Curation.qualityRegressionOracleSql,
    "knn_graph" -> graft.operators.Ann.knnGraphOracleSql(
      graft.operators.Ann.oracleStride(dumpDirOpt)),
    // knn_graph_bucketed: the annLsh mirror at full-corpus coverage
    "knn_graph_bucketed" -> knnGraphBucketedOracleSql,
    "project_embeddings" -> graft.operators.Ann.projectEmbeddingsOracleSql,
    "events_anomaly" -> eventsAnomalyOracleSql,
    "pagerank_links" -> graft.operators.Graph.pagerankOracleSql,
    "scd2_history" -> """
      WITH ev AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
          lag(o_orderstatus) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders),
      ch AS (
        SELECT * FROM ev WHERE prev IS NULL OR prev <> o_orderstatus),
      v AS (
        SELECT o_custkey, o_orderstatus, o_orderdate,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS version,
          lead(o_orderdate) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS valid_to_ts
        FROM ch)
      SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
        o_orderstatus AS status,
        strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
        strftime(valid_to_ts, '%Y-%m-%d') AS valid_to,
        valid_to_ts IS NULL AS is_current
      FROM v""",
    "sketch_merge" -> """
      WITH toks AS (
        SELECT lang, source, t.term
        FROM (SELECT lang, source,
                list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> length(x) > 0) AS toks
              FROM documents), unnest(toks) AS t(term))
      SELECT lang,
        CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        count(DISTINCT term) AS exact_tokens,
        true AS ok
      FROM toks GROUP BY lang""",
    "zorder_layout" -> zorderOracleSql,
    "skew_diagnose" -> skewDiagnoseOracleSql,
    "grouped_topk" -> """
      SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3""",
    "dedup_containment" -> dedupContainmentOracleSql,
    "events_retention" -> """
      WITH cohorts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
          AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
      activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
          AS week
        FROM events),
      j AS (
        SELECT a.user_id, c.cohort_week,
          CAST(date_diff('day', c.cohort_week, a.week) // 7 AS INT)
            AS offset_weeks
        FROM activity a JOIN cohorts c USING (user_id)
        WHERE a.week >= c.cohort_week)
      SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
        offset_weeks, count(DISTINCT user_id) AS n_users
      FROM j GROUP BY cohort_week, offset_weeks""",
    "length_filter" -> lengthFilterOracleSql,
    "ann_lsh" -> annLshOracleSql,
    "fivegram_ll" -> ngramLlOracleSql(5, -5.0, "n_fivegrams", "avg_ll5"),
    "dedup_winnow" -> dedupWinnowOracleSql,
    "doc_fingerprint" -> docFingerprintOracleSql,
    "dedup_embedding_lsh" -> dedupEmbeddingLshOracleSql,
    "dedup_incremental" -> dedupIncrementalOracleSql,
    "dedup_simhash" -> dedupSimhashOracleSql,
    "dedup_simhash_scaled" -> dedupSimhashScaledOracleSql,
    "dedup_minhash" -> dedupMinhashOracleSql,
    "dedup_incremental_minhash" -> dedupIncrementalMinhashOracleSql,
    "dedup_stream_fold" -> dedupIncrementalMinhashOracleSql,
    "bm25_search" -> bm25OracleSql,
    "chunk_documents" -> chunkDocumentsOracleSql,
    "split_assign" -> """
      SELECT doc_id, lang,
        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '04000000'
               THEN 'val'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '08000000'
               THEN 'test'
             ELSE 'train' END AS split
      FROM documents""",
    "shuffle_shards" -> s"""
      WITH k AS (
        SELECT doc_id,
          md5(concat_ws(':', '${Curation.ShuffleSeed}',
                        CAST(doc_id AS VARCHAR)))
            AS skey
        FROM documents),
      s AS (
        SELECT doc_id, skey,
          ((ascii(substr(skey, 1, 1)) -
              CASE WHEN substr(skey, 1, 1) <= '9' THEN 48 ELSE 87 END) * 16
           + (ascii(substr(skey, 2, 1)) -
              CASE WHEN substr(skey, 2, 1) <= '9' THEN 48 ELSE 87 END))
            % ${Curation.NumShuffleShards} AS shard
        FROM k)
      SELECT doc_id, shard,
        row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
      FROM s""",
    "join_range" -> """
      SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal,
        round(abs(c_acctbal - s_acctbal), 2) AS diff
      FROM customer, supplier
      WHERE abs(c_acctbal - s_acctbal) <= 1.0""",
    "subq_correlated" -> """
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem l
      WHERE l_quantity = (SELECT max(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_orderkey = l.l_orderkey)""",
    "window_range_frame" -> """
      SELECT o_orderkey, o_custkey,
        CAST(sum(o_orderkey) OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey
          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
          AS rng_sum,
        CAST(count(*) OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey
          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rng_n
      FROM orders""",
    "quantize_embeddings" -> """
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
      m AS (
        SELECT vec_id, label, emb,
          list_max(list_transform(emb, x -> abs(x))) AS qmax
        FROM e),
      sc AS (
        SELECT vec_id, label, emb,
          CASE WHEN qmax = 0.0 THEN 0.0 ELSE 127.0 / qmax END AS scale
        FROM m),
      q AS (
        SELECT vec_id, label, emb, scale,
          list_transform(emb,
            x -> CAST(floor(x * scale + 0.5) AS INT)) AS qv
        FROM sc)
      SELECT vec_id, label, round(scale, 6) AS scale,
        array_to_string(list_transform(qv, v -> CAST(v AS VARCHAR)), ',')
          AS q,
        CASE WHEN scale = 0.0 THEN 0.0 ELSE
          round(list_max(list_transform(range(1, len(emb) + 1),
            i -> abs(emb[i] - CAST(qv[i] AS DOUBLE) / scale))), 5)
        END AS max_err
      FROM q""",
    "tfidf_topterms" -> """
      WITH toks AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> length(x) > 0) AS toks
              FROM documents), unnest(toks) AS t(term)),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      tfd AS (
        SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df
        FROM tf),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, term, tf,
          CAST(tf AS DOUBLE) *
            (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
              + 1.0) AS score
        FROM tfd, n),
      ranked AS (
        SELECT doc_id, term, score,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term) AS rank
        FROM scored)
      SELECT doc_id, rank, term, round(score, 4) AS score
      FROM ranked WHERE rank <= 5""",
    "bigram_ll" -> """
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      bg AS (
        SELECT doc_id, b.bg
        FROM (SELECT doc_id,
                list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs
              FROM t WHERE len(toks) >= 2), unnest(bgs) AS b(bg)),
      tf AS (
        SELECT doc_id, bg, count(*) AS tf,
          split_part(bg, ' ', 1) AS w1
        FROM bg GROUP BY doc_id, bg),
      totals AS (SELECT count(DISTINCT w1) AS vocab FROM tf),
      cnt AS (
        SELECT doc_id, bg, tf,
          CAST(sum(tf) OVER (PARTITION BY bg) AS BIGINT) AS cbg,
          CAST(sum(tf) OVER (PARTITION BY w1) AS BIGINT) AS cw1
        FROM tf),
      doc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
          sum(CAST(tf AS DOUBLE) *
            ln((CAST(cbg AS DOUBLE) + 1.0) /
               (CAST(cw1 AS DOUBLE) + CAST(vocab AS DOUBLE)))) AS ll
        FROM cnt, totals
        GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(doc.n_bigrams, 0) AS n_bigrams,
        round(doc.ll / CAST(doc.n_bigrams AS DOUBLE), 3) AS avg_ll2,
        coalesce(doc.ll / CAST(doc.n_bigrams AS DOUBLE) >= -10.0, false)
          AS keep
      FROM documents d LEFT JOIN doc USING (doc_id)""",
    "agg_approx_distinct" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        TRUE AS rel_err_ok
      FROM lineitem GROUP BY 1""",
    // agg_approx_quantile: the aggApproxDistinct verdict device — exact
    // percentiles hash-match (quantile_cont = Spark percentile(), the
    // interpolation parity agg_median pins), sketch accuracy lands as
    // literal-TRUE verdicts the Spark side must reproduce.
    "agg_approx_quantile" -> """
      SELECT l_returnflag,
        round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        TRUE AS p50_ok, TRUE AS p95_ok
      FROM lineitem GROUP BY l_returnflag""",
    // lang_sample: rates and coins are both SQL-expressible (pow/window
    // arithmetic + the md5-hex coin), so keep verdicts hash-match.
    "lang_sample" -> s"""
      WITH c AS (
        SELECT lang, CAST(count(*) AS DOUBLE) AS c_l,
          pow(CAST(count(*) AS DOUBLE),
            ${graft.operators.Curation.SampleTemperatureAlpha}) AS w
        FROM documents GROUP BY lang),
      t AS (SELECT sum(w) AS sw, sum(c_l) AS n FROM c),
      r AS (
        SELECT lang,
          least(1.0, w / sw * n *
            ${graft.operators.Curation.SampleBudgetFrac} / c_l) AS rate
        FROM c, t)
      SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate,
        (CAST('0x' || substr(md5('ls:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) / 4294967296.0) < r.rate AS keep
      FROM documents d JOIN r USING (lang)""",
    "ann_recall" -> """
      SELECT 'ivf' AS method, TRUE AS recall_ok
      UNION ALL SELECT 'lsh', TRUE
      UNION ALL SELECT 'pq', TRUE
      UNION ALL SELECT 'knn_lsh', TRUE""",
    "catalog_table" -> """
      SELECT n_name, count(*) AS n_cust FROM customer
      JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""",
    "quality_repetition" -> """
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      g2 AS (
        SELECT doc_id, g.g, count(*) AS c
        FROM (SELECT doc_id, list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1]) AS gs
              FROM t WHERE len(toks) >= 2), unnest(gs) AS g(g)
        GROUP BY doc_id, g.g),
      m2 AS (SELECT doc_id,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2_frac
             FROM g2 GROUP BY doc_id),
      g3 AS (
        SELECT doc_id, g.g, count(*) AS c
        FROM (SELECT doc_id, list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS gs
              FROM t WHERE len(toks) >= 3), unnest(gs) AS g(g)
        GROUP BY doc_id, g.g),
      m3 AS (SELECT doc_id,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top3_frac
             FROM g3 GROUP BY doc_id),
      g5 AS (
        SELECT doc_id, g.g, count(*) AS c
        FROM (SELECT doc_id, list_transform(range(1, len(toks) - 3),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       || ' ' || toks[i+3] || ' ' || toks[i+4]) AS gs
              FROM t WHERE len(toks) >= 5), unnest(gs) AS g(g)
        GROUP BY doc_id, g.g),
      m5 AS (SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE) /
                 CAST(sum(c) AS DOUBLE) AS dup5_frac
             FROM g5 GROUP BY doc_id)
      SELECT d.doc_id,
        round(top2_frac, 4) AS top2_frac,
        round(top3_frac, 4) AS top3_frac,
        round(dup5_frac, 4) AS dup5_frac,
        (coalesce(top2_frac <= 0.18, true) AND
         coalesce(top3_frac <= 0.16, true) AND
         coalesce(dup5_frac <= 0.15, true)) AS keep
      FROM documents d
      LEFT JOIN m2 USING (doc_id)
      LEFT JOIN m3 USING (doc_id)
      LEFT JOIN m5 USING (doc_id)""",
    "trigram_ll" -> """
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      tg AS (
        SELECT doc_id, g.tg
        FROM (SELECT doc_id,
                list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tgs
              FROM t WHERE len(toks) >= 3), unnest(tgs) AS g(tg)),
      bgc AS (
        SELECT b.bg, count(*) AS cb
        FROM (SELECT list_transform(range(1, len(toks)),
                  i -> toks[i] || ' ' || toks[i+1]) AS bgs
              FROM t WHERE len(toks) >= 2), unnest(bgs) AS b(bg)
        GROUP BY b.bg),
      uni AS (
        SELECT u.term, count(*) AS cu
        FROM t, unnest(toks) AS u(term) GROUP BY u.term),
      totals AS (SELECT CAST(sum(cu) AS BIGINT) AS n_toks,
                   count(*) AS vocab FROM uni),
      tf AS (
        SELECT doc_id, tg, count(*) AS tf,
          split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS w12,
          split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS w23,
          split_part(tg, ' ', 2) AS w2,
          split_part(tg, ' ', 3) AS w3
        FROM tg GROUP BY doc_id, tg),
      tfc AS (
        SELECT doc_id, tg, tf, w12, w23, w2, w3,
          CAST(sum(tf) OVER (PARTITION BY tg) AS BIGINT) AS ctg
        FROM tf),
      scored AS (
        SELECT doc_id, tf,
          CASE WHEN ctg >= 2
                 THEN ln(CAST(ctg AS DOUBLE) / CAST(b12.cb AS DOUBLE))
               WHEN coalesce(b23.cb, 0) >= 2
                 THEN ln(0.4 * CAST(b23.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
               ELSE ln(0.4 * 0.4 *
                 (CAST(CASE WHEN coalesce(u3.cu, 0) >= 2 THEN u3.cu
                       ELSE 0 END AS DOUBLE) + 1.0) /
                 (CAST(n_toks AS DOUBLE) + CAST(vocab AS DOUBLE)))
          END AS lp
        FROM tfc
        LEFT JOIN bgc b12 ON tfc.w12 = b12.bg
        LEFT JOIN bgc b23 ON tfc.w23 = b23.bg
        LEFT JOIN uni u2 ON tfc.w2 = u2.term
        LEFT JOIN uni u3 ON tfc.w3 = u3.term
        CROSS JOIN totals),
      doc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
          sum(CAST(tf AS DOUBLE) * lp) AS ll
        FROM scored GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(doc.n_trigrams, 0) AS n_trigrams,
        round(doc.ll / CAST(doc.n_trigrams AS DOUBLE), 3) AS avg_ll3,
        coalesce(doc.ll / CAST(doc.n_trigrams AS DOUBLE) >= -12.0, false)
          AS keep
      FROM documents d LEFT JOIN doc USING (doc_id)""",
    "unigram_ll" -> """
      WITH toks AS (
        SELECT doc_id, t.term
        FROM (SELECT doc_id,
                list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> length(x) > 0) AS toks
              FROM documents), unnest(toks) AS t(term)),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      tfc AS (
        SELECT doc_id, term, tf,
          CAST(sum(tf) OVER (PARTITION BY term) AS BIGINT) AS cnt
        FROM tf),
      totals AS (SELECT CAST(sum(tf) AS BIGINT) AS total_toks,
                   count(DISTINCT term) AS vocab FROM tf),
      doc AS (
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
          sum(CAST(tf AS DOUBLE) *
            ln((CAST(cnt AS DOUBLE) + 1.0) /
               (CAST(total_toks AS DOUBLE) + CAST(vocab AS DOUBLE)))) AS ll
        FROM tfc, totals
        GROUP BY doc_id)
      SELECT d.doc_id, coalesce(doc.dl, 0) AS dl,
        round(doc.ll / CAST(doc.dl AS DOUBLE), 3) AS avg_ll,
        coalesce(doc.ll / CAST(doc.dl AS DOUBLE) >= -9.0, false) AS keep
      FROM documents d LEFT JOIN doc USING (doc_id)""",
    "scan_read_files" -> "SELECT * FROM lineitem",
    "scan_csv_roundtrip" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        l_returnflag, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
      FROM lineitem""",
    "scan_json_roundtrip" -> """
      SELECT event_id, user_id, event_type, value,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
      FROM events""",
    "scan_orc_roundtrip" -> "SELECT * FROM part",
    "scan_schema_drift" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        CASE WHEN o_orderkey % 2 = 0 THEN NULL
             ELSE o_orderpriority END AS o_orderpriority
      FROM orders""",
    "scan_decimal_drift" -> """
      SELECT o_orderkey,
        CAST(CASE WHEN o_orderkey % 2 = 0
               THEN CAST(o_totalprice AS DECIMAL(12,2))
               ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS DOUBLE)
          AS total_price
      FROM orders""",
    "scan_partition_drift" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders""",
    "drift_report" -> """
      SELECT * FROM (VALUES
        ('o_orderkey', 'widened', 'int', 'bigint'),
        ('o_custkey', 'stable', 'bigint', 'bigint'),
        ('o_orderstatus', 'stable', 'string', 'string'),
        ('o_totalprice', 'stable', 'double', 'double'),
        ('o_orderpriority', 'added', CAST(NULL AS VARCHAR), 'string'))
        AS t(col_name, status, from_type, to_type)""",
    "compact_files" -> "SELECT * FROM part",
    "assign_row_ids" -> """
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS idx
      FROM documents""",
    "filter_where" ->
      "SELECT * FROM lineitem WHERE l_orderkey % 2 = 0 AND l_quantity > 10.0",
    "project_expr" -> """
      SELECT l_orderkey, l_linenumber,
        l_quantity + 1.0 / (2.0 + l_tax) * l_discount AS nested_arith,
        l_extendedprice - l_discount * l_extendedprice AS minus_expr,
        l_quantity % 7 AS mod7,
        (l_quantity > 25.0 AND l_discount <= 0.05) AS flag,
        l_returnflag || '|' || l_linestatus AS rf_ls
      FROM lineitem""",
    "sort_orderby" -> """
      SELECT * FROM lineitem
      ORDER BY l_returnflag DESC, l_shipdate, l_orderkey, l_linenumber""",
    "limit_topk" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
    "distinct_select" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) * CAST(1.0 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
        sum(l_quantity) / count(l_quantity) AS avg_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
        CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "agg_having" -> """
      SELECT l_suppkey,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        count(*) AS n_items
      FROM lineitem GROUP BY l_suppkey HAVING count(*) > 50""",
    "rollup_agg" -> """
      SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        count(*) AS n,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "join_inner" -> """
      SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey""",
    "join_left" -> """
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey""",
    "join_semi" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 50000.0)""",
    "join_anti" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > 300000.0)""",
    "join_broadcast_dims" -> """
      SELECT s_suppkey, s_name, n_name AS nation, r_name AS region
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey""",
    "q3_join_agg" -> """
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND o_orderkey = l_orderkey
      GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
      ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "window_rank" -> """
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn <= 5""",
    "window_running" -> """
      SELECT l_orderkey, l_linenumber, l_quantity,
        sum(l_quantity) OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_quantity
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      FROM lineitem""",
    "setop_union" -> """
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_returnflag = 'R'
      UNION ALL
      SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 45.0""",
    "setop_intersect" -> """
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT
      SELECT l_orderkey FROM lineitem WHERE l_quantity > 45.0""",
    "setop_except" -> """
      SELECT l_orderkey FROM lineitem
      EXCEPT
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'""",
    "cte_query" -> """
      WITH totals AS (
        SELECT o_custkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey),
      a AS (
        SELECT CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_total
        FROM totals)
      SELECT o_custkey, total FROM totals, a WHERE total > avg_total * 2.0""",
    "cte_recursive" -> """
      WITH RECURSIVE walk(doc_id, cur, depth) AS (
        SELECT doc_id, doc_id, 0 FROM documents
        UNION ALL
        SELECT doc_id, cur // 2, depth + 1 FROM walk WHERE cur > 0
      )
      SELECT doc_id, max(depth) AS depth_to_root
      FROM walk GROUP BY doc_id""",
    "case_cast_like" -> """
      SELECT p_partkey,
        CASE WHEN p_size < 10 THEN 'small'
             WHEN p_size < 30 THEN 'medium'
             ELSE 'large' END AS size_class,
        CAST(floor(p_retailprice) AS BIGINT) AS price_long,
        p_name LIKE '%green%' AS is_green,
        upper(p_brand) AS brand_upper,
        substring(p_type, 1, 5) AS type_prefix,
        CAST(length(p_name) AS INT) AS name_len
      FROM part""",
    "events_window" -> """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        event_type, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""",
    "join_cross" -> "SELECT n_name, r_name FROM nation CROSS JOIN region",
    "join_right" -> """
      SELECT c_custkey, c_name, o_orderkey, o_totalprice
      FROM orders RIGHT JOIN customer ON o_custkey = c_custkey""",
    "join_full_outer" -> """
      WITH big AS (
        SELECT o_custkey, count(*) AS n_big,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS big_total
        FROM orders WHERE o_totalprice > 300000.0 GROUP BY o_custkey)
      SELECT c_custkey, c_name, n_big, big_total
      FROM customer FULL OUTER JOIN big ON c_custkey = o_custkey""",
    "setop_union_distinct" -> """
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
      UNION
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 40.0""",
    "cube_agg" -> """
      SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        count(*) AS n,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INT) AS g_ls
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "window_lag_lead" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        lag(l_quantity, 1) OVER w AS prev_qty,
        lead(l_quantity, 1) OVER w AS next_qty,
        CAST(dense_rank() OVER w AS BIGINT) AS drank,
        CAST(ntile(4) OVER w AS BIGINT) AS bucket4
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice)""",
    "agg_stats" -> """
      SELECT l_returnflag, min(l_quantity) AS min_qty,
        max(l_quantity) AS max_qty,
        round(stddev_samp(l_quantity), 4) AS sd_qty,
        round(var_samp(l_quantity), 4) AS var_qty,
        round(avg(l_quantity), 4) AS avg_qty,
        count(l_quantity) AS n
      FROM lineitem GROUP BY l_returnflag""",
    "agg_median" -> """
      SELECT l_linestatus,
        round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
      FROM lineitem GROUP BY l_linestatus""",
    "agg_collect" -> """
      SELECT l_suppkey,
        array_to_string(list_sort(list_distinct(list(l_returnflag))), ',')
          AS flags,
        count(*) AS n
      FROM lineitem GROUP BY l_suppkey""",
    "date_functions" -> """
      SELECT o_orderkey,
        CAST(year(o_orderdate) AS INT) AS y,
        CAST(month(o_orderdate) AS INT) AS m,
        CAST(day(o_orderdate) AS INT) AS d,
        CAST(quarter(o_orderdate) AS INT) AS q,
        CAST(o_orderdate AS DATE) + 30 AS plus30,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
          AS INT) AS days_to_2002,
        strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      FROM orders""",
    "string_functions" -> """
      SELECT p_partkey,
        p_name ILIKE '%GREEN%' AS has_green,
        regexp_matches(p_type, '^[A-Z]+') AS starts_upper,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        lpad(p_brand, 12, '*') AS brand_padded,
        CAST(strpos(p_name, 'green') AS INT) AS green_pos,
        split_part(p_type, ' ', 1) AS type_first_word,
        reverse(p_brand) AS brand_rev
      FROM part""",
    "offset_limit" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 25 OFFSET 50""",
    "agg_topk_udaf" -> """
      SELECT l_returnflag,
        array_to_string(list_transform(
          (list(l_extendedprice ORDER BY l_extendedprice DESC))[1:3],
          x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',')
          AS top_prices,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",
    "setop_except_all" -> """
      SELECT l_orderkey, l_suppkey FROM lineitem
      EXCEPT ALL
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'""",
    "setop_intersect_all" -> """
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 30.0
      INTERSECT ALL
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'""",
    "pivot_agg" -> """
      SELECT l_suppkey,
        sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
      FROM lineitem GROUP BY l_suppkey""",
    "join_asof" -> """
      WITH v AS (SELECT user_id, ts, event_id FROM events
                 WHERE event_type = 'view'),
      b AS (SELECT user_id, ts, event_id FROM events
            WHERE event_type = 'purchase')
      SELECT b.event_id AS buy_id, v.event_id AS view_id
      FROM b ASOF LEFT JOIN v ON b.user_id = v.user_id AND v.ts <= b.ts""",
    "explode_unnest" -> """
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
        unnest(embedding) AS val
      FROM embeddings""",
    "json_functions" -> """
      SELECT event_id,
        CAST(props->>'$.k' AS BIGINT) AS k,
        CAST(props->>'$.k' AS BIGINT) AS k_typed,
        CAST(props->>'$.k' AS BIGINT) % 10 AS k_bucket
      FROM events""",
    "grouping_sets" -> """
      SELECT l_returnflag, l_suppkey, sum(l_quantity) AS sum_qty,
        count(*) AS n,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_suppkey) AS INT) AS g_sk
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey), ())""",
    "sort_nulls_first" -> """
      SELECT l_orderkey, l_linenumber,
        nullif(l_returnflag, 'R') AS maybe_flag, l_quantity
      FROM lineitem
      ORDER BY maybe_flag ASC NULLS FIRST, l_orderkey, l_linenumber,
        l_quantity""",
    "q5_local_supplier" -> """
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        count(*) AS n
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC""",
    "q7_volume_shipping" -> """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l_shipdate) AS BIGINT) AS l_year,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem, supplier, orders, customer,
        nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
      ORDER BY supp_nation, cust_nation, l_year""",
    "q9_profit" -> """
      SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(1.0 - l_discount AS DECIMAL(18,2))
          - CAST(p_retailprice AS DECIMAL(18,2)) *
            CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
      FROM lineitem, part, supplier, nation
      WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        AND s_nationkey = n_nationkey AND p_name LIKE '%red%'
      GROUP BY n_name, CAST(year(l_shipdate) AS BIGINT)
      ORDER BY nation, o_year DESC""",
    "q18_large_orders" -> """
      SELECT c_name, c_custkey, o_orderkey,
        CAST(o_orderdate AS DATE) AS orderdate, o_totalprice,
        sum(l_quantity) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE),
        o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q21_suppliers_waiting" -> """
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND CAST(l1.l_shipdate AS DATE) >
            CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND CAST(l3.l_shipdate AS DATE) >
                CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
        AND s_nationkey = n_nationkey AND n_name = 'NATION_12'
      GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""",
    "q13_custdist" -> """
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",
    "q17_small_qty_revenue" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          AS DOUBLE) / 7.0 AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey AND p_brand = 'Brand#4' AND p_size <= 10
        AND l_quantity < 0.2 * (
          SELECT avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey)""",
    "q20_concentrated_suppliers" -> """
      SELECT s_name, s_acctbal
      FROM supplier, nation
      WHERE s_suppkey IN (
          SELECT l1.l_suppkey FROM lineitem l1
          WHERE l1.l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND year(l1.l_shipdate) = 1995
          GROUP BY l1.l_suppkey, l1.l_partkey
          HAVING sum(l1.l_quantity) > 0.5 * (
            SELECT sum(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
              AND l2.l_suppkey = l1.l_suppkey))
        AND s_nationkey = n_nationkey AND n_name = 'NATION_9'
      ORDER BY s_name""",
    "q4_priority_check" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
        AND EXISTS (SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND CAST(l_shipdate AS DATE) >
                CAST(o_orderdate AS DATE) + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q6_forecast_revenue" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q8_market_share" -> """
      SELECT o_year,
        CAST(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
          AS DOUBLE) / CAST(sum(volume) AS DOUBLE) AS mkt_share
      FROM (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(1.0 - l_discount AS DECIMAL(18,2)) AS volume,
          n1.n_name AS nation
        FROM part, supplier, lineitem, orders, customer,
          nation n1, nation n2, region
        WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
          AND l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND c_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r_regionkey AND r_name = 'AMERICA'
          AND s_nationkey = n1.n_nationkey
          AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
          AND p_type = 'PROMO') all_nations
      GROUP BY o_year ORDER BY o_year""",
    "q10_returned_items" -> """
      SELECT c_custkey, c_name, c_acctbal, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q12_late_by_flag" -> """
      SELECT l_returnflag,
        CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        AND CAST(l_shipdate AS DATE) >
            CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q14_promo_revenue" -> """
      SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
            THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(1.0 - l_discount AS DECIMAL(18,2)) ELSE 0 END)
          AS DOUBLE) /
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""",
    "q15_top_supplier" -> """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
          sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
            CAST(1.0 - l_discount AS DECIMAL(18,2))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
        CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey""",
    "q19_disjunct_revenue" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem, part
      WHERE (p_partkey = l_partkey AND p_brand = 'Brand#12'
          AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        OR (p_partkey = l_partkey AND p_brand = 'Brand#23'
          AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        OR (p_partkey = l_partkey AND p_brand = 'Brand#24'
          AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""",
    "q22_sales_opportunity" -> """
      SELECT cntrycode, count(*) AS numcust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          AS totacctbal
      FROM (
        SELECT c_nationkey AS cntrycode, c_acctbal
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
          AND c_acctbal > (
            SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2)))
                AS DOUBLE) / CAST(count(*) AS DOUBLE)
            FROM customer c2
            WHERE c2.c_acctbal > 0.0
              AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= '1999-01-01')) custsale
      GROUP BY cntrycode ORDER BY cntrycode""",
    // q2/q11/q16: the partsupp tranche against the DERIVED supplies
    // relation (per-(part,supplier) fact aggregate). Each oracle runs
    // the LITERAL TPC-H form — q2's correlated MIN subquery restating
    // the full region chain, q11's scalar subquery inside HAVING,
    // q16's NOT IN — so the hash match proves each decorrelation.
    "q2_min_cost_supplier" -> """
      WITH offers AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
          min(l_extendedprice) AS mcost
        FROM lineitem GROUP BY l_partkey, l_suppkey)
      SELECT s_acctbal, s_name, n_name, p_partkey, p_name, mcost
      FROM offers, part, supplier, nation, region
      WHERE pk = p_partkey AND sk = s_suppkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND p_type = 'SMALL' AND p_size BETWEEN 10 AND 14
        AND mcost = (
          SELECT min(o2.mcost)
          FROM offers o2, supplier s2, nation n2, region r2
          WHERE o2.pk = p_partkey AND o2.sk = s2.s_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""",
    "q11_important_value" -> """
      SELECT l_partkey AS partkey,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
          AS part_value
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'
      GROUP BY l_partkey
      HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) > (
        SELECT 1.5 * (CAST(sum(val) AS DOUBLE) /
            CAST(count(*) AS DOUBLE))
        FROM (
          SELECT sum(CAST(l2.l_extendedprice AS DECIMAL(18,2)) *
            CAST(1.0 - l2.l_discount AS DECIMAL(18,2))) AS val
          FROM lineitem l2, supplier s2, nation n2
          WHERE l2.l_suppkey = s2.s_suppkey
            AND s2.s_nationkey = n2.n_nationkey
            AND n2.n_name = 'NATION_3'
          GROUP BY l2.l_partkey) v)
      ORDER BY part_value DESC, partkey""",
    "q16_supplier_count" -> """
      SELECT p_brand, p_type, p_size,
        count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "join_salted" -> """
      SELECT l_orderkey, l_linenumber, l_suppkey, s_name, l_quantity
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""",
    "agg_twophase" -> """
      SELECT l_returnflag, sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",
    // window_lag_skew: the oracle is the LITERAL per-key window — the
    // hash match proves the chunked two-pass rewrite (range chunks +
    // local windows + boundary stats) equals plain LAG/LEAD/ROW_NUMBER,
    // the saltedJoin/aggTwoPhase proof device applied to windows
    "window_lag_skew" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        lag(l_quantity, 1) OVER w AS prev_qty,
        lead(l_quantity, 1) OVER w AS next_qty,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice)""",
    // window_auto: same literal window SQL as window_lag_skew — the
    // dispatcher (Skew.windowAutoOn) picks plain vs chunked from the
    // PROFILED top-key share, and both branches are row-identical, so
    // one oracle covers whichever branch the data selects
    "window_auto" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        lag(l_quantity, 1) OVER w AS prev_qty,
        lead(l_quantity, 1) OVER w AS next_qty,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice)""",
    // window_auto_rank / _running / _range: the remaining dispatch
    // classes, each under ITS class's literal window SQL (the same
    // oracles that prove the chunked rewrites) — so the auto path is
    // oracle-proven end to end for every window class it serves,
    // whichever branch the profiled share selects at this SF
    "window_auto_rank" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        CAST(rank() OVER wd AS BIGINT) AS rnk,
        CAST(dense_rank() OVER wd AS BIGINT) AS drank,
        CAST(ntile(4) OVER wf AS BIGINT) AS bucket
      FROM lineitem
      WINDOW
        wd AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
        wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
          l_linenumber, l_partkey, l_quantity, l_extendedprice)""",
    "window_auto_running" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
          AS running_qty,
        CAST(count(*) OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "window_auto_range" -> s"""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
          AS rng_sum,
        CAST(count(*) OVER w AS BIGINT) AS rng_n
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey
        RANGE BETWEEN ${graft.operators.Skew.RangeSkewW} PRECEDING
        AND CURRENT ROW)""",
    // window_auto_events: the dispatcher on a SECOND table shape
    // (events keyed on user_id via WindowSpec.Events) — the r18
    // operators baked in lineitem's columns; this query pins that the
    // parameterized API serves any (key, ordering, value) roles under
    // the same literal-window oracle (both dispatch branches are
    // row-identical, so one oracle covers whichever the two-signal
    // profile picks at a given SF). event_id makes the full ordering
    // unique, so the row_number is deterministic.
    "window_auto_events" -> """
      SELECT user_id, event_id, ts, event_type, value,
        lag(value, 1) OVER w AS prev_val,
        lead(value, 1) OVER w AS next_val,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_type, ts,
        event_id, value)""",
    // window_lag_k: the chunked lag/lead rewrite at k = 3 — a
    // k-offset neighbor can live several chunks away, so bounded edge
    // ARRAYS are stitched along the chunk sequence
    // (Skew.windowLagSkewOn); oracle = the literal offset-3 window
    // SQL, chunked branch pinned like window_lag_skew
    "window_lag_k" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        lag(l_quantity, 3) OVER w AS prev_qty,
        lead(l_quantity, 3) OVER w AS next_qty,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate,
        l_orderkey, l_linenumber, l_partkey, l_quantity,
        l_extendedprice)""",
    // window_firstlast_skew: the whole-partition-frame class through
    // the chunked machinery — first/last/nth are PER-KEY constants,
    // reduced from bounded (chunk, key) edge arrays and broadcast
    // back (Skew.windowFirstLastSkewOn); same explicit-frame footgun
    // pin as window_firstlast
    "window_firstlast_skew" -> """
      SELECT o_orderkey, o_custkey,
        first_value(o_orderkey) OVER w AS first_key,
        last_value(o_orderkey) OVER w AS last_key,
        nth_value(o_orderkey, 2) OVER w AS nth_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // window_firstlast_nulls: the IGNORE NULLS variant — the base
    // tables carry no nulls, so the value is a planted CASE over the
    // unique orderkey (mirrored exactly in both engines); the chunked
    // form drops value-null rows before the edge extraction and
    // LEFT-joins the constants back, so an all-null key keeps its
    // rows with the window's own nulls
    "window_firstlast_nulls" -> """
      SELECT o_orderkey, o_custkey,
        first_value(val IGNORE NULLS) OVER w AS first_val,
        last_value(val IGNORE NULLS) OVER w AS last_val,
        nth_value(val, 2 IGNORE NULLS) OVER w AS nth_val
      FROM (SELECT o_orderkey, o_custkey,
              CASE WHEN o_orderkey % 7 = 0 THEN NULL
                   ELSE o_orderkey END AS val
            FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // window_rank_ext: percent_rank + cume_dist from the chunked rank
    // machinery — (rank−1)/(total−1) off the boundary rank and
    // per-key total, max(global rn) over the (key, coarse) peer group
    // (tie-invariant, fine-grained — no hot partition) over total;
    // exact integer divisions in both engines, no rounding
    "window_rank_ext" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        CAST(rank() OVER wd AS BIGINT) AS rnk,
        percent_rank() OVER wd AS prank,
        cume_dist() OVER wd AS cdist
      FROM lineitem
      WINDOW wd AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""",
    // window_auto_desc: the r20 descending flip (WindowSpec.descending)
    // under the literal DESC window SQL — DESC NULLS LAST is both
    // engines' default and the exact reverse of ASC NULLS FIRST, the
    // total-order argument the chunked rewrite's range chunks ride;
    // both dispatch branches stay row-identical
    "window_auto_desc" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        lag(l_quantity, 1) OVER w AS prev_qty,
        lead(l_quantity, 1) OVER w AS next_qty,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate DESC,
        l_orderkey DESC, l_linenumber DESC, l_partkey DESC,
        l_quantity DESC, l_extendedprice DESC)""",
    // window_rank_skew: the oracle is the LITERAL rank/dense_rank/ntile
    // window SQL — the hash match PROVES the chunked rewrite (Skew
    // .windowRankSkew's boundary algebra) equal. rank/dense_rank order
    // by the coarse l_shipdate (real ties; both are tie-invariant),
    // ntile by the full tuple (ties are full duplicates, so the bucket
    // multiset is deterministic — the window_lag_lead argument).
    "window_rank_skew" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        CAST(rank() OVER wd AS BIGINT) AS rnk,
        CAST(dense_rank() OVER wd AS BIGINT) AS drank,
        CAST(ntile(4) OVER wf AS BIGINT) AS bucket
      FROM lineitem
      WINDOW
        wd AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
        wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
          l_linenumber, l_partkey, l_quantity, l_extendedprice)""",
    // window_range_skew: literal value-range-frame SQL — the hash
    // match proves the ghost-row rewrite (backward-need + forward-tie
    // replication into neighbor chunks) exact, peers included
    "window_range_skew" -> s"""
      SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
          AS rng_sum,
        CAST(count(*) OVER w AS BIGINT) AS rng_n
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey
        RANGE BETWEEN ${graft.operators.Skew.RangeSkewW} PRECEDING
        AND CURRENT ROW)""",
    // window_running_skew: literal running-frame SQL; BIGINT summand
    // makes the chunked partial sums associativity-proof cross-engine
    "window_running_skew" -> """
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_quantity,
        CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
          AS running_qty,
        CAST(count(*) OVER w AS BIGINT) AS rn
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // embedding_centroids: component sums go through DECIMAL(25,7) on
    // both sides (order-independent addition — the dsum device for
    // vectors) and are emitted as exact doubles; the mean is left to
    // the consumer (sum/n) so no round-half boundary can diverge.
    "embedding_centroids" -> """
      SELECT label, CAST(i AS INT) AS dim, count(*) AS n,
        CAST(sum(CAST(CAST(embedding[i+1] AS VARCHAR) AS DECIMAL(25,7)))
          AS DOUBLE) AS sum_v
      FROM embeddings, unnest(range(0, len(embedding))) AS t(i)
      GROUP BY label, dim""",
    "unpivot_melt" -> """
      SELECT l_orderkey, l_linenumber, l_partkey,
        'l_quantity' AS metric, l_quantity AS value FROM lineitem
      UNION ALL SELECT l_orderkey, l_linenumber, l_partkey,
        'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT l_orderkey, l_linenumber, l_partkey,
        'l_discount', l_discount FROM lineitem
      UNION ALL SELECT l_orderkey, l_linenumber, l_partkey,
        'l_tax', l_tax FROM lineitem""",
    // merge_upsert: deterministic md5-coin batch (price adjustment by
    // exact double addition — no rounding boundary), full-outer
    // coalesce, op verdict; all mirrorable.
    "merge_upsert" -> s"""
      WITH up AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders
        WHERE substr(md5('mg:' || CAST(o_orderkey AS VARCHAR)), 1, 8)
          < '${graft.operators.RelationalExt.MergeUpdateThreshold}'),
      ins AS (
        SELECT o_orderkey + ${graft.operators.RelationalExt.MergeKeyShift}
            AS o_orderkey,
          o_custkey, o_orderstatus, o_totalprice, o_orderdate,
          o_orderpriority
        FROM orders
        WHERE substr(md5('mg:' || CAST(o_orderkey
            + ${graft.operators.RelationalExt.MergeKeyShift} AS VARCHAR)),
          1, 8) < '${graft.operators.RelationalExt.MergeInsertThreshold}'),
      u AS (SELECT * FROM up UNION ALL SELECT * FROM ins)
      SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
        coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        strftime(coalesce(u.o_orderdate, b.o_orderdate), '%Y-%m-%d')
          AS o_orderdate,
        coalesce(u.o_orderpriority, b.o_orderpriority) AS o_orderpriority,
        CASE WHEN b.o_orderkey IS NULL THEN 'insert'
             WHEN u.o_orderkey IS NULL THEN 'keep'
             ELSE 'update' END AS op
      FROM orders b FULL OUTER JOIN u ON b.o_orderkey = u.o_orderkey""",
    "heavy_hitters" -> s"""
      WITH t AS (
        SELECT unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'),
          x -> length(x) > 0)) AS token
        FROM documents)
      SELECT token, count(*) AS cnt FROM t GROUP BY token
      ORDER BY cnt DESC, token
      LIMIT ${graft.operators.TextOps.HeavyHittersK}""",
    "sample_exact_k" -> s"""
      SELECT doc_id, lang, md5('xk:' || CAST(doc_id AS VARCHAR)) AS coin
      FROM documents ORDER BY coin, doc_id
      LIMIT ${graft.operators.Curation.ExactSampleK}""",
    // domain_cap: the GroupedTopK execution is Spark-side; semantics are
    // a per-source row_number over the salted md5 coin
    "domain_cap" -> s"""
      WITH c AS (
        SELECT doc_id, source,
          md5('dc:' || CAST(doc_id AS VARCHAR)) AS coin
        FROM documents),
      r AS (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY coin, doc_id)
            AS rk
        FROM c)
      SELECT doc_id, source, rk FROM r
      WHERE rk <= ${graft.operators.Curation.DomainCapK}""",
    // weighted_sample: the A-ES race key — the 60*ln2 constant is
    // interpolated from the SAME Scala double so both engines subtract
    // an identical literal; the hex-prefix -> BIGINT -> DOUBLE route
    // produces the identical correctly-rounded double as Spark's
    // conv -> long -> double
    "weighted_sample" -> s"""
      WITH k AS (
        SELECT doc_id, n_chars,
          round((${60.0 * math.log(2.0)} - ln(
            CAST(CAST('0x' || substr(
              md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS DOUBLE) + 1.0)) /
            CAST(n_chars AS DOUBLE), 9) AS race_key
        FROM documents)
      SELECT doc_id, n_chars, race_key FROM k
      ORDER BY race_key, doc_id
      LIMIT ${graft.operators.Curation.WeightedSampleK}""",
    // winsorize_scores: quality oracle nested (the curriculum_bins
    // device); quantile_cont == Spark's exact interpolated percentile on
    // the 1e-4-quantized score, and the rescale division is one
    // correctly-rounded IEEE op on identical inputs in both engines
    "winsorize_scores" -> s"""
      WITH sc AS (SELECT doc_id, model_score
                  FROM ($qualityModelOracleSql)),
      j AS (
        SELECT d.doc_id, d.lang, sc.model_score
        FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
      b AS (
        SELECT lang,
          quantile_cont(model_score,
            ${graft.operators.Curation.WinsorLowQ}) AS p05,
          quantile_cont(model_score,
            ${graft.operators.Curation.WinsorHighQ}) AS p95
        FROM j GROUP BY lang)
      SELECT j.doc_id, j.lang, j.model_score,
        CASE WHEN p95 > p05 THEN
          round((least(greatest(j.model_score, p05), p95) - p05)
            / (p95 - p05), 6)
        ELSE 0.5 END AS w_score
      FROM j JOIN b USING (lang)""",
    // cdc_chunks: content-defined boundaries from the md5-60 mod, chunk
    // ids as a running boundary count, ordered string_agg reassembly —
    // all integer/string arithmetic, bit-identical cross-engine
    "cdc_chunks" -> s"""
      WITH t AS (
        SELECT doc_id,
          unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
        FROM (
          SELECT doc_id, list_filter(
            string_split_regex(trim(lower(text)), '\\s+'),
            x -> length(x) > 0) AS toks
          FROM documents)),
      b AS (
        SELECT doc_id, pos, tok,
          CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
            % ${graft.operators.Dedup.CdcDivisor} = 0
          THEN 1 ELSE 0 END AS bnd
        FROM t),
      ch AS (
        SELECT doc_id,
          sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id,
          tok, pos
        FROM b),
      cc AS (
        SELECT doc_id, chunk_id,
          string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        FROM ch GROUP BY doc_id, chunk_id)
      SELECT md5(chunk_text) AS chunk_hash,
        count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
        max(length(chunk_text)) AS chunk_chars
      FROM cc GROUP BY chunk_hash
      HAVING count(*) > 1
      ORDER BY n_occ DESC, chunk_hash
      LIMIT ${graft.operators.Dedup.CdcTopN}""",
    // sketch_freq: the exact top-k and total are SQL; the Misra-Gries
    // verdict is theory-guaranteed TRUE over any merge tree (the
    // agg_approx_distinct in-bound-verdict device)
    "sketch_freq" -> s"""
      WITH t AS (
        SELECT unnest(list_filter(
          string_split_regex(trim(lower(text)), '\\s+'),
          x -> length(x) > 0)) AS token
        FROM documents)
      SELECT token, count(*) AS exact_cnt, TRUE AS est_in_bound
      FROM t GROUP BY token
      ORDER BY exact_cnt DESC, token
      LIMIT ${graft.operators.TextOps.MgTopK}""",
    // decontaminate_fuzzy: per-(doc, bench) distinct-shingle containment
    // over the clean corpus + spliced leak probes; the rounded ratio keys
    // the best-match window in BOTH engines so tie order can't diverge
    "decontaminate_fuzzy" -> s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      probes AS (
        SELECT -(b.doc_id + 1) AS doc_id,
          array_to_string(
            b.toks[1:(len(b.toks) + 1) // 2] ||
            p.toks[len(p.toks) // 2 + 1:len(p.toks)], ' ') AS text
        FROM t b JOIN t p ON p.doc_id = b.doc_id + 1
        WHERE b.doc_id % 97 = 0),
      scanned AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL SELECT doc_id, text FROM probes),
      st AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM scanned),
      ssh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(toks) >= 8 THEN
            list_transform(range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))
          ELSE [array_to_string(toks, ' ')] END) AS shingles
        FROM st),
      shd AS (
        SELECT doc_id, md5(s.sh) AS h
        FROM ssh, unnest(ssh.shingles) AS s(sh)),
      bsh AS (
        SELECT doc_id,
          list_distinct(CASE WHEN len(toks) >= 8 THEN
            list_transform(range(1, len(toks) - 6),
              i -> array_to_string(toks[i:i+7], ' '))
          ELSE [array_to_string(toks, ' ')] END) AS shingles
        FROM t WHERE doc_id % 97 = 0),
      bench AS (
        SELECT doc_id AS bench_id, md5(s.sh) AS h
        FROM bsh, unnest(bsh.shingles) AS s(sh)),
      nb AS (SELECT bench_id, count(*) AS nb FROM bench GROUP BY bench_id),
      shared AS (
        SELECT shd.doc_id, b.bench_id, count(*) AS n_shared
        FROM shd JOIN bench b USING (h)
        GROUP BY shd.doc_id, b.bench_id),
      scored AS (
        SELECT doc_id, bench_id,
          round(CAST(n_shared AS DOUBLE) / nb, 6) AS containment
        FROM shared JOIN nb USING (bench_id)),
      best AS (
        SELECT doc_id, bench_id AS best_bench, containment,
          row_number() OVER (PARTITION BY doc_id
            ORDER BY containment DESC, bench_id ASC) AS rn
        FROM scored)
      SELECT s.doc_id, b.best_bench,
        coalesce(b.containment, 0.0) AS containment,
        coalesce(b.containment >=
          ${graft.operators.Curation.DecontamFuzzyThreshold},
          FALSE) AS contaminated
      FROM scanned s
      LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""",
    // window_firstlast: explicit whole-partition rows frame in BOTH
    // engines (default-frame last_value is the current row)
    "window_firstlast" -> """
      SELECT o_orderkey, o_custkey,
        first_value(o_orderkey) OVER w AS first_key,
        last_value(o_orderkey) OVER w AS last_key,
        nth_value(o_orderkey, 2) OVER w AS second_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // agg_corr: shared IEEE accumulation, drift-scaled rounding
    "agg_corr" -> """
      SELECT l_returnflag,
        round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        round(covar_samp(l_quantity, l_extendedprice), 2) AS covs_qp,
        round(covar_pop(l_quantity, l_extendedprice), 2) AS covp_qp,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag""",
    // events_heavy_users: the GroupedTopK execution is Spark-side;
    // semantics are a per-hour count rank (streaming twin:
    // EventStreams.heavyUsersStream, MG-bounded state)
    "events_heavy_users" -> s"""
      WITH hourly AS (
        SELECT date_diff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
          AS hr, user_id, count(*) AS cnt
        FROM events GROUP BY hr, user_id),
      r AS (
        SELECT hr, user_id, cnt,
          row_number() OVER (PARTITION BY hr
            ORDER BY cnt DESC, user_id ASC) AS rk
        FROM hourly)
      SELECT hr, rk, user_id, cnt FROM r
      WHERE rk <= ${graft.streaming.EventStreams.HeavyUsersK}""",
    // window_ntile: standard bucket rule + integer-ratio doubles, both
    // engine-agreed on the unique (custkey, orderkey) ordering
    "window_ntile" -> """
      SELECT o_orderkey, o_custkey,
        ntile(4) OVER w AS quartile,
        round(percent_rank() OVER w, 6) AS pct_rank,
        round(cume_dist() OVER w, 6) AS cdist
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""",
    // profile_table: generated per-column UNION ALL (exact stats; money
    // min/max through the DECIMAL(18,2) rendering device)
    "profile_table" -> graft.operators.Profile.profileTableOracleSql,
    "validate_constraints" ->
      graft.operators.Validate.validateConstraintsOracleSql,
    "drift_psi" -> graft.operators.Validate.driftPsiOracleSql,
    // histogram_equidepth: static ntile mirror over the unique
    // (price, orderkey, linenumber) ordering — no fit state, no
    // floating-point boundary, identical bucket rule in both engines
    "histogram_equidepth" ->
      graft.operators.Profile.histogramEquidepthOracleSql,
    // cogroup_audit: the cogroup is Spark-side; semantics are the carved
    // full-outer join
    "cogroup_audit" -> graft.operators.Profile.cogroupAuditOracleSql,
    // dedup_segments: tokens, aligned slicing, the distinct-doc df count
    // and the ordered filtered reassembly are all mirrorable; DuckDB's
    // `//` is integer division (its `/` is float), and string_agg of an
    // all-boilerplate doc coalesces to '' to match concat of empty.
    "dedup_segments" -> s"""
      WITH t AS (
        SELECT doc_id,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      seg AS (
        SELECT doc_id, CAST(st // ${graft.operators.Dedup.SegTokens}
            AS BIGINT) AS seg_idx,
          array_to_string(
            toks[st+1:st+${graft.operators.Dedup.SegTokens}], ' ') AS seg,
          len(toks) - st >= ${graft.operators.Dedup.SegTokens} AS is_full
        FROM t, unnest(range(0, len(toks),
          ${graft.operators.Dedup.SegTokens})) AS u(st)
        WHERE len(toks) > 0),
      b AS (
        SELECT seg FROM seg WHERE is_full GROUP BY seg
        HAVING count(DISTINCT doc_id) >= ${graft.operators.Dedup.SegMinDf}),
      f AS (
        SELECT s.doc_id, s.seg_idx, s.seg, b.seg IS NOT NULL AS is_boiler
        FROM seg s LEFT JOIN b ON s.seg = b.seg)
      SELECT doc_id, count(*) AS n_segs,
        CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
          AS n_boiler,
        md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
          FILTER (WHERE NOT is_boiler), '')) AS clean_md5
      FROM f GROUP BY doc_id""",
    // fuzzy_join: deterministic md5-coin probe slice, reproducible
    // one-char-deletion corruption, 3-gram blocking with the stop-gram
    // cap, levenshtein verify, best-match window — all mirrorable.
    "fuzzy_join" -> s"""
      WITH cat AS (
        SELECT min(p_partkey) AS cat_id, p_name AS cat_name
        FROM part GROUP BY p_name),
      probes AS (
        SELECT p_partkey AS probe_id,
          substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
            || substr(p_name,
                 CAST(p_partkey % length(p_name) AS INT) + 2) AS probe_name
        FROM part
        WHERE substr(md5('fz:' || CAST(p_partkey AS VARCHAR)), 1, 8)
          < '${graft.operators.EntityResolution.ProbeThreshold}'),
      cg AS (
        SELECT cat_id, cat_name, gram FROM (
          SELECT cat_id, cat_name, unnest(list_distinct(
            list_transform(range(1, greatest(length(cat_name)
                - ${graft.operators.EntityResolution.GramQ - 1}, 1) + 1),
              i -> substr(cat_name, CAST(i AS INT),
                ${graft.operators.EntityResolution.GramQ})))) AS gram
          FROM cat)
        QUALIFY count(*) OVER (PARTITION BY gram)
          <= ${graft.operators.EntityResolution.MaxGramBlock}),
      pg AS (
        SELECT probe_id, probe_name, unnest(list_distinct(
          list_transform(range(1, greatest(length(probe_name)
              - ${graft.operators.EntityResolution.GramQ - 1}, 1) + 1),
            i -> substr(probe_name, CAST(i AS INT),
              ${graft.operators.EntityResolution.GramQ})))) AS gram
        FROM probes),
      cand AS (
        SELECT DISTINCT probe_id, probe_name, cat_id, cat_name
        FROM pg JOIN cg USING (gram)),
      scored AS (
        SELECT probe_id, cat_id, cat_name,
          CAST(levenshtein(probe_name, cat_name) AS BIGINT) AS lev
        FROM cand
        WHERE levenshtein(probe_name, cat_name)
          <= ${graft.operators.EntityResolution.MaxEdit}),
      best AS (
        SELECT probe_id, cat_id, cat_name, lev,
          row_number() OVER (PARTITION BY probe_id
            ORDER BY lev, cat_name) AS rk
        FROM scored)
      SELECT p.probe_id, p.probe_name, b.cat_name AS match_name, b.lev,
        b.cat_name IS NOT NULL AS matched
      FROM probes p LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
        USING (probe_id)""",
    // bloom_join: the bloom prefilter admits no false negatives (probe =
    // build arithmetic) and the exact join removes false positives, so
    // the result IS the plain join — the join_salted/agg_twophase oracle
    // treatment for scale devices that must be invisible in the output.
    "bloom_join" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'""",
    // bloom_join_auto: the optimizer-injected bloom filter must be
    // invisible in the output — the oracle is the plain join, same
    // contract as bloom_join (no false negatives by construction).
    "bloom_join_auto" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'""",
    // bucket_join: bucketing changes the LAYOUT (one-time shuffle at
    // write, exchange-free joins forever after), never the answer — the
    // oracle is the same join+rollup over the un-bucketed parquet.
    "bucket_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",
    "events_sessionize" -> """
      WITH x AS (
        SELECT user_id, event_id, ts,
          epoch_ns(ts) - lag(epoch_ns(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events),
      y AS (
        SELECT user_id, event_id, ts,
          CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000000000
                        THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM x)
      SELECT user_id, session_id, count(*) AS n_events,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
      FROM y GROUP BY user_id, session_id""",
    "events_funnel" -> """
      WITH w1 AS (
        SELECT user_id, event_type, ts,
          min(CASE WHEN event_type = 'signup' THEN ts END)
            OVER (PARTITION BY user_id) AS t1
        FROM events),
      w2 AS (
        SELECT *, min(CASE WHEN event_type = 'view' AND ts >= t1
            THEN ts END) OVER (PARTITION BY user_id) AS t2
        FROM w1),
      w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t2
            THEN ts END) OVER (PARTITION BY user_id) AS t3
        FROM w2)
      SELECT user_id,
        strftime(min(t1), '%Y-%m-%d %H:%M:%S') AS signup_ts,
        strftime(min(t2), '%Y-%m-%d %H:%M:%S') AS view_ts,
        strftime(min(t3), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        (CASE WHEN min(t1) IS NULL THEN 0 ELSE 1 END +
         CASE WHEN min(t2) IS NULL THEN 0 ELSE 1 END +
         CASE WHEN min(t3) IS NULL THEN 0 ELSE 1 END) AS stage
      FROM w3 GROUP BY user_id""",
    "events_attribution" -> """
      SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id, b.value
      FROM events v, events b
      WHERE v.event_type = 'view' AND b.event_type = 'purchase'
        AND v.user_id = b.user_id
        AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR""",
    "events_enrich" -> """
      SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment, e.value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
    "events_enrich_join" -> s"""
      WITH sgn AS (
        SELECT user_id AS e_user, ts AS eff_ts, event_id AS signup_id,
          concat('seg', CAST(user_id % 4 AS VARCHAR)) AS segment
        FROM events WHERE event_type = 'signup'),
      fact AS (
        SELECT event_id, user_id, event_type, value, ts
        FROM events WHERE event_type IN ('view', 'purchase'))
      SELECT f.event_id, f.user_id, f.event_type, f.value,
        s.signup_id, s.segment
      FROM fact f LEFT JOIN sgn s
        ON f.user_id = s.e_user AND f.ts >= s.eff_ts
          AND f.ts <= s.eff_ts +
            INTERVAL ${graft.streaming.EventStreams.EnrichWindowHours}
              HOUR""",
    "text_stats" -> """
      WITH t AS (
        SELECT doc_id, n_chars, CAST(length(text) AS INT) AS len_chars,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks,
          regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS bpe
        FROM documents)
      SELECT doc_id, n_chars, len_chars,
        CAST(len(toks) AS INT) AS n_tokens,
        CAST(len(bpe) AS INT) AS n_bpe_tokens,
        CAST(len(list_distinct(toks)) AS DOUBLE) /
          CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
        CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
          AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_token_len
      FROM t""",
    "text_quality" -> """
      WITH t AS (
        SELECT doc_id, text,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents),
      r AS (
        SELECT doc_id,
          CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
            AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
          CAST(len(list_filter(toks,
            x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE) /
            CAST(greatest(len(toks), 1) AS DOUBLE) AS stop_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) /
            CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
          CAST(len(toks) AS DOUBLE) AS n_toks
        FROM t)
      SELECT doc_id, punct_ratio, stop_ratio,
        0.3 * least(stop_ratio * 4.0, 1.0) + 0.4 * uniq_ratio
          + 0.3 * least(n_toks / 100.0, 1.0) AS quality,
        (0.3 * least(stop_ratio * 4.0, 1.0) + 0.4 * uniq_ratio
          + 0.3 * least(n_toks / 100.0, 1.0)) > 0.5 AS keep
      FROM r""",
    "lang_id" -> """
      WITH t AS (
        SELECT doc_id, lang,
          list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM documents)
      SELECT doc_id, lang,
        list_max([
          {'score': len(list_filter(toks,
             x -> x IN ('der','die','das','und','ist','nicht','ein'))),
           'lang': 'de'},
          {'score': len(list_filter(toks,
             x -> x IN ('the','a','of','and','is','to','in'))),
           'lang': 'en'},
          {'score': len(list_filter(toks,
             x -> x IN ('el','la','de','que','los','es','una'))),
           'lang': 'es'},
          {'score': len(list_filter(toks,
             x -> x IN ('le','la','les','et','des','est','une'))),
           'lang': 'fr'},
          {'score': len(list_filter(toks,
             x -> x IN ('de','shi','le','bu','wo','zai','you'))),
           'lang': 'zh'}]).lang AS lang_pred
      FROM t""",
    "pii_redact" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
          AS n_emails,
        CAST(len(regexp_extract_all(text,
          '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        md5(regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
            'g'),
          '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
      FROM documents""",
    "decontaminate" -> decontaminateOracleSql,
    "quality_model" -> qualityModelOracleSql,
    "pack_sequences" -> """
      WITH t AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(
            string_split_regex(trim(lower(text)), '\s+'),
            x -> length(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT doc_id, lang, n_tokens,
          CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            - n_tokens AS start_tok
        FROM t)
      SELECT doc_id, lang, n_tokens,
        start_tok // 2048 AS bin_id,
        start_tok % 2048 AS bin_offset
      FROM r""",
    "sample_stratified" -> """
      WITH c AS (
        SELECT doc_id, lang,
          substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS coin,
          CASE lang WHEN 'en' THEN '80000000'
                    WHEN 'fr' THEN 'cccccccc'
                    WHEN 'es' THEN 'cccccccc'
                    WHEN 'de' THEN 'cccccccc'
                    ELSE 'g' END AS thr
        FROM documents)
      SELECT doc_id, lang, coin FROM c WHERE coin < thr""",
    "dedup_exact" -> dedupExactOracleSql,
    // dedup_substring / dedup_substring_clean: exact-substring dedup
    // (Lee et al. 2022 ExactSubstr at fixed w=10). The oracle rebuilds
    // the whole pipeline literally: every 10-token window hashed,
    // >=2-occurrence windows kept, hit positions merged into maximal
    // spans by the gaps-and-islands device (gap <= w merges — lag's
    // NULL on the first row falls to the ELSE, exactly Spark's
    // otherwise()); the clean twin cuts covered token positions and
    // re-joins the remainder in order. 1-based BIGINT positions, list
    // slice t[i:i+9] == slice(t, i, 10), both inclusive.
    "dedup_substring" -> s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= $SW),
      pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
          md5(array_to_string(t[i:i+${SW - 1}], ' ')) AS wh
        FROM toks, UNNEST(generate_series(1, len(t) - ${SW - 1})) AS g(i)),
      dup AS (SELECT wh FROM pos GROUP BY wh HAVING count(*) >= 2),
      hits AS (SELECT doc_id, i FROM pos
        WHERE wh IN (SELECT wh FROM dup)),
      isl AS (
        SELECT doc_id, i,
          CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $SW
            THEN 0 ELSE 1 END AS brk
        FROM hits),
      grp AS (
        SELECT doc_id, i,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY i
            ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, min(i) AS span_start, max(i) + ${SW - 1} AS span_end,
        max(i) + ${SW - 1} - min(i) + 1 AS span_len
      FROM grp GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",
    // keepone: the oracle elects each window's canonical occurrence
    // with the LITERAL row_number formulation; the plan runs an
    // unordered min(struct)-over-window riding the hits exchange — the
    // hash match proves them equal ((doc_id, i) is unique within a
    // window hash).
    "dedup_substring_keepone" -> s"""
      WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= $SW),
      pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
          md5(array_to_string(t[i:i+${SW - 1}], ' ')) AS wh
        FROM toks, UNNEST(generate_series(1, len(t) - ${SW - 1})) AS g(i)),
      dup AS (SELECT wh FROM pos GROUP BY wh HAVING count(*) >= 2),
      hits AS (SELECT doc_id, i, wh FROM pos
        WHERE wh IN (SELECT wh FROM dup)),
      canon AS (
        SELECT wh, doc_id AS cd, i AS ci FROM (
          SELECT wh, doc_id, i,
            row_number() OVER (PARTITION BY wh ORDER BY doc_id, i) AS rn
          FROM hits) r WHERE rn = 1),
      cut AS (
        SELECT h.doc_id, h.i FROM hits h JOIN canon c ON h.wh = c.wh
        WHERE NOT (h.doc_id = c.cd AND h.i = c.ci)),
      isl AS (
        SELECT doc_id, i,
          CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= $SW
            THEN 0 ELSE 1 END AS brk
        FROM cut),
      grp AS (
        SELECT doc_id, i,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY i
            ROWS UNBOUNDED PRECEDING) AS island
        FROM isl)
      SELECT doc_id, min(i) AS span_start, max(i) + ${SW - 1} AS span_end,
        max(i) + ${SW - 1} - min(i) + 1 AS span_len
      FROM grp GROUP BY doc_id, island
      ORDER BY doc_id, span_start""",
    "dedup_substring_clean" -> s"""
      WITH toksall AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      toks AS (SELECT doc_id, t FROM toksall WHERE len(t) >= $SW),
      pos AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
          md5(array_to_string(t[i:i+${SW - 1}], ' ')) AS wh
        FROM toks, UNNEST(generate_series(1, len(t) - ${SW - 1})) AS g(i)),
      dup AS (SELECT wh FROM pos GROUP BY wh HAVING count(*) >= 2),
      hits AS (SELECT doc_id, i FROM pos
        WHERE wh IN (SELECT wh FROM dup)),
      cov AS (
        SELECT DISTINCT doc_id, i + g.o AS p
        FROM hits, UNNEST(generate_series(0, ${SW - 1})) AS g(o)),
      tp AS (
        SELECT doc_id, CAST(j AS BIGINT) AS j, t[j] AS tok
        FROM toksall, UNNEST(generate_series(1, len(t))) AS gg(j)),
      kept AS (
        SELECT tp.doc_id, tp.j, tp.tok FROM tp
        WHERE NOT EXISTS (SELECT 1 FROM cov
          WHERE cov.doc_id = tp.doc_id AND cov.p = tp.j))
      SELECT ta.doc_id,
        coalesce(string_agg(k.tok, ' ' ORDER BY k.j), '') AS clean_text,
        count(k.j) AS n_kept,
        CAST(max(len(ta.t)) AS BIGINT) - count(k.j) AS n_removed
      FROM toksall ta LEFT JOIN kept k ON k.doc_id = ta.doc_id
      GROUP BY ta.doc_id
      ORDER BY ta.doc_id""",
    "dedup_ngram" -> """
      WITH g AS (
        SELECT doc_id, lang, n_chars // 64 AS blk,
          list_filter(
            CASE WHEN length(text) >= 4 THEN
              list_distinct(list_transform(range(1, length(text) - 2),
                i -> substring(text, i, 4)))
            ELSE [text] END,
            x -> substring(md5(x), 1, 1) IN ('0','1','2','3')) AS ng
        FROM documents),
      m AS (
        SELECT doc_id, lang, blk, ng, len(ng) AS n,
          list_transform(ng, x -> md5(x)) AS mgs
        FROM g),
      h AS (
        SELECT doc_id, lang, blk, ng, n,
          list_min(mgs) AS mg,
          list_transform(range(0, 8),
            i -> list_min(list_transform(mgs,
              s -> substring(s, 1 + 4*i, 4)))) AS sig
        FROM m
        QUALIFY count(*) OVER (PARTITION BY lang, blk, list_min(mgs)) <= 200),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
          len(list_intersect(a.ng, b.ng)) AS inter
        FROM h a, h b
        WHERE a.lang = b.lang AND a.blk = b.blk AND a.mg = b.mg
          AND a.doc_id < b.doc_id AND a.n > 0
          AND CAST(least(a.n, b.n) AS DOUBLE) >=
              CAST(greatest(a.n, b.n) AS DOUBLE) * 0.8
          AND len(list_filter(range(0, 8), i -> a.sig[i+1] = b.sig[i+1])) >= 5)
      SELECT doc_a, doc_b,
        round(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 4)
          AS jaccard
      FROM p
      WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.8""",
    "dedup_clusters" -> """
      WITH RECURSIVE g AS (
        SELECT doc_id, lang, n_chars // 64 AS blk,
          list_filter(
            CASE WHEN length(text) >= 4 THEN
              list_distinct(list_transform(range(1, length(text) - 2),
                i -> substring(text, i, 4)))
            ELSE [text] END,
            x -> substring(md5(x), 1, 1) IN ('0','1','2','3')) AS ng
        FROM documents),
      m AS (
        SELECT doc_id, lang, blk, ng, len(ng) AS n,
          list_transform(ng, x -> md5(x)) AS mgs
        FROM g),
      h AS (
        SELECT doc_id, lang, blk, ng, n,
          list_min(mgs) AS mg,
          list_transform(range(0, 8),
            i -> list_min(list_transform(mgs,
              s -> substring(s, 1 + 4*i, 4)))) AS sig
        FROM m
        QUALIFY count(*) OVER (PARTITION BY lang, blk, list_min(mgs)) <= 200),
      p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
          len(list_intersect(a.ng, b.ng)) AS inter
        FROM h a, h b
        WHERE a.lang = b.lang AND a.blk = b.blk AND a.mg = b.mg
          AND a.doc_id < b.doc_id AND a.n > 0
          AND CAST(least(a.n, b.n) AS DOUBLE) >=
              CAST(greatest(a.n, b.n) AS DOUBLE) * 0.8
          AND len(list_filter(range(0, 8), i -> a.sig[i+1] = b.sig[i+1])) >= 5),
      pr AS (
        SELECT doc_a, doc_b FROM p
        WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.8),
      edges AS (
        SELECT doc_a AS s, doc_b AS t FROM pr
        UNION SELECT doc_b, doc_a FROM pr),
      reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
      roots AS (
        SELECT s AS doc_id, least(s, min(t)) AS cluster_root
        FROM reach GROUP BY s)
      SELECT r.doc_id, r.cluster_root, sz.cluster_size
      FROM roots r
      JOIN (SELECT cluster_root, count(*) AS cluster_size
            FROM roots GROUP BY cluster_root) sz
        USING (cluster_root)""",
    "dedup_embedding" -> """
      WITH e AS (
        SELECT label, vec_id, embedding FROM embeddings
        QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id)
          <= 100000)
      SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
        round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
      FROM e a, e b
      WHERE a.label = b.label AND a.vec_id < b.vec_id
        AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])) >= 0.4""",
    "ann_bruteforce" -> """
      WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
                 FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings),
      s AS (SELECT q_id, cand_id,
              round(list_cosine_similarity(qe, ce), 6) AS cos_r
            FROM q, c WHERE q_id <> cand_id),
      r AS (SELECT q_id, cand_id, cos_r,
              row_number() OVER (PARTITION BY q_id
                ORDER BY cos_r DESC, cand_id) AS rank
            FROM s)
      SELECT q_id, rank, cand_id, cos_r FROM r WHERE rank <= 10""",
    "multimodal_meta" -> """
      SELECT doc_id,
        CAST(strlen(text) AS INT) AS n_bytes,
        CASE WHEN strlen(text) % 4 = 0 THEN 'image/png'
             WHEN strlen(text) % 4 = 1 THEN 'image/jpeg'
             WHEN strlen(text) % 4 = 2 THEN 'audio/wav'
             ELSE 'video/mp4' END AS mime,
        CAST(64 + strlen(text) % 512 AS INT) AS width,
        CAST(64 + (strlen(text) * 7) % 512 AS INT) AS height
      FROM documents""",
    // multimodal features: EVERYTHING the pass computes on the synthetic
    // corpus, recomputed from documents arithmetic (ASCII corpus — char
    // codes are bytes); the checked slice carries the histogram as raw
    // DOUBLE columns, the driver-facing form as micro-unit int strings
    "multimodal_features_checked" ->
      graft.operators.Multimodal.multimodalFeaturesCheckedOracleSql,
    "multimodal_features" ->
      graft.operators.Multimodal.multimodalFeaturesOracleSql,
  ) ++ annIvfOracleSqlOpt ++ annIncrementalOracleSqlOpt ++
    // the streaming fold's oracle is the batch operator's verbatim —
    // the fold==batch proof device (see dedup_stream_fold)
    annIncrementalOracleSqlOpt.map { case (_, sql) =>
      "ann_stream_fold" -> sql } ++
    dedupSemanticOracleSqlOpt ++
    annPqOracleSqlOpt ++ annIvfPqOracleSqlOpt ++ annAutoProbeOracleSqlOpt
}
