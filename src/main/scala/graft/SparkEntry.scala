package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §7
  * (build plan). Every implemented operator has a `queries` entry and,
  * where SQL-expressible, a DuckDB `oracleSql` twin with identical
  * column names and deterministic ordering/rounding (SURVEY.md §6).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Pricing(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.E relational core
    "q1_pricing"      -> (Relational.q1Pricing _),
    "q3_revenue_topk" -> (Relational.q3RevenueTopK _),
    "q5_region_join"  -> (Relational.q5RegionJoin _),
    "q_window"        -> (Relational.qWindow _),
    "q_part_revenue"  -> (Relational.qPartRevenue _),
    "q_rolling"       -> (Relational.qRolling _),
    // §2.D analytics
    "contribution_analytics" -> (Analytics.contributionAnalytics _),
    "top_rated"        -> ((s, d) => Analytics.topRated(s, d)),
    "recent_n"         -> ((s, d) => Analytics.recentN(s, d)),
    "paginate"         -> ((s, d) => Analytics.paginate(s, d)),
    "sessionize"       -> ((s, d) => Analytics.sessionize(s, d)),
    "session_stats"    -> ((s, d) => Analytics.sessionStats(s, d)),
    "live_users"       -> ((s, d) => Analytics.liveUsers(s, d)),
    "activity_summary" -> ((s, d) => Analytics.activitySummary(s, d)),
    "dashboard_stats"  -> (Analytics.dashboardStats _),
    "props_extract"    -> (Analytics.propsExtract _),
    "funnel"           -> (Analytics.funnel _),
    "cohort_retention" -> (Analytics.cohortRetention _),
    "asof_prev_view"   -> (AsOf.asofPrevView _),
    "range_active_sessions" -> (RangeJoin.rangeActiveSessions _),
    "session_overlap"       -> (RangeJoin.sessionOverlap _),
    "value_percentiles" -> (Analytics.valuePercentiles _),
    "event_windows"     -> (Analytics.eventWindows _),
    "value_outliers"    -> (Analytics.valueOutliers _),
    "status_transition" -> (Analytics.statusTransition _),
    "session_cleanup"   -> ((s, d) => Analytics.sessionCleanup(s, d)),
    "session_cleanup_apply" -> ((s, d) => Analytics.sessionCleanupApply(s, d)),
    "q_rollup"          -> (Analytics.qRollup _),
    "pivot_events"      -> (Analytics.pivotEvents _),
    // sketch ops: no oracle (implementations differ) → rows-only check
    "approx_live_users" -> ((s, d) => Analytics.approxLiveUsers(s, d)),
    "approx_value_percentiles" -> (Analytics.approxValuePercentiles _),
    "approx_top_tokens" -> (TextAnalysis.approxTopTokens _),
    // §2.A ingestion / text processing
    "doc_chunk"       -> (Ingest.docChunk _),
    "doc_chunk_stats" -> (Ingest.docChunkStats _),
    "doc_embed"       -> (Ingest.docEmbedQuery _),
    "vec_normalize"   -> (Ingest.vecNormalize _),
    "pipeline_ingest" -> (Ingest.pipelineIngest _),
    "index_search"    -> ((s, d) => graft.sources.ChunkIndex.indexSearch(s, d)),
    "index_search_dsv2" -> ((s, d) => graft.sources.ChunkIndex.indexSearchDsv2(s, d)),
    "jsonl_ingest"    -> ((s, d) => graft.sources.Formats.jsonlIngest(s, d)),
    // §2.F LLM-data-pipeline operators
    "dedup_exact"     -> (Dedup.dedupExact _),
    "dedup_paragraph" -> (Dedup.dedupParagraph _),
    "dedup_apply"     -> ((s, d) => Dedup.dedupApply(s, d)),
    "dedup_clusters"  -> (Dedup.dedupClusters _),
    "neardup_apply"   -> ((s, d) => Dedup.neardupApply(s, d)),
    "dataset_split"   -> ((s, d) => Dedup.datasetSplit(s, d)),
    "dataset_split_incremental" -> ((s, d) => Dedup.datasetSplitIncremental(s, d)),
    "deterministic_sample" -> ((s, d) => Dedup.deterministicSample(s, d)),
    "dedup_minhash"   -> ((s, d) => Dedup.dedupMinhash(s, d)),
    "dedup_minhash_grouped"  -> ((s, d) => Dedup.dedupMinhashGrouped(s, d)),
    "dedup_clusters_grouped" -> (Dedup.dedupClustersGrouped _),
    "neardup_incremental" -> ((s, d) => Dedup.neardupIncremental(s, d)),
    "dedup_simhash"   -> (Dedup.dedupSimhash _),
    "ngram_jaccard"   -> (Dedup.ngramJaccard _),
    "lang_id"         -> (TextAnalysis.langId _),
    "quality_score"   -> (TextAnalysis.qualityScore _),
    "quality_perplexity" -> ((s, d) => Perplexity.qualityPerplexity(s, d)),
    "quality_perplexity_buckets" -> ((s, d) => Perplexity.qualityPerplexityBuckets(s, d)),
    "quality_perplexity_apply" -> ((s, d) => Perplexity.qualityPerplexityApply(s, d)),
    "quality_perplexity_ref" -> ((s, d) => Perplexity.qualityPerplexityRef(s, d)),
    "quality_perplexity_backoff" -> ((s, d) => Perplexity.qualityPerplexityBackoff(s, d)),
    "quality_perplexity_kn" -> ((s, d) => Perplexity.qualityPerplexityKn(s, d)),
    "quality_perplexity_kn3" -> ((s, d) => Perplexity.qualityPerplexityKn3(s, d)),
    "quality_perplexity_kn5" -> ((s, d) => Perplexity.qualityPerplexityKn5(s, d)),
    "dsir_score"      -> ((s, d) => Perplexity.dsirScore(s, d)),
    "dsir_select"     -> ((s, d) => Perplexity.dsirSelect(s, d)),
    "token_count"     -> (TextAnalysis.tokenCount _),
    "doc_fingerprint" -> (TextAnalysis.docFingerprint _),
    "multimodal_meta" -> (TextAnalysis.multimodalMeta _),
    "doc_extract"     -> ((s, d) => Multimodal.docExtract(s, d)),
    "doc_decode"      -> ((s, d) => Multimodal.docDecode(s, d)),
    "doc_decode_pdf"  -> ((s, d) => Multimodal.docDecodePdf(s, d)),
    "validate_docs"   -> ((s, d) => TextAnalysis.validateDocs(s, d)),
    "clean_text"      -> ((s, d) => TextAnalysis.cleanText(s, d)),
    "pii_scrub"       -> ((s, d) => TextAnalysis.piiScrub(s, d)),
    "repetition_score" -> (TextAnalysis.repetitionScore _),
    "gopher_quality"  -> (TextAnalysis.gopherQuality _),
    "gopher_filter"   -> ((s, d) => TextAnalysis.gopherFilter(s, d)),
    "c4_line_stats"   -> (TextAnalysis.c4LineStats _),
    "c4_filter"       -> ((s, d) => TextAnalysis.c4Filter(s, d)),
    "fineweb_linededup" -> ((s, d) => TextAnalysis.finewebLineDedup(s, d)),
    "c4_span_dedup"     -> ((s, d) => TextAnalysis.c4SpanDedup(s, d)),
    "stratified_balance" -> ((s, d) => TextAnalysis.stratifiedBalance(s, d)),
    "contamination_check" -> ((s, d) => Dedup.contaminationCheck(s, d)),
    "corpus_curate"   -> ((s, d) => Curate.corpusCurate(s, d)),
    "curate_apply"    -> ((s, d) => Curate.curateApply(s, d)),
    "token_vocab"     -> ((s, d) => TextAnalysis.tokenVocab(s, d)),
    "sequence_pack"   -> ((s, d) => Pack.seqPack(s, d)),
    "sequence_pack_bpe" -> ((s, d) => Pack.seqPackBpe(s, d)),
    "pack_stats"      -> ((s, d) => Pack.packStats(s, d)),
    "dataset_mix"     -> ((s, d) => Pack.datasetMix(s, d)),
    "dataset_mix_epochs" -> ((s, d) => Pack.datasetMixEpochs(s, d)),
    "dataset_mix_temperature" -> ((s, d) => Pack.datasetMixTemperature(s, d)),
    "pipeline_trainprep" -> ((s, d) => Pack.trainPrep(s, d)),
    "pipeline_trainprep_mixed" -> ((s, d) => Pack.trainPrepMixed(s, d)),
    "pipeline_trainprep_scored" -> ((s, d) => Pack.trainPrepScored(s, d)),
    // §2.B vector search
    "knn_brute"       -> ((s, d) => VectorSearch.knnBrute(s, d)),
    "knn_threshold"   -> ((s, d) => VectorSearch.knnThreshold(s, d)),
    "ann_ivf"         -> ((s, d) => VectorSearch.annIvf(s, d)),
    "ann_lsh"         -> (VectorSearch.annLsh _),
    "ann_lsh_recall"  -> (VectorSearch.annLshRecall _),
    "ann_recall"      -> (VectorSearch.annRecall _),
    "ann_quantized"   -> (VectorSearch.annQuantized _),
    "ann_quantized_recall" -> (VectorSearch.annQuantizedRecall _),
    "ann_ivf_quantized" -> (VectorSearch.annIvfQuantized _),
    "ann_ivf_kmeans"  -> (VectorSearch.annIvfKmeans _),
    "diversity_sample" -> ((s, d) => VectorSearch.diversitySample(s, d)),
    "ann_pq"          -> (VectorSearch.annPq _),
    "ann_pq_recall"   -> (VectorSearch.annPqRecall _),
    "ann_opq"         -> (VectorSearch.annOpq _),
    "ann_opq_recall"  -> (VectorSearch.annOpqRecall _),
    "ann_ivfpq"        -> (VectorSearch.annIvfPq _),
    "ann_ivfpq_recall" -> (VectorSearch.annIvfPqRecall _),
    "ann_ivfpq_residual"        -> (VectorSearch.annIvfPqResidual _),
    "ann_ivfpq_residual_recall" -> (VectorSearch.annIvfPqResidualRecall _),
    "knn_text"        -> (VectorSearch.knnText _),
    "knn_model"       -> ((s, d) => VectorSearch.knnModel(s, d)),
    "knn_model_trained" -> ((s, d) => VectorSearch.knnModelTrained(s, d)),
    "image_search"    -> ((s, d) => Multimodal.imageSearch(s, d)),
    "dedup_embedding" -> (VectorSearch.dedupEmbedding _),
    "semdedup"        -> (VectorSearch.semDedup _),
    "semdedup_apply"  -> ((s, d) => VectorSearch.semDedupApply(s, d)),
    "proto_select"    -> (VectorSearch.protoSelect _),
    // §2.C keyword + hybrid search
    "keyword_search"    -> ((s, d) => KeywordSearch.keywordSearch(s, d)),
    "keyword_bm25"      -> ((s, d) => KeywordSearch.keywordBm25(s, d)),
    "hybrid_rrf"        -> (KeywordSearch.hybridRrf _),
    "keyword_substring" -> (KeywordSearch.keywordSubstring _),
    "hybrid_quality"    -> (KeywordSearch.hybridQuality _),
    "hybrid_rank"       -> (KeywordSearch.hybridRank _),
    "hybrid_context"    -> (KeywordSearch.hybridContext _),
    "hybrid_context_prioritized" -> (KeywordSearch.hybridContextPrioritized _),
    "hybrid_context_fallback" -> (KeywordSearch.hybridContextFallback _),
    "ask_batch"         -> (KeywordSearch.askBatch _),
  )

  /** Normalized double vectors + norms over `embeddings`. */
  private val vecCte =
    """WITH e AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |n AS (SELECT vec_id, label, emb,
      |    sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e)""".stripMargin

  /** Two-section combined context (shared by hybrid_context, its
    * prioritized variant, and ask_batch) — oracle twin of
    * KeywordSearch.contextOf: contribution blocks from kr, DOCUMENT
    * blocks from tr (so the query must also splice in textEmbBody),
    * each side's section dropped when it has no hits; in prioritized
    * mode the headers emphasize contributions and the document header
    * reverts to the combined form when contributions are absent
    * (enhanced_search.py:229's fallback).
    */
  private def contextCte(prioritized: Boolean): String = {
    val cPfx = if (prioritized) "🎯 HIGHLY RELEVANT USER CONTRIBUTION #"
               else "USER CONTRIBUTION #"
    val cHdr = if (prioritized) "USER CONTRIBUTIONS (PRIORITIZED):"
               else "USER CONTRIBUTIONS AND ENHANCEMENTS:"
    val fHdr = if (prioritized)
      "CASE WHEN c.c_sec IS NOT NULL THEN 'SUPPLEMENTARY DOCUMENTATION:' ELSE 'ORIGINAL KNOWLEDGE BASE:' END"
    else "'ORIGINAL KNOWLEDGE BASE:'"
    s"""kw AS (SELECT q_id, doc_id, score, rating, rk FROM kr WHERE rk <= 5),
       |hits AS (SELECT kw.*, d.text FROM kw JOIN documents d USING (doc_id)),
       |blocks AS (SELECT q_id, rk,
       |  concat('$cPfx', CAST(rk AS VARCHAR), ':', chr(10),
       |    'Answer: ', substr(text, 1, 40), chr(10),
       |    'Rating: ', CAST(rating AS VARCHAR), '/5.0 (Similarity: ',
       |    CAST(CAST(floor(score*10000 + 0.5) AS BIGINT) AS VARCHAR), 'bp)') AS block
       |  FROM hits),
       |csec AS (SELECT q_id, concat('$cHdr', chr(10),
       |  array_to_string(list(block ORDER BY rk), concat(chr(10), chr(10)))) AS c_sec
       |  FROM blocks GROUP BY q_id),
       |fhits AS (SELECT tr.q_id, tr.doc_id, tr.cos, tr.rk, d.text, d.source
       |  FROM tr JOIN documents d USING (doc_id) WHERE tr.rk <= 5),
       |fblocks AS (SELECT q_id, rk,
       |  concat('DOCUMENT #', CAST(rk AS VARCHAR), ' (from ', source, '):', chr(10),
       |    substr(text, 1, 40), chr(10), '(Similarity: ',
       |    CAST(CAST(floor(cos*10000 + 0.5) AS BIGINT) AS VARCHAR), 'bp)') AS block
       |  FROM fhits),
       |fsec AS (SELECT q_id,
       |  array_to_string(list(block ORDER BY rk), concat(chr(10), chr(10))) AS f_blocks
       |  FROM fblocks GROUP BY q_id),
       |ctx AS (SELECT coalesce(c.q_id, f.q_id) AS q_id,
       |  concat_ws(concat(chr(10), chr(10)), c.c_sec,
       |    CASE WHEN f.f_blocks IS NOT NULL
       |      THEN concat($fHdr, chr(10), f.f_blocks) END) AS combined_context
       |  FROM csec c FULL OUTER JOIN fsec f ON c.q_id = f.q_id)""".stripMargin
  }

  /** Merged sources listing + 4-way recommendation — oracle twin of
    * KeywordSearch.sourcesOf and the askBatch recommendation column.
    */
  private val sourcesCte =
    """fsrc AS (SELECT tr.q_id, 0 AS grp, tr.rk,
      |  concat('filename=', d.source, '; page=Unknown; similarity=',
      |    CAST(CAST(floor(tr.cos*10000 + 0.5) AS BIGINT) AS VARCHAR),
      |    'bp; source_type=original_document; text_preview=',
      |    substr(d.text, 1, 40)) AS line
      |  FROM tr JOIN documents d USING (doc_id) WHERE tr.rk <= 5),
      |csrc AS (SELECT kr.q_id, 1 AS grp, kr.rk,
      |  concat('filename=User Contribution; page=N/A; similarity=',
      |    CAST(CAST(floor(kr.score*10000 + 0.5) AS BIGINT) AS VARCHAR),
      |    'bp; source_type=user_contribution; contribution_id=',
      |    CAST(kr.doc_id AS VARCHAR),
      |    '; rating=', CAST(kr.rating AS VARCHAR),
      |    '; usage_count=', CAST(d.n_chars AS VARCHAR),
      |    '; text_preview=', substr(d.text, 1, 40)) AS line
      |  FROM kr JOIN documents d USING (doc_id) WHERE kr.rk <= 5),
      |srcs AS (SELECT q_id, array_to_string(list(line ORDER BY grp, rk), chr(10)) AS sources
      |  FROM (SELECT * FROM fsrc UNION ALL SELECT * FROM csrc) GROUP BY q_id)""".stripMargin

  /** 6-bit random-hyperplane LSH codes over `n` (vecCte) — oracle
    * twin of VectorSearch.lshCode: plane length follows len(emb).
    */
  private val lshCodesCte =
    """bits AS (SELECT vec_id, ii.i AS i,
      |    CASE WHEN list_sum([emb[d+1] *
      |        (('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
      |          / 2147483648.0 - 1.0)
      |      for d in generate_series(0, len(emb)-1)]) > 0
      |    THEN (CAST(1 AS BIGINT) << ii.i) ELSE 0 END AS bv
      |  FROM n, (SELECT unnest(generate_series(0, 5)) AS i) ii),
      |codes AS (SELECT vec_id, CAST(SUM(bv) AS BIGINT) AS code FROM bits GROUP BY vec_id),
      |nc AS (SELECT n.vec_id, n.label, n.emb, n.nrm, codes.code
      |  FROM n JOIN codes ON n.vec_id = codes.vec_id)""".stripMargin

  /** Multi-probe LSH scored + ranked rows (lr unfiltered): each query
    * probes its own code plus the 6 hamming-1 codes (p = -1 keeps the
    * own bucket).
    */
  private val lshSearchCte =
    """lq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, code FROM nc WHERE vec_id < 10),
      |probes AS (SELECT q_id, q_emb, q_nrm,
      |    CASE WHEN pp.p < 0 THEN code ELSE xor(code, CAST(1 AS BIGINT) << pp.p) END AS code
      |  FROM lq, (SELECT unnest(generate_series(-1, 5)) AS p) pp),
      |lc AS (SELECT vec_id, emb, nrm, code FROM nc WHERE vec_id >= 10),
      |ls AS (SELECT q_id, lc.vec_id,
      |    floor((list_dot_product(q_emb, lc.emb)/(q_nrm*lc.nrm)) * 10000.0 + 0.5)/10000.0 AS cos
      |  FROM probes JOIN lc ON probes.code = lc.code),
      |lr AS (SELECT q_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM ls)""".stripMargin

  /** knn_brute candidate scoring + ranking (rk unfiltered). */
  /** Int8 scalar-quantized search over `n` (vecCte) — oracle twin of
    * VectorSearch.quantizeInt8 + annQuantized: per-vector scale
    * 127/max|x|, codes floor(x·s+0.5), both sides dequantized (c/s)
    * before cosine. `rq` is the unfiltered quantized ranking.
    */
  private val quantCte =
    """qz AS (SELECT vec_id, label, emb,
      |    127.0/greatest(list_max(list_transform(emb, x -> abs(x))), 1e-12) AS s FROM n),
      |cq AS (SELECT vec_id, label, s, list_transform(emb, x -> floor(x*s + 0.5)) AS codes FROM qz),
      |dn AS (SELECT vec_id, label, demb,
      |    sqrt(list_sum(list_transform(demb, x -> x*x))) AS dnrm
      |  FROM (SELECT vec_id, label, list_transform(codes, c -> c/s) AS demb FROM cq)),
      |qq AS (SELECT vec_id AS q_id, demb AS q_emb, dnrm AS q_nrm FROM dn WHERE vec_id < 10),
      |cc AS (SELECT vec_id, label, demb, dnrm FROM dn WHERE vec_id >= 10),
      |sq AS (SELECT q_id, vec_id,
      |    floor((list_dot_product(q_emb, demb)/(q_nrm*dnrm)) * 10000.0 + 0.5)/10000.0 AS cos
      |  FROM qq, cc),
      |rq AS (SELECT q_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sq)""".stripMargin

  /** DECIMAL-exact per-label centroids over `n` (vecCte) — oracle
    * twin of VectorSearch.centroidsOf, shared by every IVF oracle.
    */
  private val centroidCte =
    """ex AS (SELECT label, g-1 AS dim, emb[g] AS x
      |  FROM n, LATERAL (SELECT unnest(generate_series(1, len(emb))) g) gg),
      |cd AS (SELECT label, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)/COUNT(*) AS cv
      |  FROM ex GROUP BY label, dim),
      |cent AS (SELECT label, list(cv ORDER BY dim) AS c_emb FROM cd GROUP BY label),
      |cent2 AS (SELECT label, c_emb,
      |  sqrt(list_sum(list_transform(c_emb, x -> x*x))) AS c_nrm FROM cent)""".stripMargin

  /** Deterministic Lloyd's k-means over the corpus — oracle twin of
    * VectorSearch.kmeansCentroids (KmClusters=8, KmIters=3 unrolled):
    * init = 8 smallest corpus vec_ids, assignment by parity-rounded
    * cosine with smaller-cluster tie-break, DECIMAL-exact per-dim
    * means, emptied clusters keep the previous centroid. `kasF` is
    * the final assignment, `kcent3` the final centroid table.
    *
    * MATERIALIZED hints (values unchanged — pure evaluation
    * strategy): every `kcent$i` is referenced twice (next
    * iteration's assignment AND the empty-cluster carry join), so an
    * inlining planner re-evaluates the chain 2× per level — 8× by
    * kcent3, times each kcent3 consumer. At the 64× ladder rung that
    * recomputation spilled DuckDB temp past the disk; materializing
    * the ≤ k-row centroid tables (and the corpus-sized kc/kasF)
    * makes each unrolled iteration evaluate exactly once, the same
    * shape the Spark side gets from lloydsRefine's localCheckpoint.
    */
  private val kmeansCte: String = {
    def assignCte(name: String, centPrev: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, emb, nrm, label FROM (
         |    SELECT c.vec_id, c.emb, c.nrm, k.label,
         |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |        floor((list_dot_product(c.emb, k.c_emb)
         |          /(c.nrm * sqrt(list_sum(list_transform(k.c_emb, x -> x*x))))) * 10000.0 + 0.5)/10000.0 DESC,
         |        k.label) AS ark
         |    FROM kc c, $centPrev k) WHERE ark = 1)""".stripMargin
    val init =
      """kc AS MATERIALIZED (SELECT vec_id, emb, nrm FROM n WHERE vec_id >= 10),
        |kcent0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS label,
        |    emb AS c_emb
        |  FROM (SELECT vec_id, emb FROM kc ORDER BY vec_id LIMIT 8))""".stripMargin
    val iters = (1 to 3).map { i =>
      assignCte(s"kas$i", s"kcent${i - 1}") +
      s""",
         |kmd$i AS (SELECT label, g-1 AS dim,
         |    CAST(SUM(CAST(emb[g] AS DECIMAL(18,9))) AS DOUBLE)/COUNT(*) AS cv
         |  FROM kas$i, LATERAL (SELECT unnest(generate_series(1, len(emb))) g) gg
         |  GROUP BY label, g),
         |kcm$i AS (SELECT label, list(cv ORDER BY dim) AS new_emb FROM kmd$i GROUP BY label),
         |kcent$i AS MATERIALIZED (SELECT k.label, coalesce(m.new_emb, k.c_emb) AS c_emb
         |  FROM kcent${i - 1} k LEFT JOIN kcm$i m USING (label))""".stripMargin
    }.mkString(",\n")
    init + ",\n" + iters + ",\n" + assignCte("kasF", "kcent3")
  }

  /** SemDeDup + prototype-prune chain — oracle twin of
    * VectorSearch.semDedup / semDedupApply / protoSelect over the
    * final k-means assignment (kasF/kcent3): winning-centroid cosine
    * (kx), exact-content quotient (sgrp — same md5-string partition
    * argument as dedup_embedding's grp), rep-level block join with
    * the CLUSTER as the whole blocking key, build side capped at
    * EmbBucketCap in vec_id order (squal keeps only pairs at round4
    * cosine ≥ SemTau), then the domination rule: x drops iff some
    * candidate partner has (lower ccos) or (equal ccos, smaller id) —
    * non-rep members drop via grk > 1 (always dominated by their own
    * rep at cosine exactly 1.0). `srep` is the full report; the
    * proto queries splice the per-cluster ⌊n/4⌋ most-prototypical
    * prune on top as a naive row_number (same semantics as Spark's
    * histogram-cutoff plan).
    */
  private val semCte: String = {
    val cap = VectorSearch.EmbBucketCap
    s"""kx AS MATERIALIZED (SELECT a.vec_id, a.emb, a.nrm, a.label,
       |    floor((list_dot_product(a.emb, k.c_emb)
       |      /(a.nrm * sqrt(list_sum(list_transform(k.c_emb, x -> x*x))))) * 10000.0 + 0.5)/10000.0 AS ccos
       |  FROM kasF a JOIN kcent3 k USING (label)),
       |sgrp AS MATERIALIZED (SELECT vec_id,
       |    MIN(vec_id) OVER (PARTITION BY md5(CAST(emb AS VARCHAR))) AS r,
       |    row_number() OVER (PARTITION BY md5(CAST(emb AS VARCHAR)) ORDER BY vec_id) AS grk
       |  FROM kx),
       |sreps AS (SELECT kx.* FROM kx JOIN (SELECT DISTINCT r FROM sgrp) rr ON kx.vec_id = rr.r),
       |sbr AS MATERIALIZED (SELECT label, vec_id, emb, nrm, ccos,
       |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS brk FROM sreps),
       |sbcap AS (SELECT * FROM sbr WHERE brk <= $cap),
       |squal AS MATERIALIZED (SELECT least(a.vec_id, b.vec_id) AS a_id,
       |    greatest(a.vec_id, b.vec_id) AS b_id
       |  FROM sbr a JOIN sbcap b ON a.label = b.label AND a.vec_id <> b.vec_id
       |  WHERE (a.brk > $cap OR a.vec_id < b.vec_id)
       |    AND floor((list_dot_product(a.emb, b.emb)/(a.nrm*b.nrm)) * 10000.0 + 0.5)/10000.0 >= ${VectorSearch.SemTau}),
       |sdir AS (SELECT a_id AS x, b_id AS p FROM squal
       |  UNION ALL SELECT b_id AS x, a_id AS p FROM squal),
       |sdrop AS (SELECT DISTINCT d.x AS vec_id
       |  FROM sdir d JOIN kx xx ON xx.vec_id = d.x JOIN kx pp ON pp.vec_id = d.p
       |  WHERE pp.ccos < xx.ccos OR (pp.ccos = xx.ccos AND pp.vec_id < xx.vec_id)),
       |srep AS (SELECT kx.vec_id, kx.label, kx.ccos,
       |    (g.grk = 1 AND sd.vec_id IS NULL) AS keep
       |  FROM kx JOIN sgrp g ON g.vec_id = kx.vec_id
       |  LEFT JOIN sdrop sd ON sd.vec_id = kx.vec_id)""".stripMargin
  }

  /** Product-quantization codebooks + codes — oracle twin of
    * VectorSearch.pqCodebooks / pqCodes / annPq (PqM=8, PqKsub=16,
    * PqIters=3 unrolled): subspace m = dims [m·D/8, (m+1)·D/8), init
    * = the 16 smallest corpus vec_ids' subvectors per subspace,
    * assignment by parity-rounded squared L2 spelled as the SAME
    * IEEE tree (dot(x,x)+dot(c,c)−2·dot(x,c) over the sequential-
    * fold dot, tie → smaller label), DECIMAL-exact means, emptied
    * clusters carried. `pasF` encodes every vector against the final
    * codebook `pcb3`; `prk` ranks the asymmetric search (full-
    * precision query vs codebook reconstruction).
    */
  private def pqD2Sql(s: String, c: String) =
    s"floor(((list_dot_product($s, $s) + list_dot_product($c, $c)) - " +
      s"(2.0 * list_dot_product($s, $c))) * 10000.0 + 0.5)/10000.0"

  private def pqAssignSql(name: String, src: String, cbPrev: String) =
    s"""$name AS MATERIALIZED (SELECT vec_id, m, sub, label FROM (
       |    SELECT c.vec_id, c.m, c.sub, k.label,
       |      row_number() OVER (PARTITION BY c.vec_id, c.m ORDER BY
       |        ${pqD2Sql("c.sub", "k.c_sub")} ASC, k.label) AS ark
       |    FROM $src c JOIN $cbPrev k USING (m)) WHERE ark = 1)""".stripMargin

  /** The per-subspace Lloyd's training chain (init + 3 unrolled
    * iterations) over a (vec_id, m, sub) corpus CTE — ONE generator
    * for the plain ([[pqCte]], prefix `p`) and residual
    * ([[pqResCte]], prefix `r`) codebooks, so the two trainings
    * cannot drift. Emits `${pfx}cb0..3` and `${pfx}as1..3`.
    */
  private def pqTrainSql(pfx: String, corpus: String): String = {
    val init =
      s"""${pfx}cb0 AS MATERIALIZED (SELECT m, CAST(r - 1 AS BIGINT) AS label, sub AS c_sub FROM (
         |    SELECT m, sub, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS r
         |    FROM $corpus) WHERE r <= 16)""".stripMargin
    val iters = (1 to 3).map { i =>
      pqAssignSql(s"${pfx}as$i", corpus, s"${pfx}cb${i - 1}") +
      s""",
         |${pfx}md$i AS (SELECT m, label, g-1 AS dim,
         |    CAST(SUM(CAST(sub[g] AS DECIMAL(18,9))) AS DOUBLE)/COUNT(*) AS cv
         |  FROM ${pfx}as$i, LATERAL (SELECT unnest(generate_series(1, len(sub))) g) gg
         |  GROUP BY m, label, g),
         |${pfx}cm$i AS (SELECT m, label, list(cv ORDER BY dim) AS new_sub
         |  FROM ${pfx}md$i GROUP BY m, label),
         |${pfx}cb$i AS MATERIALIZED (SELECT k.m, k.label, coalesce(mm2.new_sub, k.c_sub) AS c_sub
         |  FROM ${pfx}cb${i - 1} k LEFT JOIN ${pfx}cm$i mm2 USING (m, label))""".stripMargin
    }.mkString(",\n")
    init + ",\n" + iters
  }

  private val pqCte: String = {
    val init =
      """psub AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |    emb[mm.m*(len(emb)//8)+1 : (mm.m+1)*(len(emb)//8)] AS sub
        |  FROM n, (SELECT unnest(generate_series(0, 7)) AS m) mm),
        |pqc AS MATERIALIZED (SELECT vec_id, m, sub FROM psub WHERE vec_id >= 10)""".stripMargin
    val tail =
      pqAssignSql("pasF", "psub", "pcb3") +
      """,
        |prec AS MATERIALIZED (SELECT a.vec_id, flatten(list(k.c_sub ORDER BY a.m)) AS recon
        |  FROM pasF a JOIN pcb3 k USING (m, label) WHERE a.vec_id >= 10
        |  GROUP BY a.vec_id),
        |psc AS (SELECT q.vec_id AS q_id, r2.vec_id,
        |    floor((list_dot_product(q.emb, r2.recon)
        |      /(q.nrm * sqrt(list_sum(list_transform(r2.recon, x -> x*x))))) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM prec r2, (SELECT vec_id, emb, nrm FROM n WHERE vec_id < 10) q),
        |prk AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM psc)""".stripMargin
    init + ",\n" + pqTrainSql("p", "pqc") + ",\n" + tail
  }

  /** OPQ chain — oracle twin of VectorSearch.opqRotate / opqCodebooks
    * / opqCodes / annOpq: the seeded rotation R = H·D/8 generated in
    * SQL (sign j from the same md5 nibble rule as the Scala
    * derivation — the seed string is interpolated from the ONE
    * constant; H entry from bit_count(i AND j) parity; every entry
    * ±0.125 so each product is an exact FP scaling), applied as a
    * matrix-multiply CTE — one list_dot_product per output dim — then
    * the SAME unrolled PQ training recipe via [[pqTrainSql]] (prefix
    * `o`) in rotated space, encoding, reconstruction, asymmetric rank.
    */
  private val opqCte: String = {
    val init =
      s"""og AS (SELECT unnest(generate_series(0, ${VectorSearch.OpqDim - 1})) AS x),
         |osgn AS (SELECT x AS j, CASE WHEN ('0x' || substr(md5('${VectorSearch.OpqSeed}_' || CAST(x AS VARCHAR)), 1, 1))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END AS s FROM og),
         |orow AS MATERIALIZED (SELECT i.x AS i,
         |    list(CASE WHEN bit_count(CAST(i.x & sg.j AS BIGINT)) % 2 = 0 THEN sg.s ELSE -sg.s END * 0.125 ORDER BY sg.j) AS rw
         |  FROM og i, osgn sg GROUP BY i.x),
         |ov AS MATERIALIZED (SELECT n.vec_id, list(list_dot_product(r.rw, n.emb) ORDER BY r.i) AS emb
         |  FROM n, orow r GROUP BY n.vec_id),
         |onv AS MATERIALIZED (SELECT vec_id, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM ov),
         |osub AS MATERIALIZED (SELECT vec_id, mm.m AS m,
         |    emb[mm.m*(len(emb)//8)+1 : (mm.m+1)*(len(emb)//8)] AS sub
         |  FROM onv, (SELECT unnest(generate_series(0, 7)) AS m) mm),
         |oqc AS MATERIALIZED (SELECT vec_id, m, sub FROM osub WHERE vec_id >= 10)""".stripMargin
    val tail =
      pqAssignSql("oasF", "osub", "ocb3") +
      """,
        |orec AS MATERIALIZED (SELECT a.vec_id, flatten(list(k.c_sub ORDER BY a.m)) AS recon
        |  FROM oasF a JOIN ocb3 k USING (m, label) WHERE a.vec_id >= 10
        |  GROUP BY a.vec_id),
        |osc AS (SELECT q.vec_id AS q_id, r2.vec_id,
        |    floor((list_dot_product(q.emb, r2.recon)
        |      /(q.nrm * sqrt(list_sum(list_transform(r2.recon, x -> x*x))))) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM orec r2, (SELECT vec_id, emb, nrm FROM onv WHERE vec_id < 10) q),
        |ork AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM osc)""".stripMargin
    init + ",\n" + pqTrainSql("o", "oqc") + ",\n" + tail
  }

  /** Residual PQ chain — oracle twin of VectorSearch.pqResCodebooks /
    * ivfpqResIndex / annIvfPqResidual: residuals against the final
    * k-means assignment (`kasF`/`kcent3`), the SAME unrolled training
    * recipe via [[pqTrainSql]] (prefix `r`), encoding, and full
    * reconstruction = centroid + residual decode. Scoring joins the
    * probe CTE `ipp2` from [[ivfpqProbeCte]].
    */
  private val pqResCte: String = {
    val init =
      """rres AS MATERIALIZED (SELECT a.vec_id, a.label AS cl,
        |    list_transform(generate_series(1, len(a.emb)), g -> a.emb[g] - k.c_emb[g]) AS remb
        |  FROM kasF a JOIN kcent3 k USING (label)),
        |rsub AS MATERIALIZED (SELECT vec_id, mm.m AS m,
        |    remb[mm.m*(len(remb)//8)+1 : (mm.m+1)*(len(remb)//8)] AS sub
        |  FROM rres, (SELECT unnest(generate_series(0, 7)) AS m) mm)""".stripMargin
    val tail =
      pqAssignSql("rasF", "rsub", "rcb3") +
      """,
        |rrec0 AS (SELECT a.vec_id, flatten(list(k.c_sub ORDER BY a.m)) AS rr
        |  FROM rasF a JOIN rcb3 k USING (m, label) GROUP BY a.vec_id),
        |rrec AS (SELECT r0.vec_id, rs.cl,
        |    list_transform(generate_series(1, len(r0.rr)), g -> k.c_emb[g] + r0.rr[g]) AS recon
        |  FROM rrec0 r0 JOIN rres rs USING (vec_id) JOIN kcent3 k ON k.label = rs.cl),
        |rips AS (SELECT p.q_id, r2.vec_id,
        |    floor((list_dot_product(p.q_emb, r2.recon)
        |      /(p.q_nrm * sqrt(list_sum(list_transform(r2.recon, x -> x*x))))) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM ipp2 p JOIN rrec r2 ON r2.cl = p.label),
        |ripr AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM rips)""".stripMargin
    init + ",\n" + pqTrainSql("r", "rsub") + ",\n" + tail
  }

  /** IVF+PQ search tail — oracle twin of VectorSearch.annIvfPq over
    * the k-means coarse quantizer (`kcent3`/`kasF` from kmeansCte)
    * and the PQ reconstruction (`prec` from pqCte): probe the 2
    * nearest centroids per query, score the full-precision query
    * against the reconstruction of only the probed clusters' corpus
    * vectors, rank top-3.
    */
  private val ivfpqProbeCte =
    """ipcn AS (SELECT label, c_emb,
      |    sqrt(list_sum(list_transform(c_emb, x -> x*x))) AS c_nrm FROM kcent3),
      |ipq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
      |ippr AS (SELECT q_id, q_emb, q_nrm, label,
      |    floor((list_dot_product(q_emb, c_emb)/(q_nrm*c_nrm)) * 10000.0 + 0.5)/10000.0 AS c_cos
      |  FROM ipq, ipcn),
      |ipp2 AS (SELECT q_id, q_emb, q_nrm, label FROM (SELECT *, row_number() OVER (
      |    PARTITION BY q_id ORDER BY c_cos DESC, label) AS cprk FROM ippr) WHERE cprk <= 2)""".stripMargin

  private val ivfpqCte = ivfpqProbeCte +
    """,
      |ips AS (SELECT p.q_id, a.vec_id,
      |    floor((list_dot_product(p.q_emb, r2.recon)
      |      /(p.q_nrm * sqrt(list_sum(list_transform(r2.recon, x -> x*x))))) * 10000.0 + 0.5)/10000.0 AS cos
      |  FROM ipp2 p JOIN kasF a ON a.label = p.label JOIN prec r2 ON r2.vec_id = a.vec_id),
      |ipr AS (SELECT q_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM ips)""".stripMargin

  private val knnCte = vecCte +
    """,
      |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
      |c AS (SELECT vec_id, emb, nrm FROM n WHERE vec_id >= 10),
      |s AS (SELECT q_id, vec_id,
      |    floor((list_dot_product(q_emb, emb)/(q_nrm*nrm)) * 10000.0 + 0.5)/10000.0 AS cos
      |  FROM q, c),
      |r AS (SELECT q_id, vec_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM s)""".stripMargin

  /** Hashed-BoW embeddings of the literal query strings (qw) and of
    * every document (dw) — the oracle twin of Ingest.rawEmbed +
    * normalizeLongForm (and of Ingest.embedVector, its one-row form).
    */
  private val queriesCte =
    """queries(q_id, q_text) AS (
      |  VALUES (CAST(1 AS BIGINT), 'join hash table'), (CAST(2 AS BIGINT), 'stream window agg'))""".stripMargin

  private val textEmbBody =
    """qtok AS (SELECT q_id, unnest(string_split(q_text, ' ')) AS t FROM queries),
      |qb AS (SELECT q_id, ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
      |  CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM qtok),
      |qagg AS (SELECT q_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw FROM qb GROUP BY q_id, dim),
      |qn AS (SELECT q_id, dim, raw,
      |  sqrt(CAST(SUM(raw*raw) OVER (PARTITION BY q_id) AS DOUBLE)) AS nrm FROM qagg),
      |qe AS (SELECT q_id, dim, floor((raw/nrm) * 10000.0 + 0.5)/10000.0 AS qw FROM qn),
      |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |db AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
      |  CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM dtok),
      |dagg AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw FROM db GROUP BY doc_id, dim),
      |dn AS (SELECT doc_id, dim, raw,
      |  sqrt(CAST(SUM(raw*raw) OVER (PARTITION BY doc_id) AS DOUBLE)) AS nrm FROM dagg),
      |de AS (SELECT doc_id, dim, floor((raw/nrm) * 10000.0 + 0.5)/10000.0 AS dw FROM dn),
      |ts AS (SELECT q_id, doc_id, floor((SUM(qw*dw)) * 10000.0 + 0.5)/10000.0 AS cos
      |  FROM de JOIN qe USING (dim) GROUP BY q_id, doc_id),
      |tr AS (SELECT q_id, doc_id, cos,
      |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rk FROM ts)""".stripMargin

  /** BM25 scored + ranked rows (`bkr` unfiltered ranking) — oracle
    * twin of KeywordSearch.keywordBm25: vocabulary-pruned postings,
    * the log-free rational idf, and the token-ordered term fold;
    * every operand cast to DOUBLE so DuckDB runs the SAME IEEE
    * expression tree as the Spark side (decimal literal folding
    * otherwise diverges by one ULP). Splices after queriesCte;
    * shared by keyword_bm25 and hybrid_rrf.
    */
  private val bm25Body =
    """qt AS (SELECT q_id, unnest(list_distinct(string_split(q_text, ' '))) AS tok
      |  FROM queries),
      |voc AS (SELECT DISTINCT tok FROM qt),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE text IS NOT NULL),
      |dlt AS (SELECT doc_id, len(toks) AS dl FROM d),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dlt),
      |p0 AS (SELECT doc_id, unnest(toks) AS tok FROM d),
      |p1 AS (SELECT p0.doc_id, dlt.dl, p0.tok, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM p0 JOIN voc USING (tok) JOIN dlt USING (doc_id)
      |  GROUP BY p0.doc_id, dlt.dl, p0.tok),
      |fr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM p1 GROUP BY tok),
      |tm AS (SELECT qt.q_id, p1.doc_id, p1.tok,
      |    ((CAST(st.n_docs - fr.df AS DOUBLE) + 0.5) / (CAST(fr.df AS DOUBLE) + 0.5))
      |      * ((CAST(p1.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |         / (CAST(p1.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |            * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
      |               + (CAST(0.75 AS DOUBLE) * CAST(p1.dl AS DOUBLE))
      |                 / (CAST(st.sum_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))) AS term
      |  FROM p1 JOIN fr USING (tok) JOIN qt USING (tok) CROSS JOIN st),
      |bsc AS (SELECT q_id, doc_id,
      |    floor(list_reduce(list(term ORDER BY tok), (a, x) -> a + x)
      |      * 10000.0 + 0.5) / 10000.0 AS score
      |  FROM tm GROUP BY q_id, doc_id),
      |bkr AS (SELECT q_id, doc_id, score,
      |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
      |  FROM bsc)""".stripMargin

  /** keyword_search scored + ranked rows (kr unfiltered ranking). */
  private val keywordBody =
    """s0 AS (SELECT q_id, doc_id,
      |    CASE WHEN contains(text, q_text) THEN 1.0
      |      ELSE CAST(len(list_intersect(list_distinct(string_split(q_text, ' ')),
      |        list_distinct(string_split(text, ' ')))) AS DOUBLE)
      |        / len(list_distinct(string_split(q_text, ' '))) END AS score_r,
      |    CAST(doc_id % 50 AS DOUBLE)/10.0 AS rating
      |  FROM documents, queries),
      |s1 AS (SELECT q_id, doc_id, floor(score_r * 10000.0 + 0.5)/10000.0 AS score, rating
      |  FROM s0 WHERE floor(score_r * 10000.0 + 0.5)/10000.0 > 0),
      |kr AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |  ORDER BY score DESC, rating DESC, doc_id) AS rk FROM s1)""".stripMargin

  /** Shared oracle fragments. */
  private val chunksCte =
    """WITH c AS (
      |  SELECT doc_id, [x for x in
      |    [trim(substr(text, g+1, 120)) for g in generate_series(0, length(text)-1, 96)
      |     if g = 0 or g + 24 < length(text)] if x <> ''] AS lst
      |  FROM documents)""".stripMargin

  private val shinglesCte =   // word-3-gram distinct shingles of `documents`
    """sh AS (
      |  SELECT doc_id, list_distinct([concat(t[i], ' ', t[i+1], ' ', t[i+2])
      |    for i in generate_series(1, len(t)-2)]) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3)""".stripMargin

  /** Hashed shingle posting list of `src` — oracle twin of
    * TextFunctions.shinglePosting (16-hex-char md5 prefixes).
    */
  private def postingCte(src: String): String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |posting AS (SELECT DISTINCT doc_id,
       |    substr(md5(concat(t[i], ' ', t[i+1], ' ', t[i+2])), 1, 16) AS s
       |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) ii
       |  WHERE len(t) >= 3 AND concat(t[i], ' ', t[i+1], ' ', t[i+2]) <> '')""".stripMargin

  /** One Gopher top-n-gram "mass" CTE pair (all-occurrence n-grams →
    * max count·length per doc) — oracle twin of
    * TextAnalysis.topGramMass's narrow run-length fold (the oracle
    * spells the naive explode+groupBy; same semantics, different
    * plan).
    */
  private def gopherMassCte(n: Int): String = {
    val gram = (0 until n).map(j => s"t[i+$j]").mkString("concat(", ", ' ', ", ")")
    s"""g$n AS (SELECT doc_id, $gram AS g
       |  FROM gtk, LATERAL (SELECT unnest(generate_series(1, len(t)-${n - 1})) AS i) ii
       |  WHERE len(t) >= $n AND $gram <> ''),
       |m$n AS (SELECT doc_id, max(c * length(g)) AS mass
       |  FROM (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY 1, 2) GROUP BY 1)""".stripMargin
  }

  /** Gopher rule metrics + keep verdict over `documents` — oracle twin
    * of TextAnalysis.gopherMetricsOf; shared by gopher_quality and
    * gopher_filter (thresholds: TextAnalysis.GopherMinWords etc.).
    */
  private val gopherCteSql =
    """WITH gtk AS (SELECT doc_id, lang, n_chars, length(text) AS chars,
      |    string_split(text, ' ') AS t FROM documents),
      |""".stripMargin +
      Seq(2, 3, 4).map(gopherMassCte).mkString(",\n") + ",\n" +
      """d5 AS (SELECT doc_id, CASE WHEN len(t) >= 5 THEN
      |    len(list_distinct([concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3], ' ', t[i+4])
      |      for i in generate_series(1, len(t)-4)])) ELSE 0 END AS nd FROM gtk),
      |gq AS (SELECT gtk.doc_id, lang, n_chars,
      |  CAST(len(t) AS BIGINT) AS n_words,
      |  floor(((chars - (len(t)-1)) / CAST(len(t) AS DOUBLE)) * 10000.0 + 0.5)/10000.0 AS mean_word_len,
      |  CAST(len(list_intersect(list_distinct(t), ['a','the','data','table','row','value'])) AS BIGINT) AS n_stop,
      |  CASE WHEN chars = 0 THEN 0.0 ELSE floor((coalesce(m2.mass, 0)/CAST(chars AS DOUBLE))*10000.0+0.5)/10000.0 END AS top2_frac,
      |  CASE WHEN chars = 0 THEN 0.0 ELSE floor((coalesce(m3.mass, 0)/CAST(chars AS DOUBLE))*10000.0+0.5)/10000.0 END AS top3_frac,
      |  CASE WHEN chars = 0 THEN 0.0 ELSE floor((coalesce(m4.mass, 0)/CAST(chars AS DOUBLE))*10000.0+0.5)/10000.0 END AS top4_frac,
      |  CASE WHEN len(t) < 5 THEN 0.0 ELSE floor((1.0 - CAST(d5.nd AS DOUBLE)/(len(t)-4))*10000.0+0.5)/10000.0 END AS dup5_frac
      |FROM gtk LEFT JOIN m2 ON gtk.doc_id = m2.doc_id LEFT JOIN m3 ON gtk.doc_id = m3.doc_id
      |  LEFT JOIN m4 ON gtk.doc_id = m4.doc_id LEFT JOIN d5 ON gtk.doc_id = d5.doc_id),
      |gk AS (SELECT *,
      |  n_words BETWEEN 20 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
      |  AND n_stop >= 2 AND top2_frac <= 0.20 AND top3_frac <= 0.18
      |  AND top4_frac <= 0.16 AND dup5_frac <= 0.15 AS keep FROM gq)""".stripMargin

  /** C4 derived-lines corpus + per-doc line-rule metrics — oracle twin
    * of TextAnalysis.c4DerivedCorpus + c4MetricsOf, shared by
    * c4_line_stats and c4_filter (parameters: TextAnalysis.C4LineWords
    * etc. — interpolated so the two sides cannot drift).
    */
  /** The derived-lines corpus alone (through `cl`) — shared by the C4
    * metrics chain and the FineWeb line-dedup oracle.
    */
  private val c4LinesCteSql = {
    val lw = TextAnalysis.C4LineWords
    s"""WITH ctk AS (SELECT doc_id, string_split(text, ' ') AS t
       |  FROM documents WHERE length(text) > 0),
       |cl AS (SELECT doc_id, i, concat(
       |    CASE WHEN doc_id % 23 = 0 AND i = 0 THEN 'lorem ipsum ' ELSE '' END,
       |    array_to_string(CASE WHEN (doc_id*5 + i) % 9 = 0
       |      THEN t[i*$lw+1 : least(i*$lw+2, len(t))]
       |      ELSE t[i*$lw+1 : least((i+1)*$lw, len(t))] END, ' '),
       |    CASE WHEN (doc_id*3 + i) % 13 = 0 THEN ' javascript' ELSE '' END,
       |    CASE WHEN (doc_id*11 + i) % 29 = 0 THEN ' {' ELSE '' END,
       |    CASE WHEN (doc_id + i) % 4 <> 3 THEN '.' ELSE '' END) AS line
       |  FROM ctk, LATERAL (SELECT unnest(generate_series(0, (len(t)-1)//$lw)) AS i) ii)""".stripMargin
  }

  private val c4CteSql = {
    val mw = TextAnalysis.C4MinLineWords
    val mk = TextAnalysis.C4MinKeptLines
    c4LinesCteSql +
    s""",
       |cv AS (SELECT doc_id, i, line,
       |    regexp_matches(line, '[.!?"]$$') AS term,
       |    len(string_split(line, ' ')) AS lwords,
       |    contains(line, 'javascript') AS js FROM cl),
       |cma AS (SELECT doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(coalesce(SUM(CASE WHEN term AND lwords >= $mw AND NOT js THEN 1 END), 0) AS BIGINT) AS n_kept,
       |    CAST(coalesce(SUM(CASE WHEN lwords < $mw THEN 1 END), 0) AS BIGINT) AS n_short,
       |    CAST(coalesce(SUM(CASE WHEN NOT term THEN 1 END), 0) AS BIGINT) AS n_noterm,
       |    CAST(coalesce(SUM(CASE WHEN js THEN 1 END), 0) AS BIGINT) AS n_js,
       |    bool_or(contains(line, 'lorem ipsum')) AS has_lorem,
       |    bool_or(contains(line, '{')) AS has_brace,
       |    coalesce(string_agg(line, chr(10) ORDER BY i)
       |      FILTER (WHERE term AND lwords >= $mw AND NOT js), '') AS clean_text
       |  FROM cv GROUP BY doc_id),
       |cm AS (SELECT *, n_kept >= $mk AND NOT has_lorem AND NOT has_brace AS keep
       |  FROM cma)""".stripMargin
  }

  /** Paragraph-dedup corpus + winner/rebuild chain — oracle twin of
    * Dedup.dedupParagraph (32-word blocks; copy of every 7th doc with
    * its first block reversed).
    */
  private val dedupParagraphSql = {
    val pw = Dedup.ParaWords
    val off = Dedup.CopyIdOffset
    s"""WITH pc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $off AS doc_id,
      |    array_to_string(list_concat(list_reverse(t[1:$pw]), t[${pw + 1}:len(t)]), ' ') AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE doc_id % 7 = 0),
      |ptk AS (SELECT doc_id, string_split(text, ' ') AS t FROM pc WHERE length(text) > 0),
      |p AS (SELECT doc_id, i AS para_idx,
      |    array_to_string(t[i*$pw+1 : least((i+1)*$pw, len(t))], ' ') AS para_text
      |  FROM ptk, LATERAL (SELECT unnest(generate_series(0, (len(t)-1)//$pw)) AS i) ii),
      |w AS (SELECT doc_id, para_idx, para_text,
      |    row_number() OVER (PARTITION BY md5(para_text) ORDER BY doc_id, para_idx) AS rk
      |  FROM p),
      |k AS (SELECT doc_id, count(*) AS n_kept,
      |    string_agg(para_text, ' ' ORDER BY para_idx) AS kept_text
      |  FROM w WHERE rk = 1 GROUP BY doc_id),
      |tot AS (SELECT doc_id, 1 + (len(t)-1)//$pw AS n_paras FROM ptk)
      |SELECT tot.doc_id, CAST(tot.n_paras AS BIGINT) AS n_paras,
      |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(k.kept_text, '') AS kept_text
      |FROM tot LEFT JOIN k ON tot.doc_id = k.doc_id ORDER BY tot.doc_id""".stripMargin
  }

  /** Per-doc bigram-LM cross-entropy (oracle twin of
    * Perplexity.scoreAgainst over a self-trained Perplexity.modelOf):
    * bigram stream → (w1,w2)/(w1) counts + vocab size → add-one
    * conditional → -Σ ln P / n per doc, round4. Shared by both
    * perplexity oracles.
    */
  private def pplxScoredCteOver(src: String): String =
    s"""ptk AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM ptk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
      |big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bgr GROUP BY w1, w2),
      |uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
      |voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      |  FROM (SELECT unnest(t) AS tok FROM ptk)),
      |scr AS (SELECT bgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    floor((-SUM(ln((c12 + 1.0) / (c1 + v))) / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent
      |  FROM bgr JOIN big USING (w1, w2) JOIN uni USING (w1), voc
      |  GROUP BY bgr.doc_id)""".stripMargin

  private val pplxScoredCte = pplxScoredCteOver("documents")

  /** DSIR importance score (Perplexity.dsirScoreOf): self-trained
    * xent (the pplxScoredCte chain, verbatim) minus target-trained
    * xent (the quality_perplexity_ref LEFT-join chain over the
    * `dsir:`-coin quarter), both ROUNDED before the difference —
    * mirroring the Scala side's difference-of-presented-values
    * parity design. `bgr` (the corpus bigram stream) is reused for
    * the target-side scoring pass.
    */
  private val dsirScoreSql =
    "WITH " + pplxScoredCte + ",\n" +
      """ttk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.25
        |    AND len(string_split(text, ' ')) >= 2),
        |tbgr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM ttk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |tbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12t FROM tbgr GROUP BY w1, w2),
        |tuni AS (SELECT w1, CAST(SUM(c12t) AS BIGINT) AS c1t FROM tbig GROUP BY w1),
        |tvoc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vt
        |  FROM (SELECT unnest(t) AS tok FROM ttk)),
        |tscr AS (SELECT bgr.doc_id,
        |    floor((-SUM(ln((coalesce(c12t, 0) + 1.0) / (coalesce(c1t, 0) + vt)))
        |      / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent_t
        |  FROM bgr LEFT JOIN tbig USING (w1, w2) LEFT JOIN tuni USING (w1), tvoc
        |  GROUP BY bgr.doc_id),
        |dsr AS (SELECT scr.doc_id, scr.n_bigrams,
        |    floor((scr.xent - tscr.xent_t) * 10000.0 + 0.5)/10000.0 AS log_ratio
        |  FROM scr JOIN tscr USING (doc_id))""".stripMargin

  /** 5-gram KN backoff subtrees for the kn5 oracle, composed so every
    * CASE branch spells the IDENTICAL lower-order subtree — the same
    * verbatim-reuse discipline the kn3 oracle hand-spells, which at
    * four backoff levels (P4 appears 2x, P3 4x, P2 8x, P1 16x) only a
    * composed string keeps honest. Mirrors Perplexity.scoreAgainstKn5's
    * shared Column trees operand for operand.
    */
  private val kn5P1 = "((coalesce(n1b5, 0) + 1.0) / (nd + v))"
  private val kn5P2 = s"(CASE WHEN nmid2 IS NOT NULL THEN " +
    s"greatest(coalesce(n1b452, 0) - 0.75, 0.0) / nmid2 + " +
    s"0.75 * n1f2 / nmid2 * $kn5P1 ELSE $kn5P1 END)"
  private val kn5P3 = s"(CASE WHEN nmid3 IS NOT NULL THEN " +
    s"greatest(coalesce(n1b345, 0) - 0.75, 0.0) / nmid3 + " +
    s"0.75 * n1f3 / nmid3 * $kn5P2 ELSE $kn5P2 END)"
  private val kn5P4 = s"(CASE WHEN nmid4 IS NOT NULL THEN " +
    s"greatest(coalesce(n1b45, 0) - 0.75, 0.0) / nmid4 + " +
    s"0.75 * n1f4 / nmid4 * $kn5P3 ELSE $kn5P3 END)"
  private val kn5P5 = s"(CASE WHEN c1234 IS NOT NULL THEN " +
    s"greatest(coalesce(c12345, 0) - 0.75, 0.0) / c1234 + " +
    s"0.75 * n1f1234 / c1234 * $kn5P4 ELSE $kn5P4 END)"

  /** Candidate-pair Jaccard over `posting` (itr/cnt CTEs shared by
    * the dedup oracles).
    */
  private val jaccardTail =
    """cnt AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
      |itr AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
      |  FROM cand c JOIN posting pa ON pa.doc_id = c.a_id
      |  JOIN posting pb ON pb.doc_id = c.b_id AND pb.s = pa.s
      |  GROUP BY c.a_id, c.b_id)
      |SELECT a_id, b_id,
      |  floor((CAST(inter AS DOUBLE)/(ca.n + cb.n - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
      |FROM itr JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id
      |ORDER BY jaccard DESC, a_id, b_id""".stripMargin

  private def corpusCte(perturb: Boolean): String = {
    val copy = if (perturb) "substr(text, strpos(text, ' ') + 1)" else "text"
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, $copy FROM documents WHERE doc_id % 7 = 0)""".stripMargin
  }

  /** MODEL-artifact search oracle, shared by knn_model (seeded
    * artifact) and knn_model_trained (corpus-trained artifact): the
    * cosine top-k is replayed from the STAGED projection vectors
    * (inference runs once, in Spark, through the TextEmbedder seam;
    * no model in DuckDB) — the sequence_pack_bpe staged-artifact
    * recipe applied to embeddings. `glob` is content-addressed by
    * the corpus-key spelling; the LEFT JOIN from documents makes a
    * staged table missing any doc fail loudly (missing QUERY doc →
    * NULL output rows; missing CORPUS doc → NULLS-FIRST poisons the
    * top-5 instead of silently sorting out under NULLS LAST).
    */
  private def modelSearchSql(glob: String): String =
    s"""WITH ck AS (SELECT CAST(COUNT(*) AS VARCHAR) || '-' ||
       |    CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))::BIGINT) AS VARCHAR) || '-' ||
       |    CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 9, 8))::BIGINT) AS VARCHAR) AS k
       |  FROM documents),
       |stg AS (SELECT DISTINCT doc_id, emb
       |  FROM read_parquet('$glob/*.parquet', union_by_name=true)
       |  WHERE corpus_key = (SELECT k FROM ck)),
       |n AS (SELECT d.doc_id, stg.emb,
       |    sqrt(list_sum(list_transform(stg.emb, x -> x*x))) AS nrm
       |  FROM documents d LEFT JOIN stg ON d.doc_id = stg.doc_id),
       |q AS (SELECT doc_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE doc_id < ${VectorSearch.NQueries}),
       |c AS (SELECT doc_id, emb, nrm FROM n WHERE doc_id >= ${VectorSearch.NQueries}),
       |s AS (SELECT q_id, doc_id,
       |    floor((list_dot_product(q_emb, emb)/(q_nrm*nrm)) * 10000.0 + 0.5)/10000.0 AS cos
       |  FROM q, c),
       |r AS (SELECT q_id, doc_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC NULLS FIRST, doc_id) AS rk FROM s)
       |SELECT q_id, doc_id, cos, rk FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  private val sessionizeSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL OR ts_ms - lag(ts_ms) OVER w > 1800000
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |), sess AS (
      |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |), per_session AS (
      |  SELECT user_id, session_id, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      |  FROM sess GROUP BY user_id, session_id
      |)""".stripMargin

  /** UNCAPPED verified-pair oracle (the pair source for
    * dedup_clusters' / neardup_apply's recursive component closure —
    * mirror of Dedup.minhashPairs).
    */
  /** minhash → bands → candidate pairs over a `posting` already in
    * scope — shared by the doc-level pair report and the rep-level
    * quotient chain below.
    */
  private val minhashStagesSql: String =
    """hsh AS (SELECT doc_id, ('0x' || substr(s, 1, 8))::BIGINT AS h FROM posting),
      |mins AS (SELECT doc_id, p, MIN((976369*(p+1)*h + 1234567*p) % 4294967311) AS m
      |  FROM hsh, (SELECT unnest(generate_series(0, 15)) AS p) pp GROUP BY doc_id, p),
      |banded AS (SELECT doc_id, p // 4 AS bd,
      |    array_to_string(list(CAST(m AS VARCHAR) ORDER BY p), '|') AS band_key
      |  FROM mins GROUP BY doc_id, p // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM banded a JOIN banded b ON a.bd = b.bd AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id)""".stripMargin

  /** DOC-LEVEL pair report — every doc through posting → minhash →
    * bands → verified jaccard. Correct at every scale but
    * clone²-infeasible as a DuckDB oracle at the 128× ladder rung
    * (the cand ⋈ posting ⋈ posting verify join spills past the
    * box's disk); kept as the equivalence anchor for the quotient
    * spelling below, which replaced it as dedup_minhash's oracle in
    * round 12 after a full-pair-set DuckDB diff of the two came back
    * empty at sf0.01, sf0.1 and the 8× rung.
    */
  private[graft] val minhashPairsSql: String =
    "WITH " + corpusCte(perturb = true) + ",\n" + postingCte("corpus") +
      ",\n" + minhashStagesSql + ",\n" + jaccardTail

  /** Quotient-contracted spelling of the SAME doc-level pair report:
    * band keys and jaccard are pure functions of the text, so the
    * posting/minhash/band/verify chain runs on ONE rep per distinct
    * text (`reps`), and doc-level pairs are recovered by membership
    * expansion — a cross-group rep pair (ra, rb, j) expands to
    * Ga × Gb pairs all at jaccard j, and a group's internal pairs
    * are exact clones: candidates iff the text shingles (identical
    * band keys), jaccard exactly 1. Same argument as
    * clustersQuotientSql (which has used it since the 32× rung);
    * the doc-level form stays the oracle for dedup_minhash_grouped,
    * so quotient-expand ≡ doc-level remains independently gated on
    * real multi-member groups.
    */
  private def minhashQuotientPairsSqlOver(corpusSql: String): String =
    "WITH " + corpusSql +
      """,
        |grp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS r,
        |    (len(string_split(text, ' ')) >= 3) AS hasp
        |  FROM corpus),
        |reps AS (SELECT c.doc_id, c.text FROM corpus c
        |  JOIN (SELECT DISTINCT r FROM grp) rr ON c.doc_id = rr.r),
        |rpairs AS (WITH """.stripMargin + postingCte("reps") +
      ",\n" + minhashStagesSql + ",\n" + jaccardTail +
      """
        |),
        |within AS (SELECT g1.doc_id AS a_id, g2.doc_id AS b_id,
        |    CAST(1.0 AS DOUBLE) AS jaccard
        |  FROM grp g1 JOIN grp g2 ON g1.r = g2.r AND g1.doc_id < g2.doc_id
        |  WHERE g1.hasp),
        |crossx AS (SELECT least(ga.doc_id, gb.doc_id) AS a_id,
        |    greatest(ga.doc_id, gb.doc_id) AS b_id, p.jaccard
        |  FROM rpairs p JOIN grp ga ON ga.r = p.a_id JOIN grp gb ON gb.r = p.b_id)
        |SELECT a_id, b_id, jaccard
        |FROM (SELECT * FROM within UNION ALL SELECT * FROM crossx)
        |ORDER BY jaccard DESC, a_id, b_id""".stripMargin

  private[graft] val minhashQuotientPairsSql: String =
    minhashQuotientPairsSqlOver(corpusCte(perturb = true))

  /** Top-50 report oracle (dedup_minhash). */
  private val minhashOracle: String = minhashQuotientPairsSql + " LIMIT 50"

  /** The grouped near-dup corpus (Dedup.corpusWithGroups): the base
    * corpus plus SURVIVING exact-duplicate groups — exact copies of
    * every 14th/28th doc and of every 14th's perturbed near-copy
    * (groups of size 2-3 on both sides of near-dup edges), plus a
    * duplicated two-word prefix (a group that cannot shingle). On
    * this corpus the exact-content quotient is NOT the identity, so
    * the doc-level oracle spelling below genuinely cross-checks the
    * Spark side's quotient-expand build.
    */
  private val groupedCorpusSql: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1)
      |    FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 14 = 0
      |  UNION ALL SELECT doc_id + 300000, text FROM documents WHERE doc_id % 28 = 0
      |  UNION ALL SELECT doc_id + 400000, substr(text, strpos(text, ' ') + 1)
      |    FROM documents WHERE doc_id % 14 = 0
      |  UNION ALL SELECT doc_id + 500000, regexp_extract(text, '^(\S+ \S+)', 1)
      |    FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 600000, regexp_extract(text, '^(\S+ \S+)', 1)
      |    FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** The grouped corpus's DOC-LEVEL pair build — no quotient on the
    * DuckDB side. Kept as the EQUIVALENCE ANCHOR for the quotient
    * spelling below (the dedup_minhash r12 discipline): it is
    * clone²-infeasible as a gate oracle past the 32× rung, so round
    * 15 re-proved the two spellings' FULL pair sets EQUAL by DuckDB
    * diff at sf0.001/sf0.01/sf0.1/8× and switched the gate oracle to
    * the quotient form, closing the standing ≥64× skip.
    */
  private[graft] val minhashGroupedDocLevelSql: String =
    "WITH " + groupedCorpusSql + ",\n" + postingCte("corpus") +
      ",\n" + minhashStagesSql + ",\n" + jaccardTail

  /** dedup_minhash_grouped's oracle (r15): the quotient-contracted
    * spelling over the grouped corpus — one rep per distinct text
    * through posting/minhash/bands/verify, doc-level pairs recovered
    * by within-clique + cross-lift expansion. On THIS corpus the
    * quotient is genuinely non-identity (groups of size 2-3, plus an
    * unshingleable 2-word group exercising the `hasp` eligibility
    * skip), so the gate still adjudicates the expansion algebra —
    * now at every rung instead of stopping at 32×.
    */
  private[graft] lazy val minhashGroupedQuotientSql: String =
    minhashQuotientPairsSqlOver(groupedCorpusSql)

  private lazy val minhashGroupedOracle: String =
    minhashGroupedQuotientSql + " LIMIT 50"

  /** Shared component chain for dedup_clusters/neardup_apply,
    * QUOTIENTED by exact-content group BEFORE minhash: bands and
    * jaccard are pure functions of the text, so every md5(text) group
    * shares all band keys (an internal clique at jaccard 1) and a
    * cross-group edge exists between two groups iff it exists between
    * their representatives — the whole posting/minhash/band/verify
    * pipeline therefore runs on ONE rep per distinct text and the
    * recursive closure on the ~#distinct-texts rep graph, instead of
    * on every doc. The doc-level spelling was correct but infeasible
    * as an oracle at the 32× ladder rung (the cand ⋈ posting ⋈
    * posting verify join spilled past 78 GB of DuckDB temp); this
    * form is equivalent and stays small at every scale. A doc is
    * clustered iff it has ≥ 1 qualifying edge: cross-group (its rep
    * is in the rep closure) or intra-group (group size ≥ 2 and the
    * text shingles, i.e. ≥ 3 tokens).
    */
  private val clustersQuotientSql: String =
    clustersQuotientSqlOver(corpusCte(perturb = true))

  /** The quotient component chain over an arbitrary `corpus` CTE —
    * shared by the base near-dup closure and its grouped variant
    * (where exact-duplicate groups of size ≥ 2 actually exist).
    */
  private def clustersQuotientSqlOver(corpusSql: String): String =
    "WITH RECURSIVE " + corpusSql +
      """,
        |grp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS r,
        |    COUNT(*) OVER (PARTITION BY md5(text)) AS gn,
        |    (len(string_split(text, ' ')) >= 3) AS hasp
        |  FROM corpus),
        |reps AS (SELECT c.doc_id, c.text FROM corpus c
        |  JOIN (SELECT DISTINCT r FROM grp) rr ON c.doc_id = rr.r),
        |pairs AS (WITH """.stripMargin + postingCte("reps") +
      ",\n" + minhashStagesSql + ",\n" + jaccardTail +
      """
        |),
        |rp AS (SELECT a_id, b_id FROM pairs WHERE jaccard >= 0.8),
        |edges AS (SELECT a_id AS a, b_id AS b FROM rp
        |  UNION ALL SELECT b_id AS a, a_id AS b FROM rp),
        |reach AS (SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |repc AS (SELECT a AS r, least(a, MIN(b)) AS cl FROM reach GROUP BY a),
        |clus AS (SELECT g.doc_id AS doc_id, coalesce(rc.cl, g.r) AS cluster_id
        |  FROM grp g LEFT JOIN repc rc ON rc.r = g.r
        |  WHERE rc.r IS NOT NULL OR (g.gn >= 2 AND g.hasp))
        |""".stripMargin

  /** corpus_curate's oracle: the 7-stage funnel replayed over the
    * 3-way injected corpus. The heavy cross-referenced CTEs are
    * marked MATERIALIZED — DuckDB otherwise re-inlines the whole
    * minhash chain once per downstream reference and the report's
    * seven count references turn a 2 s query into minutes. The
    * quality/lang expressions are the quality_score / lang_id oracle
    * spellings verbatim; pairs and contam splice the shared
    * posting/minhash/jaccard CTE bodies.
    */
  private val curateChainSql: String =
    """WITH cc AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)
      |    FROM documents WHERE doc_id % 13 = 0),
      |flagged AS MATERIALIZED (SELECT doc_id, text,
      |  (trim(text) <> '' AND length(text) <= 1000
      |    AND len(string_split(text, ' ')) >= 15) AS valid,
      |  (floor((0.4 * least(CAST(len(string_split(text, ' ')) AS DOUBLE)/100.0, 1.0)
      |   + 0.3 * (1.0 - CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |       ['a','the','data','table','row','value'])) AS DOUBLE)
      |     / len(list_distinct(string_split(text, ' '))))
      |   + 0.3 * least((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      |     / len(string_split(text, ' ')))/10.0, 1.0)) * 10000.0 + 0.5) / 10000.0 >= 0.5) AS quality_ok,
      |  (greatest(
      |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |      ['spark','batch','stream','window','join','agg','merge','fast','slow'])) AS DOUBLE)
      |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0,
      |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |      ['query','scan','filter','sort','group','order'])) AS DOUBLE)
      |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0,
      |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
      |      ['table','row','column','part','key','value','hash'])) AS DOUBLE)
      |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0) >= 0.25) AS lang_ok
      | FROM cc),
      |s4 AS (SELECT doc_id, text FROM flagged WHERE valid AND quality_ok AND lang_ok),
      |s5 AS MATERIALIZED (SELECT doc_id, text FROM s4
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM s4 GROUP BY md5(text))),
      |pairs AS (WITH """.stripMargin + postingCte("s5") + ",\n" +
      minhashStagesSql + ",\n" + jaccardTail +
      """),
        |drop6 AS (SELECT DISTINCT b_id FROM pairs WHERE jaccard >= 0.8),
        |s6 AS MATERIALIZED (SELECT doc_id, text FROM s5
        |  WHERE doc_id NOT IN (SELECT b_id FROM drop6)),
        |contam AS MATERIALIZED (WITH """.stripMargin + postingCte("s6") +
      """,
        |  cnt AS (SELECT doc_id, COUNT(*) AS n FROM posting WHERE doc_id % 101 <> 0 GROUP BY doc_id),
        |  ov AS (SELECT p.doc_id, b.doc_id AS bench_id, COUNT(*) AS hits
        |    FROM posting p JOIN posting b ON p.s = b.s
        |      AND b.doc_id % 101 = 0 AND p.doc_id % 101 <> 0
        |    GROUP BY p.doc_id, b.doc_id),
        |  mx AS (SELECT doc_id, MAX(hits) AS mh FROM ov GROUP BY doc_id)
        |  SELECT c.doc_id FROM cnt c JOIN mx USING (doc_id)
        |  WHERE floor((CAST(mh AS DOUBLE)/n) * 10000.0 + 0.5)/10000.0 >= 0.5)""".stripMargin

  private val curateSql: String = curateChainSql +
    """,
        |nn AS MATERIALIZED (SELECT * FROM
        |  (SELECT COUNT(*) AS n_raw,
        |    COUNT(CASE WHEN valid THEN 1 END) AS n_valid,
        |    COUNT(CASE WHEN valid AND quality_ok THEN 1 END) AS n_q,
        |    COUNT(CASE WHEN valid AND quality_ok AND lang_ok THEN 1 END) AS n_l FROM flagged),
        |  (SELECT COUNT(*) AS n5 FROM s5),
        |  (SELECT COUNT(*) AS n6 FROM s6),
        |  (SELECT COUNT(*) AS n7 FROM s6
        |    WHERE doc_id % 101 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)))
        |SELECT stage_id, stage, docs_in, docs_out, docs_in - docs_out AS dropped FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage, n_raw AS docs_in, n_raw AS docs_out FROM nn
        |  UNION ALL SELECT 1, 'validate', n_raw, n_valid FROM nn
        |  UNION ALL SELECT 2, 'quality', n_valid, n_q FROM nn
        |  UNION ALL SELECT 3, 'lang', n_q, n_l FROM nn
        |  UNION ALL SELECT 4, 'dedup_exact', n_l, n5 FROM nn
        |  UNION ALL SELECT 5, 'dedup_near', n5, n6 FROM nn
        |  UNION ALL SELECT 6, 'decontaminate', n6, n7 FROM nn)
        |ORDER BY stage_id""".stripMargin

  // the DSv2 variant reads the SAME committed index through the
  // connector, so its expected rows are index_search's by
  // construction — what differs (and what the gate now covers) is the
  // manifest-resolution + bucket-pruned read path
  def oracleSql: Map[String, String] =
    oracleSql0 + ("index_search_dsv2" -> oracleSql0("index_search"))

  private lazy val oracleSql0: Map[String, String] = Map(
    // the quarantine reader's row accounting, arithmetically: good
    // lines are every doc_id % 13 != 0 (the generator corrupts the
    // rest), so both aggregates derive straight from the table
    "jsonl_ingest" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 13 <> 0 GROUP BY lang
        |UNION ALL
        |SELECT '__quarantined__' AS lang, COUNT(*) AS n_docs, CAST(0 AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 13 = 0
        |ORDER BY lang""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue_topk" ->
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  epoch_ms(o_orderdate) AS o_orderdate_ms
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
        |WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '1996-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-01-01'
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_region_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
        |  JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        |  JOIN nation ON s_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
        |WHERE r_name='ASIA' AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_window" ->
      """SELECT user_id, event_id, rk, run_sum, ts_ms FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk,
        |    floor((SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000.0 + 0.5) / 1000.0 AS run_sum,
        |    epoch_ms(ts) AS ts_ms
        |  FROM events) t WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,
    "q_rolling" ->
      """SELECT user_id, event_id, ts_ms, value,
        |  floor((avg5) * 10000.0 + 0.5) / 10000.0 AS moving_avg5,
        |  floor((value - coalesce(prev, value)) * 10000.0 + 0.5) / 10000.0 AS delta_prev
        |FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
        |    AVG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS avg5,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        |  FROM events) t
        |WHERE user_id < 20 ORDER BY user_id, ts_ms, event_id""".stripMargin,
    "contribution_analytics" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "top_rated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "recent_n" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type FROM events
        |ORDER BY ts_ms DESC, event_id DESC LIMIT 10""".stripMargin,
    "paginate" ->
      """SELECT doc_id, source, n_chars FROM documents
        |ORDER BY doc_id LIMIT 20 OFFSET 20""".stripMargin,
    "sessionize" -> (sessionizeSql +
      """
        |SELECT user_id, session_id, start_ms, end_ms, n_events, session_value
        |FROM per_session ORDER BY user_id, session_id""".stripMargin),
    "session_stats" -> (sessionizeSql +
      """,
        |now_t AS (SELECT MAX(epoch_ms(ts)) AS now_ms,
        |  MAX(epoch_ms(ts)) - MAX(epoch_ms(ts)) % 86400000 AS today_ms FROM events)
        |SELECT COUNT(*) AS total_sessions,
        |  CAST(SUM(CASE WHEN end_ms >= now_ms - 1800000 THEN 1 ELSE 0 END) AS BIGINT) AS active_sessions,
        |  CAST(SUM(CASE WHEN start_ms >= today_ms THEN 1 ELSE 0 END) AS BIGINT) AS today_sessions
        |FROM per_session, now_t""".stripMargin),
    "session_cleanup" -> (sessionizeSql +
      """,
        |now_t AS (SELECT MAX(epoch_ms(ts)) AS now_ms FROM events),
        |doomed AS (SELECT user_id, session_id FROM per_session, now_t
        |  WHERE end_ms < now_ms - 1800000 AND end_ms < now_ms - 86400000),
        |kept AS (SELECT p.user_id, p.session_id FROM per_session p
        |  WHERE NOT EXISTS (SELECT 1 FROM doomed d
        |    WHERE d.user_id = p.user_id AND d.session_id = p.session_id))
        |SELECT (SELECT COUNT(*) FROM per_session) AS total_before,
        |  (SELECT COUNT(*) FROM doomed) AS deleted,
        |  (SELECT COUNT(*) FROM kept) AS total_after""".stripMargin),
    "session_cleanup_apply" -> (sessionizeSql +
      """,
        |now_t AS (SELECT MAX(epoch_ms(ts)) AS now_ms FROM events)
        |SELECT p.user_id, p.session_id, p.start_ms, p.end_ms, p.n_events, p.session_value
        |FROM per_session p, now_t
        |WHERE NOT (p.end_ms < now_ms - 1800000 AND p.end_ms < now_ms - 86400000)
        |ORDER BY p.user_id, p.session_id""".stripMargin),
    "live_users" ->
      """SELECT COUNT(DISTINCT user_id) AS live_users
        |FROM events, (SELECT MAX(epoch_ms(ts)) AS now_ms FROM events) n
        |WHERE epoch_ms(ts) >= now_ms - 1800000""".stripMargin,
    "activity_summary" ->
      """SELECT user_id, event_type, COUNT(*) AS n
        |FROM events, (SELECT MAX(epoch_ms(ts)) AS now_ms FROM events) n
        |WHERE epoch_ms(ts) >= now_ms - 604800000
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "dashboard_stats" ->
      """SELECT d.n_docs, d.total_chars, e.n_users, e.n_events, o.n_orders, o.avg_order_value
        |FROM (SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents) d,
        |     (SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events FROM events) e,
        |     (SELECT COUNT(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(*) AS avg_order_value
        |      FROM orders) o""".stripMargin,
    "q_part_revenue" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey=p_partkey
        |GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 10""".stripMargin,
    "funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
        |v AS (SELECT user_id, MIN(ts_ms) AS v_ms FROM ev WHERE event_type='view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts_ms) AS c_ms FROM ev e JOIN v ON e.user_id=v.user_id
        |  WHERE e.event_type='click' AND e.ts_ms > v.v_ms GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts_ms) AS p_ms FROM ev e JOIN c ON e.user_id=c.user_id
        |  WHERE e.event_type='purchase' AND e.ts_ms > c.c_ms GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS users_view,
        |  (SELECT COUNT(*) FROM c) AS users_click_after_view,
        |  (SELECT COUNT(*) FROM p) AS users_purchase_after_click""".stripMargin,
    "status_transition" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'pending'
        |       WHEN doc_id % 5 = 1 THEN 'rejected' ELSE 'approved' END AS status
        |FROM documents),
        |t AS (SELECT doc_id, status,
        |  CASE WHEN status = 'pending' THEN 'approved' ELSE status END AS new_status FROM d),
        |b AS (SELECT status, COUNT(*) AS n_before FROM t GROUP BY status),
        |a AS (SELECT new_status AS status, COUNT(*) AS n_after FROM t GROUP BY new_status)
        |SELECT coalesce(b.status, a.status) AS status,
        |  CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
        |  CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after
        |FROM b FULL OUTER JOIN a ON b.status = a.status ORDER BY status""".stripMargin,
    "event_windows" ->
      """SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS window_ms, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_ms, event_type""".stripMargin,
    "value_outliers" ->
      """WITH st AS (SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(value*value AS DECIMAL(18,4))) AS DOUBLE) AS ss
        |  FROM events GROUP BY event_type),
        |m AS (SELECT event_type, s/n AS mean, sqrt((ss - s*s/n)/(n - 1.0)) AS std FROM st),
        |z AS (SELECT e.event_type, e.event_id, e.value,
        |    floor(((e.value - m.mean)/m.std) * 10000.0 + 0.5)/10000.0 AS z
        |  FROM events e JOIN m ON e.event_type = m.event_type)
        |SELECT event_type, event_id, value, z FROM z WHERE abs(z) > 3.0
        |ORDER BY event_type, event_id""".stripMargin,
    "value_percentiles" ->
      """SELECT event_type,
        |  floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50,
        |  floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90,
        |  floor((quantile_cont(value, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "asof_prev_view" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
        |p AS (SELECT user_id, event_id, ts_ms, 1 AS _side,
        |    CAST(NULL AS BIGINT) AS view_event_id FROM ev WHERE event_type='purchase'),
        |v AS (SELECT user_id, CAST(NULL AS BIGINT) AS event_id, ts_ms, 0 AS _side,
        |    event_id AS view_event_id FROM ev WHERE event_type='view'),
        |u AS (SELECT * FROM p UNION ALL SELECT * FROM v),
        |w AS (SELECT *, last_value(CASE WHEN _side=0 THEN view_event_id END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |      ORDER BY ts_ms, _side, coalesce(view_event_id, 9223372036854775807)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_view_event_id
        |  FROM u)
        |SELECT user_id, event_id, ts_ms, prev_view_event_id FROM w WHERE _side=1
        |ORDER BY user_id, event_id""".stripMargin,
    "pivot_events" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "range_active_sessions" -> (sessionizeSql +
      """,
        |p AS (SELECT event_id, epoch_ms(ts) AS ts_ms FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, COUNT(*) AS n_active
        |  FROM p JOIN per_session s ON p.ts_ms >= s.start_ms AND p.ts_ms <= s.end_ms
        |  GROUP BY p.event_id)
        |SELECT p.event_id, p.ts_ms, CAST(coalesce(j.n_active, 0) AS BIGINT) AS n_active
        |FROM p LEFT JOIN j ON p.event_id = j.event_id ORDER BY p.event_id""".stripMargin),
    "session_overlap" -> (sessionizeSql +
      """,
        |j AS (SELECT a.user_id, a.session_id, COUNT(*) AS n_overlap
        |  FROM per_session a JOIN per_session b
        |    ON a.start_ms <= b.end_ms AND b.start_ms <= a.end_ms
        |   AND a.user_id <> b.user_id
        |  GROUP BY a.user_id, a.session_id)
        |SELECT s.user_id, s.session_id,
        |  CAST(coalesce(j.n_overlap, 0) AS BIGINT) AS n_overlap
        |FROM per_session s LEFT JOIN j
        |  ON s.user_id = j.user_id AND s.session_id = j.session_id
        |ORDER BY s.user_id, s.session_id""".stripMargin),
    "cohort_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) - epoch_ms(ts) % 86400000 AS day_ms FROM events),
        |fd AS (SELECT user_id, MIN(day_ms) AS cohort_ms FROM ev GROUP BY user_id),
        |cs AS (SELECT cohort_ms, COUNT(*) AS cohort_size FROM fd GROUP BY cohort_ms),
        |r AS (SELECT fd.cohort_ms, (ev.day_ms - fd.cohort_ms) / 86400000 AS offset_days,
        |    COUNT(*) AS retained
        |  FROM ev JOIN fd ON ev.user_id = fd.user_id
        |  GROUP BY fd.cohort_ms, (ev.day_ms - fd.cohort_ms) / 86400000)
        |SELECT r.cohort_ms, CAST(r.offset_days AS BIGINT) AS offset_days, r.retained, cs.cohort_size
        |FROM r JOIN cs ON r.cohort_ms = cs.cohort_ms
        |ORDER BY r.cohort_ms, offset_days""".stripMargin,
    "hybrid_context" -> ("WITH " + queriesCte + ",\n" + keywordBody + ",\n" +
      textEmbBody + ",\n" + contextCte(prioritized = false) +
      """
        |SELECT q_id, combined_context FROM ctx ORDER BY q_id""".stripMargin),
    "hybrid_context_prioritized" -> ("WITH " + queriesCte + ",\n" + keywordBody + ",\n" +
      textEmbBody + ",\n" + contextCte(prioritized = true) +
      """
        |SELECT q_id, combined_context FROM ctx ORDER BY q_id""".stripMargin),
    "hybrid_context_fallback" -> ("WITH " + queriesCte + ",\n" + keywordBody +
      """,
        |kw AS (SELECT q_id, doc_id, score, rating, rk FROM kr WHERE rk <= 5),
        |hits AS (SELECT kw.*, d.text FROM kw JOIN documents d USING (doc_id)),
        |blocks AS (SELECT q_id, rk,
        |  concat('🎯 USER CONTRIBUTION #', CAST(rk AS VARCHAR), ':', chr(10),
        |    'Answer: ', substr(text, 1, 40), chr(10),
        |    'Rating: ', CAST(rating AS VARCHAR), '/5.0 (Similarity: ',
        |    CAST(CAST(floor(score*10000 + 0.5) AS BIGINT) AS VARCHAR), 'bp)') AS block
        |  FROM hits),
        |sec AS (SELECT q_id, concat('USER CONTRIBUTIONS (FALLBACK SEARCH):', chr(10),
        |  array_to_string(list(block ORDER BY rk), concat(chr(10), chr(10)))) AS fb
        |  FROM blocks GROUP BY q_id)
        |SELECT q.q_id, coalesce(s.fb, '') AS fallback_context
        |FROM queries q LEFT JOIN sec s ON q.q_id = s.q_id
        |ORDER BY q.q_id""".stripMargin),
    "ask_batch" -> ("WITH " + queriesCte + ",\n" + keywordBody + ",\n" +
      textEmbBody + ",\n" + contextCte(prioritized = false) + ",\n" + sourcesCte +
      """,
        |fc AS (SELECT q_id, COUNT(*) AS faiss_count FROM tr WHERE rk <= 5 GROUP BY q_id),
        |cc AS (SELECT q_id, COUNT(*) AS contribution_count FROM kr WHERE rk <= 5 GROUP BY q_id),
        |j AS (SELECT coalesce(fc.q_id, cc.q_id) AS q_id,
        |    CAST(coalesce(fc.faiss_count, 0) AS BIGINT) AS faiss_count,
        |    CAST(coalesce(cc.contribution_count, 0) AS BIGINT) AS contribution_count
        |  FROM fc FULL OUTER JOIN cc ON fc.q_id = cc.q_id)
        |SELECT j.q_id, j.faiss_count, j.contribution_count,
        |  j.faiss_count + j.contribution_count AS total_sources,
        |  CASE WHEN j.faiss_count + j.contribution_count >= 3 THEN 'high'
        |       WHEN j.faiss_count + j.contribution_count >= 1 THEN 'medium'
        |       ELSE 'low' END AS search_effectiveness,
        |  ctx.combined_context, srcs.sources,
        |  CASE WHEN j.faiss_count = 0 AND j.contribution_count = 0
        |    THEN 'No relevant information found. Consider rephrasing your question or adding more specific keywords.'
        |  WHEN j.faiss_count > 0 AND j.contribution_count > 0
        |    THEN 'Great! Found both original documentation and user contributions for comprehensive answers.'
        |  WHEN j.faiss_count > 0
        |    THEN 'Found relevant information in the original documentation.'
        |  ELSE 'Found user contributions that may help answer your question.'
        |  END AS recommendation
        |FROM j LEFT JOIN ctx ON j.q_id = ctx.q_id
        |LEFT JOIN srcs ON j.q_id = srcs.q_id ORDER BY j.q_id""".stripMargin),
    "props_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "doc_chunk" -> (chunksCte +
      """
        |SELECT doc_id, CAST(g-1 AS BIGINT) AS chunk_index, lst[g] AS chunk_text,
        |  CAST(length(lst[g]) AS BIGINT) AS chunk_chars
        |FROM c, LATERAL (SELECT unnest(generate_series(1, len(lst))) g) s
        |ORDER BY doc_id, chunk_index""".stripMargin),
    "doc_chunk_stats" -> (chunksCte +
      """
        |SELECT doc_id, CAST(len(lst) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(list_sum(list_transform(lst, x -> length(x))), 0) AS BIGINT) AS total_chunk_chars
        |FROM c ORDER BY doc_id""".stripMargin),
    "doc_embed" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |b AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
        |  CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM tok),
        |agg AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw FROM b GROUP BY doc_id, dim),
        |n0 AS (SELECT doc_id, dim, raw,
        |  sqrt(CAST(SUM(raw*raw) OVER (PARTITION BY doc_id) AS DOUBLE)) AS nrm0 FROM agg),
        |n AS (SELECT doc_id, dim, raw,
        |  CASE WHEN nrm0 = 0.0 THEN 1e-10 ELSE nrm0 END AS nrm FROM n0)
        |SELECT doc_id, dim, floor((raw / nrm) * 10000.0 + 0.5) / 10000.0 AS weight FROM n ORDER BY doc_id, dim""".stripMargin,
    "vec_normalize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
        |n0 AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm0 FROM e),
        |n AS (SELECT vec_id, emb, CASE WHEN nrm0 = 0.0 THEN 1e-10 ELSE nrm0 END AS nrm FROM n0)
        |SELECT vec_id, CAST(g-1 AS BIGINT) AS dim, floor((emb[g]/nrm) * 10000.0 + 0.5) / 10000.0 AS v
        |FROM n, LATERAL (SELECT unnest(generate_series(1, len(emb))) g) s
        |ORDER BY vec_id, dim""".stripMargin,
    "pipeline_ingest" ->
      """WITH pg AS (SELECT doc_id, CAST(g AS BIGINT) AS page_no,
        |    substr(text, 1 + g*200, 200) AS page_text
        |  FROM documents, LATERAL (SELECT unnest(generate_series(0, (length(text)-1)//200)) g) s
        |  WHERE length(text) > 0),
        |pc AS (SELECT doc_id, page_no, [x for x in
        |    [trim(substr(page_text, h+1, 120)) for h in generate_series(0, length(page_text)-1, 96)
        |     if h = 0 or h + 24 < length(page_text)] if x <> ''] AS lst
        |  FROM pg),
        |ck AS (SELECT doc_id, page_no, CAST(g-1 AS BIGINT) AS chunk_index, lst[g] AS chunk_text
        |  FROM pc, LATERAL (SELECT unnest(generate_series(1, len(lst))) g) s),
        |tok AS (SELECT doc_id, page_no, chunk_index, unnest(string_split(chunk_text, ' ')) AS t FROM ck),
        |b AS (SELECT doc_id, page_no, chunk_index,
        |    ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
        |    CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM tok),
        |agg AS (SELECT doc_id, page_no, chunk_index, dim, CAST(SUM(sgn) AS BIGINT) AS raw
        |  FROM b GROUP BY doc_id, page_no, chunk_index, dim),
        |n0 AS (SELECT doc_id, page_no, chunk_index, dim, raw,
        |  sqrt(CAST(SUM(raw*raw) OVER (PARTITION BY doc_id, page_no, chunk_index) AS DOUBLE)) AS nrm0 FROM agg),
        |n AS (SELECT doc_id, page_no, chunk_index, dim, raw,
        |  CASE WHEN nrm0 = 0.0 THEN 1e-10 ELSE nrm0 END AS nrm FROM n0)
        |SELECT doc_id, page_no, chunk_index, dim,
        |  floor((raw / nrm) * 10000.0 + 0.5) / 10000.0 AS weight
        |FROM n ORDER BY doc_id, page_no, chunk_index, dim""".stripMargin,
    "index_search" ->
      """WITH queries(q_id, q_text) AS (VALUES (CAST(1 AS BIGINT), 'hash join')),
        |qtok AS (SELECT q_id, unnest(string_split(q_text, ' ')) AS t FROM queries),
        |qb AS (SELECT q_id, ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
        |  CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM qtok),
        |qagg AS (SELECT dim, CAST(SUM(sgn) AS BIGINT) AS raw FROM qb GROUP BY q_id, dim),
        |qn0 AS (SELECT dim, raw, sqrt(CAST(SUM(raw*raw) OVER () AS DOUBLE)) AS nrm0 FROM qagg),
        |qn AS (SELECT dim, raw, CASE WHEN nrm0 = 0.0 THEN 1e-10 ELSE nrm0 END AS nrm FROM qn0),
        |qe AS (SELECT dim, floor((raw/nrm) * 10000.0 + 0.5)/10000.0 AS qw FROM qn),
        |dtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |db AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT % 16 AS dim,
        |  CASE WHEN ('0x' || substr(md5(t), 5, 1))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM dtok),
        |dagg AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw FROM db GROUP BY doc_id, dim),
        |dn0 AS (SELECT doc_id, dim, raw,
        |  sqrt(CAST(SUM(raw*raw) OVER (PARTITION BY doc_id) AS DOUBLE)) AS nrm0 FROM dagg),
        |dn AS (SELECT doc_id, dim, raw,
        |  CASE WHEN nrm0 = 0.0 THEN 1e-10 ELSE nrm0 END AS nrm FROM dn0),
        |de AS (SELECT doc_id, dim, floor((raw/nrm) * 10000.0 + 0.5)/10000.0 AS weight FROM dn),
        |bkt AS (SELECT doc_id, dim AS bucket FROM (SELECT doc_id, dim,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY abs(weight) DESC, dim) AS r FROM de) t
        |  WHERE r = 1),
        |probes AS (SELECT dim FROM (SELECT dim,
        |    row_number() OVER (ORDER BY abs(qw) DESC, dim) AS r FROM qe) t WHERE r <= 2),
        |sc AS (SELECT de.doc_id, floor((SUM(qw * weight)) * 10000.0 + 0.5)/10000.0 AS score
        |  FROM de JOIN bkt USING (doc_id) JOIN qe USING (dim)
        |  WHERE bkt.bucket IN (SELECT dim FROM probes)
        |  GROUP BY de.doc_id)
        |SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 5""".stripMargin,
    "dedup_exact" -> ("WITH " + corpusCte(perturb = false) +
      """
        |SELECT md5(text) AS text_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin),
    "neardup_apply" ->
      (clustersQuotientSql +
        """SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
          |FROM corpus c
          |WHERE c.doc_id NOT IN (SELECT doc_id FROM clus WHERE cluster_id <> doc_id)
          |ORDER BY c.doc_id""".stripMargin),
    "dedup_apply" -> ("WITH " + corpusCte(perturb = false) +
      """,
        |keep AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text))
        |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
        |FROM corpus c WHERE c.doc_id IN (SELECT doc_id FROM keep)
        |ORDER BY c.doc_id""".stripMargin),
    "deterministic_sample" ->
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        |WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0
        |  < CASE WHEN event_type = 'purchase' THEN 1.0
        |         WHEN event_type = 'error' THEN 0.5 ELSE 0.05 END
        |ORDER BY event_id""".stripMargin,
    "dedup_minhash" -> minhashOracle,
    "dedup_minhash_grouped" -> minhashGroupedOracle,
    // Incremental delta-vs-base near-dup (Dedup.neardupIncremental):
    // same signature/band pipeline, candidates restricted to
    // base × delta, best base match per delta doc at jaccard ≥ 0.8.
    "neardup_incremental" ->
      ("WITH " + corpusCte(perturb = true) + ",\n" + postingCte("corpus") +
        ",\n" + minhashStagesSql +
        """,
          |inc AS (SELECT a_id, b_id FROM cand WHERE a_id < 100000 AND b_id >= 100000),
          |cnt AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
          |itr AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
          |  FROM inc c JOIN posting pa ON pa.doc_id = c.a_id
          |  JOIN posting pb ON pb.doc_id = c.b_id AND pb.s = pa.s
          |  GROUP BY c.a_id, c.b_id),
          |jac AS (SELECT a_id, b_id,
          |    floor((CAST(inter AS DOUBLE)/(ca.n + cb.n - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
          |  FROM itr JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id),
          |best AS (SELECT b_id AS doc_id, a_id AS match_id, jaccard,
          |    row_number() OVER (PARTITION BY b_id ORDER BY jaccard DESC, a_id) AS rk
          |  FROM jac WHERE jaccard >= 0.8)
          |SELECT doc_id, match_id, jaccard FROM best WHERE rk = 1
          |ORDER BY doc_id""".stripMargin),
    "dedup_clusters" ->
      (clustersQuotientSql +
        "SELECT doc_id, cluster_id FROM clus ORDER BY doc_id"),
    // Leakage-aware split (Dedup.datasetSplit): group id = near-dup
    // component label (falling back to the doc's own id), side = the
    // deterministic_sample md5 coin over the group id.
    "dataset_split" ->
      (clustersQuotientSql +
        """, asg AS (SELECT c.doc_id, COALESCE(k.cluster_id, c.doc_id) AS group_id
          |  FROM corpus c LEFT JOIN clus k ON k.doc_id = c.doc_id)
          |SELECT doc_id, group_id,
          |  CASE WHEN CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
          |      / 4294967296.0 < """.stripMargin + Dedup.SplitEvalFrac +
        """ THEN 'eval' ELSE 'train' END AS split
          |FROM asg ORDER BY doc_id""".stripMargin),
    // Incremental split (Dedup.datasetSplitIncremental): base-only
    // quotient closure (corpus := documents alone) gives the frozen
    // base manifest; the full-corpus posting/band chain restricted to
    // base × delta gives each delta doc's best match; matched docs
    // inherit the match's group coin, novel docs their own.
    // r15 respell: the PROBE side is quotient-contracted too — posting/
    // minhash/bands/verify run over base reps ∪ delta reps (quotiented
    // PER SIDE, mirroring Dedup.neardupIncremental's separate base and
    // delta quotients), the best base match is ranked at rep level
    // (tie-break equivalence: a base group's members all tie at the
    // rep's jaccard and the rep IS the group minimum, so the rep-level
    // min coincides with the doc-level min), and every clone of a
    // matched delta rep inherits the match (dmatch). The r13 spelling's
    // doc-level probe (posting over EVERY doc of fullc, clone²
    // candidates in `inc`) was what exhausted memory+disk at the 128×
    // rung; spelling equivalence re-proven by full-result DuckDB diff
    // at sf0.001/sf0.01/sf0.1/8× before the swap (gate addendum).
    "dataset_split_incremental" ->
      (clustersQuotientSqlOver(
        """fullc AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1)
          |  FROM documents WHERE doc_id % 7 = 0),
          |corpus AS (SELECT doc_id, text FROM fullc WHERE doc_id < 100000)""".stripMargin) +
        """, delta AS (SELECT doc_id, text FROM fullc WHERE doc_id >= 100000),
          |dgrp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS r FROM delta),
          |dreps AS (SELECT d.doc_id, d.text FROM delta d
          |  JOIN (SELECT DISTINCT r FROM dgrp) xx ON d.doc_id = xx.r),
          |allreps AS (SELECT doc_id, text FROM reps UNION ALL SELECT doc_id, text FROM dreps),
          |""".stripMargin + postingCte("allreps") + ",\n" + minhashStagesSql +
        """,
          |inc AS (SELECT a_id, b_id FROM cand WHERE a_id < 100000 AND b_id >= 100000),
          |cnt AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
          |itr AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
          |  FROM inc c JOIN posting pa ON pa.doc_id = c.a_id
          |  JOIN posting pb ON pb.doc_id = c.b_id AND pb.s = pa.s
          |  GROUP BY c.a_id, c.b_id),
          |jac AS (SELECT a_id, b_id,
          |    floor((CAST(inter AS DOUBLE)/(ca.n + cb.n - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
          |  FROM itr JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id),
          |rbest AS (SELECT b_id, a_id AS match_id, jaccard,
          |    row_number() OVER (PARTITION BY b_id ORDER BY jaccard DESC, a_id) AS rk
          |  FROM jac WHERE jaccard >= 0.8),
          |dmatch AS MATERIALIZED (SELECT g.doc_id, rb.match_id, rb.jaccard
          |  FROM dgrp g JOIN (SELECT * FROM rbest WHERE rk = 1) rb ON rb.b_id = g.r),
          |bs AS (SELECT d.doc_id, COALESCE(k.cluster_id, d.doc_id) AS group_id
          |  FROM corpus d LEFT JOIN clus k ON k.doc_id = d.doc_id),
          |nov AS MATERIALIZED (SELECT dl.doc_id, dl.text FROM delta dl
          |  LEFT JOIN dmatch m ON m.doc_id = dl.doc_id
          |  WHERE m.doc_id IS NULL),
          |ngrp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS r FROM nov),
          |nreps AS (SELECT n.doc_id, n.text FROM nov n
          |  JOIN (SELECT DISTINCT r FROM ngrp) rr ON n.doc_id = rr.r),
          |npairs AS (WITH """.stripMargin + postingCte("nreps") +
        ",\n" + minhashStagesSql + ",\n" + jaccardTail +
        """
          |),
          |nrp AS (SELECT a_id, b_id FROM npairs WHERE jaccard >= 0.8),
          |nedges AS (SELECT a_id AS a, b_id AS b FROM nrp
          |  UNION ALL SELECT b_id AS a, a_id AS b FROM nrp),
          |nreach AS (SELECT a, b FROM nedges
          |  UNION SELECT r.a, e.b FROM nreach r JOIN nedges e ON r.b = e.a),
          |nrepc AS (SELECT a AS r, least(a, MIN(b)) AS cl FROM nreach GROUP BY a),
          |ngroups AS (SELECT g.doc_id, coalesce(rc.cl, g.r) AS dgroup
          |  FROM ngrp g LEFT JOIN nrepc rc ON rc.r = g.r)
          |SELECT dl.doc_id, b.match_id,
          |  COALESCE(bs.group_id, ng.dgroup, dl.doc_id) AS group_id,
          |  CASE WHEN CAST(('0x' || substr(md5(CAST(COALESCE(bs.group_id, ng.dgroup, dl.doc_id) AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
          |      / 4294967296.0 < """.stripMargin + Dedup.SplitEvalFrac +
        """ THEN 'eval' ELSE 'train' END AS split
          |FROM delta dl LEFT JOIN dmatch b ON b.doc_id = dl.doc_id
          |  LEFT JOIN bs ON bs.doc_id = b.match_id
          |  LEFT JOIN ngroups ng ON ng.doc_id = dl.doc_id
          |ORDER BY dl.doc_id""".stripMargin),
    "dedup_clusters_grouped" ->
      (clustersQuotientSqlOver(groupedCorpusSql) +
        "SELECT doc_id, cluster_id FROM clus ORDER BY doc_id"),
    // QUOTIENTED simhash (mirror of Dedup.simhashExpandedQualifying):
    // signatures and half-bucket capping over one REP per distinct
    // text, then the qualifying rep pairs expanded over the exact-
    // content groups — within-group pairs at hamming 0 under the same
    // member cap, cross pairs lifted over BOTH groups' first-cap
    // member slates (≤ cap² combos per rep edge, group-size-free).
    "dedup_simhash" -> ("WITH " + corpusCte(perturb = true) +
      """,
        |grp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS r,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS grk
        |  FROM corpus),
        |reps AS (SELECT c.doc_id, c.text FROM corpus c
        |  JOIN (SELECT DISTINCT r FROM grp) rr ON c.doc_id = rr.r),
        |tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM reps)),
        |votes AS (SELECT doc_id, bb.bit AS bit,
        |    CASE WHEN CAST(SUM(CASE WHEN (h >> bb.bit) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) > 0
        |      THEN (CAST(1 AS BIGINT) << bb.bit) ELSE 0 END AS bv
        |  FROM tok, (SELECT unnest(generate_series(0, 31)) AS bit) bb GROUP BY doc_id, bb.bit),
        |sh AS MATERIALIZED (SELECT doc_id, CAST(SUM(bv) AS BIGINT) AS simhash FROM votes GROUP BY doc_id),
        |halves AS (
        |  SELECT doc_id, simhash, 0 AS half_idx, simhash >> 16 AS half FROM sh
        |  UNION ALL SELECT doc_id, simhash, 1, simhash & 65535 FROM sh),
        |ranked AS MATERIALIZED (SELECT half_idx, half, doc_id, simhash,
        |    row_number() OVER (PARTITION BY half_idx, half ORDER BY doc_id) AS brk
        |  FROM halves),
        |bcap AS (SELECT half_idx, half, doc_id, simhash FROM ranked
        |  WHERE brk <= """.stripMargin + Dedup.SimhashBucketCap + """),
        |rcand AS MATERIALIZED (SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
        |    greatest(a.doc_id, b.doc_id) AS b_id,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM ranked a JOIN bcap b ON a.half_idx = b.half_idx AND a.half = b.half
        |    AND a.doc_id <> b.doc_id
        |  WHERE (a.brk > """.stripMargin + Dedup.SimhashBucketCap + """ OR a.doc_id < b.doc_id)
        |    AND bit_count(xor(a.simhash, b.simhash)) <= 6),
        |eg AS MATERIALIZED (SELECT g.doc_id, g.r, g.grk FROM grp g
        |  WHERE g.r IN (SELECT doc_id FROM sh)),
        |within AS (SELECT least(a.doc_id, b.doc_id) AS a_id,
        |    greatest(a.doc_id, b.doc_id) AS b_id, CAST(0 AS BIGINT) AS hamming
        |  FROM eg a JOIN eg b ON a.r = b.r AND a.doc_id <> b.doc_id
        |    AND b.grk <= """.stripMargin + Dedup.SimhashBucketCap + """
        |  WHERE (a.grk > """.stripMargin + Dedup.SimhashBucketCap + """ OR a.doc_id < b.doc_id)),
        |crossp AS (SELECT least(ma.doc_id, mb.doc_id) AS a_id,
        |    greatest(ma.doc_id, mb.doc_id) AS b_id, c.hamming
        |  FROM rcand c JOIN grp ma ON ma.r = c.a_id JOIN grp mb ON mb.r = c.b_id
        |  WHERE ma.grk <= """.stripMargin + Dedup.SimhashBucketCap +
      """ AND mb.grk <= """.stripMargin + Dedup.SimhashBucketCap + """),
        |cand AS (SELECT * FROM within UNION ALL SELECT * FROM crossp),
        |capped AS (SELECT a_id, b_id, hamming,
        |    row_number() OVER (PARTITION BY a_id ORDER BY hamming, b_id) AS prk
        |  FROM cand)
        |SELECT a_id, b_id, hamming FROM capped WHERE prk <= 8
        |ORDER BY hamming, a_id, b_id""".stripMargin),
    "ngram_jaccard" -> ("WITH " + postingCte("documents") +
      """,
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |dfq AS (SELECT s, COUNT(*) AS df FROM posting, nd GROUP BY s, n_docs
        |  HAVING COUNT(*) BETWEEN 2 AND greatest(5, (n_docs + 99) // 100)),
        |blocked AS (SELECT p.doc_id, p.s, dfq.df FROM posting p JOIN dfq USING (s)),
        |pfx AS (SELECT doc_id, s, df FROM (SELECT doc_id, s, df,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS rnk FROM blocked) t
        |  WHERE rnk <= 5),
        |bcap AS (SELECT doc_id, s FROM (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY s ORDER BY doc_id) AS brnk FROM blocked) t
        |  WHERE brnk <= 64),
        |cand0 AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS a_id,
        |    greatest(a.doc_id, b.doc_id) AS b_id, a.s AS s, a.df AS df
        |  FROM pfx a JOIN bcap b ON a.s = b.s AND a.doc_id <> b.doc_id),
        |cand AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |    row_number() OVER (ORDER BY COUNT(*) DESC, MIN(df), a_id, b_id) AS vrk
        |  FROM cand0 GROUP BY a_id, b_id) t, nd
        |  WHERE vrk <= greatest(200, (n_docs + 24) // 25)),
        |""".stripMargin + jaccardTail + " LIMIT 20"),
    "lang_id" ->
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  floor((CAST(len(list_intersect(toks, ['spark','batch','stream','window','join','agg','merge','fast','slow'])) AS DOUBLE)/len(toks)) * 10000.0 + 0.5) / 10000.0 AS s_exec,
        |  floor((CAST(len(list_intersect(toks, ['query','scan','filter','sort','group','order'])) AS DOUBLE)/len(toks)) * 10000.0 + 0.5) / 10000.0 AS s_query,
        |  floor((CAST(len(list_intersect(toks, ['table','row','column','part','key','value','hash'])) AS DOUBLE)/len(toks)) * 10000.0 + 0.5) / 10000.0 AS s_storage
        |FROM d)
        |SELECT doc_id,
        |  CASE WHEN s_exec >= s_query AND s_exec >= s_storage THEN 'exec'
        |       WHEN s_query >= s_storage THEN 'query' ELSE 'storage' END AS predicted,
        |  s_exec, s_query, s_storage FROM s ORDER BY doc_id""".stripMargin,
    // CCNet-style bigram-LM cross-entropy (Perplexity.scoreAgainst):
    // add-one smoothing P(w2|w1) = (c12+1)/(c1+V), xent in nats/bigram.
    "quality_perplexity" -> ("WITH " + pplxScoredCte +
      """
        |SELECT doc_id, n_bigrams, xent FROM scr ORDER BY doc_id""".stripMargin),
    "dsir_score" -> (dsirScoreSql +
      """
        |SELECT doc_id, n_bigrams, log_ratio FROM dsr ORDER BY doc_id""".stripMargin),
    "dsir_select" -> (dsirScoreSql +
      """
        |SELECT doc_id, n_bigrams, log_ratio FROM dsr
        |ORDER BY log_ratio DESC, doc_id LIMIT 100""".stripMargin),
    // Reference-trained scoring (Perplexity.qualityPerplexityRef): LM
    // over the md5-coin half, LEFT-join smoothing floors for the other
    // half's novel bigrams/prefixes — the smoothing branch under the gate.
    "quality_perplexity_ref" ->
      """WITH rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('pplxref:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.05
        |    AND len(string_split(text, ' ')) >= 2),
        |rbgr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM rtk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |rbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM rbgr GROUP BY w1, w2),
        |runi AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM rbig GROUP BY w1),
        |rvoc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(t) AS tok FROM rtk)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |abgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM atk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |scr AS (SELECT abgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    floor((-SUM(ln((coalesce(c12, 0) + 1.0) / (coalesce(c1, 0) + v)))
        |      / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent
        |  FROM abgr LEFT JOIN rbig USING (w1, w2) LEFT JOIN runi USING (w1), rvoc
        |  GROUP BY abgr.doc_id)
        |SELECT doc_id, n_bigrams, xent FROM scr ORDER BY doc_id""".stripMargin,
    // Jelinek-Mercer interpolated bigram<->unigram scorer over the same
    // md5-coin 5% training split (Perplexity.scoreAgainstInterp):
    // P = 0.75*c12/c1 + 0.25*(cu+1)/(N+V), unigram backbone = second
    // tokens of the training bigram stream (derived from the SAME
    // model artifact). Lambda literals are dyadic so the two engines'
    // 1-lambda cannot differ by an ulp; operand shapes mirror the
    // Scala Column expression exactly.
    "quality_perplexity_backoff" ->
      """WITH rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('pplxref:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.05
        |    AND len(string_split(text, ' ')) >= 2),
        |rbgr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM rtk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |rbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM rbgr GROUP BY w1, w2),
        |runi AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM rbig GROUP BY w1),
        |runi2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS cu FROM rbig GROUP BY w2),
        |rsc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v,
        |    (SELECT CAST(SUM(c12) AS BIGINT) FROM rbig) AS nn
        |  FROM (SELECT unnest(t) AS tok FROM rtk)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |abgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM atk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |scr AS (SELECT abgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    floor((-SUM(ln(0.75 * (CASE WHEN c1 IS NOT NULL
        |        THEN (coalesce(c12, 0) + 0.0) / c1 ELSE 0.0 END)
        |      + 0.25 * ((coalesce(cu, 0) + 1.0) / (nn + v))))
        |      / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent
        |  FROM abgr LEFT JOIN rbig USING (w1, w2) LEFT JOIN runi USING (w1)
        |    LEFT JOIN runi2 USING (w2), rsc
        |  GROUP BY abgr.doc_id)
        |SELECT doc_id, n_bigrams, xent FROM scr ORDER BY doc_id""".stripMargin,
    // Interpolated Kneser-Ney scorer over the same md5-coin 5% split
    // (Perplexity.scoreAgainstKn): P = max(c12-D,0)/c1 +
    // D*n1f(w1)/c1 * Pcont(w2), Pcont = (n1b+1)/(ND+V), where n1f/n1b
    // are distinct-continuation/context counts (model ROW counts per
    // w1/w2) and ND = distinct bigrams. D=0.75 dyadic; novel prefix
    // backs off to the continuation prior entirely. Operand shapes
    // mirror the Scala Column expression exactly.
    "quality_perplexity_kn" ->
      """WITH rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('pplxref:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.05
        |    AND len(string_split(text, ' ')) >= 2),
        |rbgr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM rtk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |rbig AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM rbgr GROUP BY w1, w2),
        |rpfx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |    CAST(COUNT(*) AS BIGINT) AS n1f FROM rbig GROUP BY w1),
        |rcont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM rbig GROUP BY w2),
        |rsc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rbig) AS nd
        |  FROM (SELECT unnest(t) AS tok FROM rtk)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |abgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM atk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) ii),
        |scr AS (SELECT abgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    floor((-SUM(ln(CASE WHEN c1 IS NOT NULL
        |      THEN greatest(coalesce(c12, 0) - 0.75, 0.0) / c1
        |         + 0.75 * n1f / c1 * ((coalesce(n1b, 0) + 1.0) / (nd + v))
        |      ELSE ((coalesce(n1b, 0) + 1.0) / (nd + v)) END))
        |      / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent
        |  FROM abgr LEFT JOIN rbig USING (w1, w2) LEFT JOIN rpfx USING (w1)
        |    LEFT JOIN rcont USING (w2), rsc
        |  GROUP BY abgr.doc_id)
        |SELECT doc_id, n_bigrams, xent FROM scr ORDER BY doc_id""".stripMargin,
    // TRIGRAM interpolated Kneser-Ney over the same md5-coin 5% split
    // (Perplexity.scoreAgainstKn3): two backoff levels with
    // continuation counts at each — P3 = max(c123-D,0)/c12 +
    // D*n1f12/c12*P2; P2 = max(n1b23-D,0)/nmid + D*n1fmid/nmid*P1;
    // P1 = (n1b3+1)/(ND+V). Every quantity is a row count of the
    // trigram table; the P2/P1 subtrees are spelled VERBATIM in both
    // CASE branches to mirror the reused Column trees exactly.
    // Population: docs with >= 3 tokens.
    "quality_perplexity_kn3" ->
      """WITH rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('pplxref:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.05
        |    AND len(string_split(text, ' ')) >= 3),
        |rtgr AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM rtk, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) ii),
        |rtri AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c123
        |  FROM rtgr GROUP BY w1, w2, w3),
        |rp12 AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12,
        |    CAST(COUNT(*) AS BIGINT) AS n1f12 FROM rtri GROUP BY w1, w2),
        |rmid AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n1b23
        |  FROM rtri GROUP BY w2, w3),
        |rmidp AS (SELECT w2, CAST(SUM(n1b23) AS BIGINT) AS nmid,
        |    CAST(COUNT(*) AS BIGINT) AS n1fmid FROM rmid GROUP BY w2),
        |rcont AS (SELECT w3, CAST(COUNT(*) AS BIGINT) AS n1b3
        |  FROM rtri GROUP BY w3),
        |rsc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rtri) AS nd
        |  FROM (SELECT unnest(t) AS tok FROM rtk)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |atgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
        |  FROM atk, LATERAL (SELECT unnest(generate_series(1, len(t)-2)) AS i) ii),
        |scr AS (SELECT atgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    floor((-SUM(ln(CASE WHEN c12 IS NOT NULL
        |      THEN greatest(coalesce(c123, 0) - 0.75, 0.0) / c12
        |         + 0.75 * n1f12 / c12 *
        |           (CASE WHEN nmid IS NOT NULL
        |              THEN greatest(coalesce(n1b23, 0) - 0.75, 0.0) / nmid
        |                 + 0.75 * n1fmid / nmid * ((coalesce(n1b3, 0) + 1.0) / (nd + v))
        |              ELSE ((coalesce(n1b3, 0) + 1.0) / (nd + v)) END)
        |      ELSE (CASE WHEN nmid IS NOT NULL
        |              THEN greatest(coalesce(n1b23, 0) - 0.75, 0.0) / nmid
        |                 + 0.75 * n1fmid / nmid * ((coalesce(n1b3, 0) + 1.0) / (nd + v))
        |              ELSE ((coalesce(n1b3, 0) + 1.0) / (nd + v)) END) END))
        |      / COUNT(*)) * 10000.0 + 0.5)/10000.0 AS xent
        |  FROM atgr LEFT JOIN rtri USING (w1, w2, w3) LEFT JOIN rp12 USING (w1, w2)
        |    LEFT JOIN rmid USING (w2, w3) LEFT JOIN rmidp USING (w2)
        |    LEFT JOIN rcont USING (w3), rsc
        |  GROUP BY atgr.doc_id)
        |SELECT doc_id, n_trigrams, xent FROM scr ORDER BY doc_id""".stripMargin,
    // 5-GRAM interpolated Kneser-Ney over the same md5-coin 5% split
    // (Perplexity.scoreAgainstKn5): four backoff levels; every
    // quantity is a row count of the 5-gram type table rg (rg rows
    // are DISTINCT 5-grams, so COUNT(*) grouped by a suffix counts
    // its distinct full left contexts). The P4..P1 subtrees are
    // composed strings (kn5P*) so every branch spells the identical
    // lower tree. Population: docs with >= 5 tokens.
    "quality_perplexity_kn5" ->
      ("""WITH rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE CAST(('0x' || substr(md5('pplxref:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 < 0.05
        |    AND len(string_split(text, ' ')) >= 5),
        |rfgr AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, t[i+3] AS w4, t[i+4] AS w5
        |  FROM rtk, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) ii),
        |rg AS MATERIALIZED (SELECT w1, w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS c12345
        |  FROM rfgr GROUP BY w1, w2, w3, w4, w5),
        |rtop AS (SELECT w1, w2, w3, w4, CAST(SUM(c12345) AS BIGINT) AS c1234,
        |    CAST(COUNT(*) AS BIGINT) AS n1f1234 FROM rg GROUP BY w1, w2, w3, w4),
        |rt4 AS MATERIALIZED (SELECT w2, w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS n1b45
        |  FROM rg GROUP BY w2, w3, w4, w5),
        |rt4p AS (SELECT w2, w3, w4, CAST(SUM(n1b45) AS BIGINT) AS nmid4,
        |    CAST(COUNT(*) AS BIGINT) AS n1f4 FROM rt4 GROUP BY w2, w3, w4),
        |rt3 AS MATERIALIZED (SELECT w3, w4, w5, CAST(COUNT(*) AS BIGINT) AS n1b345
        |  FROM rg GROUP BY w3, w4, w5),
        |rt3p AS (SELECT w3, w4, CAST(SUM(n1b345) AS BIGINT) AS nmid3,
        |    CAST(COUNT(*) AS BIGINT) AS n1f3 FROM rt3 GROUP BY w3, w4),
        |rt2 AS MATERIALIZED (SELECT w4, w5, CAST(COUNT(*) AS BIGINT) AS n1b452
        |  FROM rg GROUP BY w4, w5),
        |rt2p AS (SELECT w4, CAST(SUM(n1b452) AS BIGINT) AS nmid2,
        |    CAST(COUNT(*) AS BIGINT) AS n1f2 FROM rt2 GROUP BY w4),
        |rt1 AS (SELECT w5, CAST(COUNT(*) AS BIGINT) AS n1b5 FROM rg GROUP BY w5),
        |rsc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rg) AS nd
        |  FROM (SELECT unnest(t) AS tok FROM rtk)),
        |atk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |afgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, t[i+3] AS w4, t[i+4] AS w5
        |  FROM atk, LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) ii),
        |scr AS (SELECT afgr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_5grams,
        |    floor((-SUM(ln(""".stripMargin + kn5P5 + """)))
        |      / COUNT(*) * 10000.0 + 0.5)/10000.0 AS xent
        |  FROM afgr LEFT JOIN rg USING (w1, w2, w3, w4, w5)
        |    LEFT JOIN rtop USING (w1, w2, w3, w4)
        |    LEFT JOIN rt4 USING (w2, w3, w4, w5) LEFT JOIN rt4p USING (w2, w3, w4)
        |    LEFT JOIN rt3 USING (w3, w4, w5) LEFT JOIN rt3p USING (w3, w4)
        |    LEFT JOIN rt2 USING (w4, w5) LEFT JOIN rt2p USING (w4)
        |    LEFT JOIN rt1 USING (w5), rsc
        |  GROUP BY afgr.doc_id)
        |SELECT doc_id, n_5grams, xent FROM scr ORDER BY doc_id""".stripMargin),
    // Head/middle/tail perplexity terciles; cutoffs via quantile_cont
    // = Spark's exact interpolated percentile (value_percentiles parity).
    "quality_perplexity_buckets" -> ("WITH " + pplxScoredCte +
      """,
        |cut AS (SELECT floor((quantile_cont(xent, 1.0/3)) * 10000.0 + 0.5)/10000.0 AS c1,
        |    floor((quantile_cont(xent, 2.0/3)) * 10000.0 + 0.5)/10000.0 AS c2 FROM scr),
        |b AS (SELECT CASE WHEN xent <= c1 THEN 'head'
        |    WHEN xent <= c2 THEN 'middle' ELSE 'tail' END AS bucket, xent
        |  FROM scr, cut)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(xent) AS min_xent, MAX(xent) AS max_xent
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    // CCNet apply: keep head+middle (xent <= c2), drop the tail tercile
    "quality_perplexity_apply" -> ("WITH " + pplxScoredCte +
      """,
        |cut AS (SELECT floor((quantile_cont(xent, 1.0/3)) * 10000.0 + 0.5)/10000.0 AS c1,
        |    floor((quantile_cont(xent, 2.0/3)) * 10000.0 + 0.5)/10000.0 AS c2 FROM scr)
        |SELECT doc_id, n_bigrams, xent FROM scr, cut
        |WHERE xent <= c2 ORDER BY doc_id""".stripMargin),
    "quality_score" ->
      """WITH q AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)/length(text)
        |  END AS punct_ratio_r,
        |  CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |    ['a','the','data','table','row','value'])) AS DOUBLE)
        |    / len(list_distinct(string_split(text, ' '))) AS stop_ratio_r,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_word_len_r
        |FROM documents)
        |SELECT doc_id, chars, words, floor((punct_ratio_r) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
        |  floor((stop_ratio_r) * 10000.0 + 0.5) / 10000.0 AS stop_ratio, floor((avg_word_len_r) * 10000.0 + 0.5) / 10000.0 AS avg_word_len,
        |  floor((0.4 * least(CAST(words AS DOUBLE)/100.0, 1.0) + 0.3 * (1.0 - stop_ratio_r)
        |    + 0.3 * least(avg_word_len_r/10.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS bpe_ish_tokens,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" -> ("WITH " + shinglesCte +
      """
        |SELECT doc_id, list_min(list_transform(sh, s -> md5(s))) AS fingerprint,
        |  CAST(len(sh) AS BIGINT) AS n_shingles FROM sh ORDER BY doc_id""".stripMargin),
    "doc_extract" ->
      """SELECT doc_id, CAST(g AS BIGINT) AS page_no,
        |  substr(text, 1 + g*200, 200) AS page_text,
        |  CAST(length(substr(text, 1 + g*200, 200)) AS BIGINT) AS page_chars
        |FROM documents, LATERAL (SELECT unnest(generate_series(0, (length(text)-1)//200)) g) s
        |WHERE length(text) > 0
        |ORDER BY doc_id, page_no""".stripMargin,
    // REAL-codec round trip: the query gzips every doc per partition,
    // decompresses through the MediaCodec seam, and reports the
    // DECODED text's md5/length/words — the oracle computes the same
    // directly from documents, so any corruption anywhere in
    // compress/transport/decode breaks the hash gate
    "doc_decode" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same direct-read oracle as doc_decode: the gate is that the
    // build-PDF → inflate → Tj-walk round trip reproduces the text
    "doc_decode_pdf" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, substr(text, 1, 4) AS magic,
        |  ('0x' || substr(md5(text), 1, 4))::BIGINT % 1920 AS fake_width,
        |  ('0x' || substr(md5(text), 5, 4))::BIGINT % 1080 AS fake_height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "clean_text" ->
      """WITH c AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS clean_text
        |FROM documents)
        |SELECT doc_id, clean_text, clean_text <> text AS changed FROM c ORDER BY doc_id""".stripMargin,
    "validate_docs" ->
      """WITH v AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 'empty'
        |       WHEN length(text) > 1000 THEN 'too_long'
        |       WHEN len(string_split(text, ' ')) < 3 THEN 'too_short'
        |       ELSE 'ok' END AS reason
        |FROM documents)
        |SELECT doc_id, reason = 'ok' AS valid, reason FROM v ORDER BY doc_id""".stripMargin,
    "pii_scrub" ->
      """WITH inj AS (SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 0
        |    THEN text || ' contact bob@example.com or 555-123-4567' ELSE text END AS t
        |FROM documents)
        |, scr AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[REDACTED]', 'g') AS scrubbed_text
        |FROM inj)
        |SELECT doc_id, scrubbed_text,
        |  CAST(len(regexp_extract_all(scrubbed_text, '\[REDACTED\]')) AS BIGINT) AS n_redactions
        |FROM scr ORDER BY doc_id""".stripMargin,
    "stratified_balance" ->
      """WITH u AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |      / 4294967296.0 AS u
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY u DESC, doc_id) AS rk
        |  FROM u)
        |SELECT doc_id, source, floor(u * 10000.0 + 0.5)/10000.0 AS u FROM r
        |WHERE rk <= 400 ORDER BY doc_id""".stripMargin,
    "repetition_score" -> ("WITH " + postingCte("documents") +
      """,
        |dc AS (SELECT doc_id, COUNT(*) AS n_distinct FROM posting GROUP BY doc_id),
        |t AS (SELECT doc_id, greatest(len(string_split(text, ' ')) - 2, 0) AS n_shingles
        |  FROM documents)
        |SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(coalesce(dc.n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CASE WHEN t.n_shingles = 0 THEN 0.0
        |    ELSE floor((1.0 - CAST(coalesce(dc.n_distinct, 0) AS DOUBLE)/t.n_shingles)
        |      * 10000.0 + 0.5)/10000.0 END AS rep_ratio
        |FROM t LEFT JOIN dc ON t.doc_id = dc.doc_id ORDER BY t.doc_id""".stripMargin),
    "gopher_quality" -> (gopherCteSql +
      """
        |SELECT doc_id, n_words, mean_word_len, n_stop, top2_frac, top3_frac,
        |  top4_frac, dup5_frac, keep
        |FROM gk ORDER BY doc_id""".stripMargin),
    "gopher_filter" -> (gopherCteSql +
      """
        |SELECT doc_id, lang, n_chars FROM gk WHERE keep ORDER BY doc_id""".stripMargin),
    "c4_line_stats" -> (c4CteSql +
      """
        |SELECT doc_id, n_lines, n_kept, n_short, n_noterm, n_js, has_lorem,
        |  has_brace, keep
        |FROM cm ORDER BY doc_id""".stripMargin),
    "c4_filter" -> (c4CteSql +
      """
        |SELECT doc_id, clean_text, n_kept FROM cm WHERE keep ORDER BY doc_id""".stripMargin),
    // FineWeb line-dedup over the derived-lines corpus + planted
    // boilerplate (oracle twin of TextAnalysis.finewebLineDedup):
    // first occurrence per distinct line wins, docs rebuilt from
    // surviving lines.
    "fineweb_linededup" -> (c4LinesCteSql +
      s""",
         |fl AS (SELECT doc_id, i, CASE WHEN doc_id % 13 = 0 AND i = 0
         |    THEN '${TextAnalysis.FinewebBoilerplate}' ELSE line END AS line FROM cl),
         |w AS (SELECT doc_id, i, line,
         |    row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, i) AS rk FROM fl),
         |k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY i) AS kept_text
         |  FROM w WHERE rk = 1 GROUP BY doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM fl GROUP BY doc_id)
         |SELECT tot.doc_id, tot.n_lines,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(k.kept_text, '') AS kept_text
         |FROM tot LEFT JOIN k ON tot.doc_id = k.doc_id ORDER BY tot.doc_id""".stripMargin),
    // C4 three-span dedup over the derived corpus + planted 3-line
    // boilerplate block (oracle twin of TextAnalysis.c4SpanDedup):
    // every occurrence of a duplicated 3-line span except the
    // corpus-wide first has its lines removed; overlapping removals
    // union; docs rebuilt from surviving lines.
    "c4_span_dedup" -> (c4LinesCteSql +
      s""",
         |fl0 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN i + 3 ELSE i END AS i, line FROM cl
         |  UNION ALL
         |  SELECT d.doc_id, b.i, b.line
         |  FROM (SELECT DISTINCT doc_id FROM cl WHERE doc_id % 17 = 0) d,
         |    (VALUES ${TextAnalysis.C4SpanBoilerplate.zipWithIndex
                .map { case (l, i) => s"($i, '$l')" }.mkString(", ")}) AS b(i, line)),
         |lls AS (SELECT doc_id, list(line ORDER BY i) AS ls FROM fl0 GROUP BY doc_id),
         |sp AS (SELECT doc_id, s, md5(array_to_string(ls[s+1:s+3], chr(10))) AS h
         |  FROM lls, LATERAL (SELECT unnest(generate_series(0, len(ls)-3)) AS s) g
         |  WHERE len(ls) >= 3),
         |w AS (SELECT doc_id, s, h,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rk,
         |    COUNT(*) OVER (PARTITION BY h) AS occ FROM sp),
         |rm AS (SELECT DISTINCT w.doc_id, w.s + o AS i
         |  FROM w, LATERAL (SELECT unnest(generate_series(0, 2)) AS o) oo
         |  WHERE occ > 1 AND rk > 1),
         |k AS (SELECT fl0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    string_agg(fl0.line, chr(10) ORDER BY fl0.i) AS kept_text
         |  FROM fl0 LEFT JOIN rm ON fl0.doc_id = rm.doc_id AND fl0.i = rm.i
         |  WHERE rm.doc_id IS NULL GROUP BY fl0.doc_id),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
         |  FROM fl0 GROUP BY doc_id)
         |SELECT tot.doc_id, tot.n_lines,
         |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         |  COALESCE(k.kept_text, '') AS kept_text
         |FROM tot LEFT JOIN k ON tot.doc_id = k.doc_id ORDER BY tot.doc_id""".stripMargin),
    "dedup_paragraph" -> dedupParagraphSql,
    "corpus_curate" -> curateSql,
    "curate_apply" -> (curateChainSql +
      """
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM s6
        |WHERE doc_id % 101 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
        |ORDER BY doc_id""".stripMargin),
    // Curate → pack end to end (Pack.trainPrep): the funnel's
    // survivor set laid out by the concat-and-chunk packer.
    "pipeline_trainprep" -> (curateChainSql +
      """,
        |surv AS (SELECT doc_id, text FROM s6
        |  WHERE doc_id % 101 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |pt AS (SELECT doc_id,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM surv),
        |pc AS (SELECT doc_id, shard, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
        |  FROM pt)
        |SELECT doc_id, shard, start_tok // 256 AS seq_id,
        |  start_tok % 256 AS tok_offset, n_tok
        |FROM pc ORDER BY doc_id""".stripMargin),
    // Curate → MIX → pack (Pack.trainPrepMixed): survivors stratified
    // by the lang_id argmax over the TEXT (the injected survivor ids
    // have no raw-table lang), downsampled to a uniform mixture over
    // assigned languages, then packed. Score + argmax spellings are
    // the lang_id oracle's; mix spellings are dataset_mix's.
    "pipeline_trainprep_mixed" -> (curateChainSql +
      """,
        |surv AS (SELECT doc_id, text FROM s6
        |  WHERE doc_id % 101 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |ml AS MATERIALIZED (SELECT doc_id, text,
        |    CASE WHEN s_exec >= s_query AND s_exec >= s_storage THEN 'exec'
        |         WHEN s_query >= s_storage THEN 'query' ELSE 'storage' END AS mix_lang
        |  FROM (SELECT doc_id, text,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['spark','batch','stream','window','join','agg','merge','fast','slow'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_exec,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['query','scan','filter','sort','group','order'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_query,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['table','row','column','part','key','value','hash'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_storage
        |  FROM surv)),
        |mcnt AS (SELECT mix_lang, COUNT(*) AS n FROM ml GROUP BY mix_lang),
        |mk AS (SELECT COUNT(*) AS k FROM mcnt),
        |mw AS (SELECT mix_lang, n, 1.0::DOUBLE / mk.k AS w FROM mcnt, mk),
        |mcap AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS capacity FROM mw),
        |mr AS (SELECT mix_lang, least(1.0::DOUBLE, w * mcap.capacity / n) AS rate FROM mw, mcap),
        |kept AS (SELECT ml.doc_id, ml.text FROM ml JOIN mr USING (mix_lang)
        |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(ml.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |    / 4294967296.0 < mr.rate),
        |mpt AS (SELECT doc_id,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM kept),
        |mpc AS (SELECT doc_id, shard, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
        |  FROM mpt)
        |SELECT doc_id, shard, start_tok // 256 AS seq_id,
        |  start_tok % 256 AS tok_offset, n_tok
        |FROM mpc ORDER BY doc_id""".stripMargin),
    // Curate -> perplexity-keep -> mix -> pack (Pack.trainPrepScored):
    // the pplx chain runs over the SURVIVOR set, tail tercile dropped,
    // then the trainprep_mixed mix/pack tail over the kept docs.
    "pipeline_trainprep_scored" -> (curateChainSql +
      """,
        |surv AS MATERIALIZED (SELECT doc_id, text FROM s6
        |  WHERE doc_id % 101 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |""".stripMargin + pplxScoredCteOver("surv") +
      """,
        |pcut AS (SELECT floor((quantile_cont(xent, 1.0/3)) * 10000.0 + 0.5)/10000.0 AS c1,
        |    floor((quantile_cont(xent, 2.0/3)) * 10000.0 + 0.5)/10000.0 AS c2 FROM scr),
        |pkept AS (SELECT s.doc_id, s.text FROM surv s JOIN scr USING (doc_id), pcut
        |  WHERE scr.xent <= pcut.c2),
        |ml AS MATERIALIZED (SELECT doc_id, text,
        |    CASE WHEN s_exec >= s_query AND s_exec >= s_storage THEN 'exec'
        |         WHEN s_query >= s_storage THEN 'query' ELSE 'storage' END AS mix_lang
        |  FROM (SELECT doc_id, text,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['spark','batch','stream','window','join','agg','merge','fast','slow'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_exec,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['query','scan','filter','sort','group','order'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_query,
        |    floor((CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |      ['table','row','column','part','key','value','hash'])) AS DOUBLE)
        |      / len(list_distinct(string_split(text, ' ')))) * 10000.0 + 0.5)/10000.0 AS s_storage
        |  FROM pkept)),
        |mcnt AS (SELECT mix_lang, COUNT(*) AS n FROM ml GROUP BY mix_lang),
        |mk AS (SELECT COUNT(*) AS k FROM mcnt),
        |mw AS (SELECT mix_lang, n, 1.0::DOUBLE / mk.k AS w FROM mcnt, mk),
        |mcap AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS capacity FROM mw),
        |mr AS (SELECT mix_lang, least(1.0::DOUBLE, w * mcap.capacity / n) AS rate FROM mw, mcap),
        |kept AS (SELECT ml.doc_id, ml.text FROM ml JOIN mr USING (mix_lang)
        |  WHERE CAST(('0x' || substr(md5('mix:' || CAST(ml.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |    / 4294967296.0 < mr.rate),
        |mpt AS (SELECT doc_id,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM kept),
        |mpc AS (SELECT doc_id, shard, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
        |  FROM mpt)
        |SELECT doc_id, shard, start_tok // 256 AS seq_id,
        |  start_tok % 256 AS tok_offset, n_tok
        |FROM mpc ORDER BY doc_id""".stripMargin),
    "contamination_check" -> ("WITH " + postingCte("documents") +
      """,
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM posting
        |  WHERE doc_id % 101 <> 0 GROUP BY doc_id),
        |ov AS (SELECT p.doc_id, b.doc_id AS bench_id, COUNT(*) AS hits
        |  FROM posting p JOIN posting b ON p.s = b.s
        |    AND b.doc_id % 101 = 0 AND p.doc_id % 101 <> 0
        |  GROUP BY p.doc_id, b.doc_id),
        |mx AS (SELECT doc_id, MAX(hits) AS mh FROM ov GROUP BY doc_id),
        |f AS (SELECT c.doc_id,
        |    floor((CAST(coalesce(mx.mh, 0) AS DOUBLE)/c.n) * 10000.0 + 0.5)/10000.0 AS max_overlap
        |  FROM cnt c LEFT JOIN mx ON c.doc_id = mx.doc_id)
        |SELECT doc_id, max_overlap, max_overlap >= 0.5 AS contaminated
        |FROM f ORDER BY doc_id""".stripMargin),
    // EXACT top-N token frequencies (approx_top_tokens' ground truth)
    "token_vocab" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |WHERE token <> '' GROUP BY token
        |ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
    // Concat-and-chunk sequence packing (Pack.seqPack): hash-shard,
    // lay token streams end to end in doc_id order, cut every 256
    // tokens; a doc belongs to the sequence holding its first token.
    "sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, shard, start_tok // 256 AS seq_id,
        |  start_tok % 256 AS tok_offset, n_tok
        |FROM c ORDER BY doc_id""".stripMargin,
    // sequence_pack in BPE units: the oracle takes the per-doc counts
    // from the STAGED (doc_id, n_tok, corpus_key) table the Spark query
    // builds through the BpeTokenizer seam (Pack.bpeCounted — no BPE in
    // DuckDB) and replays the ENTIRE layout from them; the staging glob
    // is content-addressed (Pack.corpusContentKey, recomputed here from
    // the documents view with the identical spelling), so every SF/rung
    // selects exactly its own corpus's counts. The LEFT JOIN from
    // documents makes a counts table missing any doc fail loudly as a
    // NULL row instead of shrinking the diff.
    "sequence_pack_bpe" -> {
      val glob = graft.DfCache.stagingGlob(Pack.bpeCountsKeyPrefix)
      s"""WITH ck AS (SELECT CAST(COUNT(*) AS VARCHAR) || '-' ||
         |    CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8))::BIGINT) AS VARCHAR) || '-' ||
         |    CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 9, 8))::BIGINT) AS VARCHAR) AS k
         |  FROM documents),
         |stg AS (SELECT DISTINCT doc_id, n_tok
         |  FROM read_parquet('$glob/*.parquet', union_by_name=true)
         |  WHERE corpus_key = (SELECT k FROM ck)),
         |t AS (SELECT d.doc_id,
         |    ('0x' || substr(md5('pack:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % ${Pack.DefaultPackShards} AS shard,
         |    CAST(stg.n_tok AS BIGINT) AS n_tok
         |  FROM documents d LEFT JOIN stg ON d.doc_id = stg.doc_id),
         |c AS (SELECT doc_id, shard, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT doc_id, shard, start_tok // ${Pack.DefaultSeqTokens} AS seq_id,
         |  start_tok % ${Pack.DefaultSeqTokens} AS tok_offset, n_tok
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "pack_stats" ->
      """WITH t AS (SELECT
        |    ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM t GROUP BY shard),
        |s AS (SELECT shard, n_docs, total_tokens,
        |    (total_tokens + 255) // 256 AS n_seqs FROM g)
        |SELECT shard, n_docs, total_tokens, n_seqs,
        |  floor((CAST(total_tokens AS DOUBLE) / (n_seqs * 256)) * 10000.0 + 0.5)/10000.0 AS fill_ratio
        |FROM s ORDER BY shard""".stripMargin,
    // Uniform-over-language target mixture via downsampling only:
    // capacity T = min_s n_s/w_s, keep-rate w_s*T/n_s, deterministic
    // md5 coin salted 'mix:' (Pack.datasetMix).
    // Temperature mix (Pack.datasetMixTemperature): rate_s =
    // sqrt(n_min/n_s) (α = 1/2) — sqrt is correctly rounded in IEEE,
    // so the keep decision is bit-identical across engines.
    "dataset_mix_temperature" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |r AS (SELECT lang,
        |    sqrt(CAST((SELECT MIN(n) FROM cnt) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
        |  FROM cnt)
        |SELECT d.doc_id, d.lang, floor(r.rate * 10000.0 + 0.5)/10000.0 AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5('mixt:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |  / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "dataset_mix" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |k AS (SELECT COUNT(*) AS k FROM cnt),
        |w AS (SELECT lang, n, 1.0::DOUBLE / k.k AS w FROM cnt, k),
        |cap AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS capacity FROM w),
        |r AS (SELECT lang, least(1.0::DOUBLE, w * cap.capacity / n) AS rate FROM w, cap)
        |SELECT d.doc_id, d.lang, floor(r.rate * 10000.0 + 0.5)/10000.0 AS rate
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |  / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    // Upsampling mixture (Pack.datasetMixEpochs): capacity T =
    // max_s n_s/w_s, each stratum emits floor(w*T/n) whole epochs
    // plus a coin-fractional extra, capped at 16 copies per doc.
    "dataset_mix_epochs" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |k AS (SELECT COUNT(*) AS k FROM cnt),
        |w AS (SELECT lang, n, 1.0::DOUBLE / k.k AS w FROM cnt, k),
        |cap AS (SELECT MAX(CAST(n AS DOUBLE) / w) AS capacity FROM w),
        |r AS (SELECT lang,
        |    CAST(floor(w * cap.capacity / n) AS BIGINT) AS base_copies,
        |    w * cap.capacity / n - floor(w * cap.capacity / n) AS frac FROM w, cap),
        |e AS (SELECT d.doc_id, d.lang,
        |    least(r.base_copies + CASE WHEN
        |        CAST(('0x' || substr(md5('epoch:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |          / 4294967296.0 < r.frac THEN 1 ELSE 0 END,
        |      16) AS n_copies
        |  FROM documents d JOIN r USING (lang))
        |SELECT doc_id, lang, CAST(ci AS BIGINT) AS copy_idx
        |FROM e, LATERAL (SELECT unnest(generate_series(0, n_copies - 1)) AS ci) s
        |WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "knn_brute" -> (knnCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "knn_threshold" -> (vecCte +
      """,
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
        |c AS (SELECT vec_id, emb, nrm FROM n WHERE vec_id >= 10),
        |s AS (SELECT q_id, vec_id,
        |    floor((list_dot_product(q_emb, emb)/(q_nrm*nrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM q, c),
        |f AS (SELECT * FROM s WHERE cos >= 0.2),
        |r AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM f)
        |SELECT q_id, vec_id, cos, rk FROM r WHERE rk <= 10 ORDER BY q_id, rk""".stripMargin),
    "ann_ivf" -> (vecCte + ",\n" + centroidCte +
      """,
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
        |pr AS (SELECT q_id, q_emb, q_nrm, label,
        |    floor((list_dot_product(q_emb, c_emb)/(q_nrm*c_nrm)) * 10000.0 + 0.5)/10000.0 AS c_cos
        |  FROM q, cent2),
        |probes AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY c_cos DESC, label) AS prk FROM pr),
        |p2 AS (SELECT q_id, q_emb, q_nrm, label FROM probes WHERE prk <= 2),
        |c AS (SELECT vec_id, label, emb, nrm FROM n WHERE vec_id >= 10),
        |s AS (SELECT p2.q_id, c.vec_id,
        |    floor((list_dot_product(p2.q_emb, c.emb)/(p2.q_nrm*c.nrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM c JOIN p2 ON c.label = p2.label),
        |r AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM s)
        |SELECT q_id, vec_id, cos, rk FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    "ann_ivf_kmeans" -> (vecCte + ",\n" + kmeansCte +
      """,
        |kcn AS (SELECT label, c_emb,
        |    sqrt(list_sum(list_transform(c_emb, x -> x*x))) AS c_nrm FROM kcent3),
        |kq AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 10),
        |kpr AS (SELECT q_id, q_emb, q_nrm, label,
        |    floor((list_dot_product(q_emb, c_emb)/(q_nrm*c_nrm)) * 10000.0 + 0.5)/10000.0 AS c_cos
        |  FROM kq, kcn),
        |kprobes AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY c_cos DESC, label) AS prk FROM kpr),
        |kp2 AS (SELECT q_id, q_emb, q_nrm, label FROM kprobes WHERE prk <= 2),
        |ks AS (SELECT kp2.q_id, a.vec_id,
        |    floor((list_dot_product(kp2.q_emb, a.emb)/(kp2.q_nrm*a.nrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM kasF a JOIN kp2 ON a.label = kp2.label),
        |kr2 AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM ks)
        |SELECT q_id, vec_id, cos, rk FROM kr2 WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    // Cluster-balanced diversity sample (VectorSearch.diversitySample):
    // final kmeans assignment (kasF) + deterministic md5(vec_id) coin,
    // fixed quota per cluster — the per-label row_number replays the
    // TopKAgg's (coin asc, vec_id asc) order exactly.
    "diversity_sample" -> (vecCte + ",\n" + kmeansCte +
      """,
        |dvr AS (SELECT label, vec_id,
        |    row_number() OVER (PARTITION BY label ORDER BY
        |      ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id) AS srk,
        |    COUNT(*) OVER (PARTITION BY label) AS cluster_n
        |  FROM kasF)
        |SELECT label, vec_id, CAST(srk AS BIGINT) AS srk, cluster_n
        |FROM dvr WHERE srk <= 64 ORDER BY label, srk""".stripMargin),
    "ann_recall" -> (knnCte + ",\n" + centroidCte +
      """,
        |pr AS (SELECT q_id, q_emb, q_nrm, label,
        |    floor((list_dot_product(q_emb, c_emb)/(q_nrm*c_nrm)) * 10000.0 + 0.5)/10000.0 AS c_cos
        |  FROM q, cent2),
        |probes AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY c_cos DESC, label) AS prk FROM pr),
        |p2 AS (SELECT q_id, q_emb, q_nrm, label FROM probes WHERE prk <= 2),
        |cl AS (SELECT n.vec_id, n.label, n.emb, n.nrm FROM n WHERE vec_id >= 10),
        |sv AS (SELECT p2.q_id, cl.vec_id,
        |    floor((list_dot_product(p2.q_emb, cl.emb)/(p2.q_nrm*cl.nrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM cl JOIN p2 ON cl.label = p2.label),
        |rv AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sv),
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM rv WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_quantized" -> (vecCte + ",\n" + quantCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM rq WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "ann_pq" -> (vecCte + ",\n" + pqCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM prk WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "ann_pq_recall" -> (knnCte + ",\n" + pqCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM prk WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_opq" -> (vecCte + ",\n" + opqCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM ork WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "ann_opq_recall" -> (knnCte + ",\n" + opqCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM ork WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_ivfpq" -> (vecCte + ",\n" + kmeansCte + ",\n" + pqCte + ",\n" + ivfpqCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM ipr WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    "ann_ivfpq_recall" -> (knnCte + ",\n" + kmeansCte + ",\n" + pqCte + ",\n" + ivfpqCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM ipr WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_ivfpq_residual" -> (vecCte + ",\n" + kmeansCte + ",\n" + ivfpqProbeCte +
      ",\n" + pqResCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM ripr WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    "ann_ivfpq_residual_recall" -> (knnCte + ",\n" + kmeansCte + ",\n" + ivfpqProbeCte +
      ",\n" + pqResCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM ripr WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_quantized_recall" -> (knnCte + ",\n" + quantCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM rq WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "ann_ivf_quantized" -> (vecCte + ",\n" + quantCte + ",\n" + centroidCte +
      """,
        |pr AS (SELECT q_id, q_emb, q_nrm, cent2.label,
        |    floor((list_dot_product(q_emb, c_emb)/(q_nrm*c_nrm)) * 10000.0 + 0.5)/10000.0 AS c_cos
        |  FROM qq, cent2),
        |probes AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY c_cos DESC, label) AS prk FROM pr),
        |p2 AS (SELECT q_id, q_emb, q_nrm, label FROM probes WHERE prk <= 2),
        |sv AS (SELECT p2.q_id, cc.vec_id,
        |    floor((list_dot_product(p2.q_emb, cc.demb)/(p2.q_nrm*cc.dnrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM cc JOIN p2 ON cc.label = p2.label),
        |rv AS (SELECT q_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sv)
        |SELECT q_id, vec_id, cos, rk FROM rv WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    "ann_lsh" -> (vecCte + ",\n" + lshCodesCte + ",\n" + lshSearchCte +
      """
        |SELECT q_id, vec_id, cos, rk FROM lr WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin),
    "ann_lsh_recall" -> (knnCte + ",\n" + lshCodesCte + ",\n" + lshSearchCte +
      """,
        |ex3 AS (SELECT q_id, vec_id FROM r WHERE rk <= 3),
        |ap AS (SELECT q_id, vec_id FROM lr WHERE rk <= 3),
        |h AS (SELECT ap.q_id, COUNT(*) AS hits
        |  FROM ap JOIN ex3 ON ap.q_id = ex3.q_id AND ap.vec_id = ex3.vec_id
        |  GROUP BY ap.q_id)
        |SELECT e.q_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  floor((CAST(coalesce(h.hits, 0) AS DOUBLE)/3.0) * 10000.0 + 0.5)/10000.0 AS recall
        |FROM (SELECT DISTINCT q_id FROM ex3) e LEFT JOIN h ON e.q_id = h.q_id
        |ORDER BY e.q_id""".stripMargin),
    "knn_text" -> ("WITH " + queriesCte + ",\n" + textEmbBody +
      """
        |SELECT q_id, doc_id, cos, rk FROM tr WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    // see modelSearchSql for the shared staged-artifact replay shape
    "knn_model" ->
      modelSearchSql(graft.DfCache.stagingGlob(graft.operators.Ingest.rpEmbedKeyPrefix)),
    // identical replay over the TRAINED artifact's staged vectors —
    // only the content-addressed glob differs
    "knn_model_trained" ->
      modelSearchSql(graft.DfCache.stagingGlob(graft.operators.Ingest.pcaEmbedKeyPrefix)),
    "image_search" ->
      ("""WITH queries AS (SELECT doc_id AS q_id,
         |    array_to_string(string_split(text, ' ')[1:5], ' ') AS q_text
         |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 10),
         |""".stripMargin + textEmbBody +
        """
          |SELECT q_id, doc_id, cos, rk FROM tr WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    // quotient + capped spelling (VectorSearch.embeddingExpandedPairsOf,
    // round 14): exact-content groups contract to their min-vec_id rep,
    // the rep-level (label, code) block join is build-side capped at
    // EmbBucketCap (the out-of-cap probe orientation keeps each pair
    // once), within-group members pair at cosine exactly 1.0 charged to
    // their min side (min side in slate), and cross lifts pair the two
    // groups' first-EmbBucketCap slates at the reps' cosine. The Spark
    // side emits the dominance-TRIMMED subset of these semantics; the
    // oracle spells them untrimmed — final outputs provably identical.
    "dedup_embedding" -> (vecCte + ",\n" + lshCodesCte +
      """,
        |grp AS (SELECT vec_id, MIN(vec_id) OVER (PARTITION BY md5(CAST(emb AS VARCHAR))) AS r,
        |    row_number() OVER (PARTITION BY md5(CAST(emb AS VARCHAR)) ORDER BY vec_id) AS grk
        |  FROM nc),
        |reps AS (SELECT nc.* FROM nc JOIN (SELECT DISTINCT r FROM grp) rr ON nc.vec_id = rr.r),
        |branked AS MATERIALIZED (SELECT label, code, vec_id, emb, nrm,
        |    row_number() OVER (PARTITION BY label, code ORDER BY vec_id) AS brk FROM reps),
        |ebcap AS (SELECT * FROM branked WHERE brk <= """.stripMargin +
      VectorSearch.EmbBucketCap + """),
        |rpair AS MATERIALIZED (SELECT least(a.vec_id, b.vec_id) AS a_id,
        |    greatest(a.vec_id, b.vec_id) AS b_id,
        |    floor((list_dot_product(a.emb, b.emb)/(a.nrm*b.nrm)) * 10000.0 + 0.5)/10000.0 AS cos
        |  FROM branked a JOIN ebcap b ON a.label = b.label AND a.code = b.code
        |    AND a.vec_id <> b.vec_id
        |  WHERE (a.brk > """.stripMargin + VectorSearch.EmbBucketCap +
      """ OR a.vec_id < b.vec_id)),
        |ewithin AS (SELECT least(a.vec_id, b.vec_id) AS a_id,
        |    greatest(a.vec_id, b.vec_id) AS b_id, CAST(1.0 AS DOUBLE) AS cos
        |  FROM grp a JOIN grp b ON a.r = b.r AND a.vec_id <> b.vec_id
        |    AND b.grk <= """.stripMargin + VectorSearch.EmbBucketCap + """
        |  WHERE (a.grk > """.stripMargin + VectorSearch.EmbBucketCap +
      """ OR a.vec_id < b.vec_id)),
        |ecross AS (SELECT least(ma.vec_id, mb.vec_id) AS a_id,
        |    greatest(ma.vec_id, mb.vec_id) AS b_id, c.cos
        |  FROM rpair c JOIN grp ma ON ma.r = c.a_id JOIN grp mb ON mb.r = c.b_id
        |  WHERE ma.grk <= """.stripMargin + VectorSearch.EmbBucketCap +
      """ AND mb.grk <= """.stripMargin + VectorSearch.EmbBucketCap + """),
        |cand AS (SELECT * FROM ewithin UNION ALL SELECT * FROM ecross),
        |capped AS (SELECT a_id, b_id, cos,
        |  row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS prk FROM cand)
        |SELECT a_id, b_id, cos FROM capped WHERE prk <= 8
        |ORDER BY cos DESC, a_id, b_id LIMIT 20""".stripMargin),
    // SemDeDup domination report / apply / D4 prototype prune — the
    // shared semCte chain over the unrolled k-means assignment; the
    // proto query spells the naive per-cluster row_number (Spark runs
    // the histogram-cutoff plan, same semantics)
    "semdedup" -> (vecCte + ",\n" + kmeansCte + ",\n" + semCte +
      """
        |SELECT vec_id, label, ccos, keep FROM srep ORDER BY vec_id""".stripMargin),
    "semdedup_apply" -> (vecCte + ",\n" + kmeansCte + ",\n" + semCte +
      """
        |SELECT vec_id, label, ccos FROM srep WHERE keep ORDER BY vec_id""".stripMargin),
    "proto_select" -> (vecCte + ",\n" + kmeansCte + ",\n" + semCte +
      """,
        |pkept AS (SELECT vec_id, label, ccos FROM srep WHERE keep),
        |pcnt AS (SELECT label, COUNT(*) AS tot FROM pkept GROUP BY label),
        |prnk AS (SELECT k.vec_id, k.label, k.ccos,
        |    row_number() OVER (PARTITION BY k.label ORDER BY k.ccos DESC, k.vec_id DESC) AS rk,
        |    p.tot
        |  FROM pkept k JOIN pcnt p USING (label))
        |SELECT vec_id, label, ccos FROM prnk WHERE rk > floor(tot/4.0)
        |ORDER BY label, vec_id""".stripMargin),
    "keyword_search" -> ("WITH " + queriesCte + ",\n" + keywordBody +
      """
        |SELECT q_id, doc_id, score, rating, rk FROM kr WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    // BM25 twin: same IEEE expression tree as KeywordSearch.bm25 —
    // constants spelled as the same additions ((1.2 + 1.0),
    // (1.0 - 0.75)), per-document term sum folded in token order via
    // list_reduce so the double accumulation order matches Spark's
    // array_sort → aggregate fold exactly
    "keyword_bm25" -> ("WITH " + queriesCte + ",\n" + bm25Body +
      """
        |SELECT q_id, doc_id, score, CAST(rk AS BIGINT) AS rk
        |FROM bkr WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    // RRF fusion of the BM25 top-5 (bkr) and the dense knn_text
    // top-5 (tr): 1/(60+rk) is a log-free rational term, and the
    // per-doc sum has <= 2 terms (one per system) so double addition
    // is order-independent — no ordered fold needed
    "hybrid_rrf" -> ("WITH " + queriesCte + ",\n" + bm25Body + ",\n" + textEmbBody +
      """,
        |runi AS (SELECT q_id, doc_id, CAST(rk AS BIGINT) AS rk FROM bkr WHERE rk <= 5
        |  UNION ALL SELECT q_id, doc_id, CAST(rk AS BIGINT) AS rk FROM tr WHERE rk <= 5),
        |rfs AS (SELECT q_id, doc_id,
        |    floor(SUM(1.0/(60.0 + CAST(rk AS DOUBLE))) * 10000.0 + 0.5)/10000.0 AS rrf
        |  FROM runi GROUP BY q_id, doc_id),
        |rfr AS (SELECT q_id, doc_id, rrf,
        |  row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rk FROM rfs)
        |SELECT q_id, doc_id, rrf, CAST(rk AS BIGINT) AS rk
        |FROM rfr WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin),
    "keyword_substring" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE contains(text, 'hash join') ORDER BY doc_id""".stripMargin,
    "hybrid_quality" -> (knnCte +
      """,
        |k AS (SELECT q_id, cos FROM r WHERE rk <= 5),
        |g AS (SELECT q_id, COUNT(*) AS n, SUM(cos) AS s FROM k GROUP BY q_id)
        |SELECT q_id, n, floor((s/n) * 10000.0 + 0.5)/10000.0 AS avg_sim,
        |  floor((least(s/n + least(CAST(n AS DOUBLE)/5.0, 0.2), 1.0)) * 10000.0 + 0.5)/10000.0 AS quality
        |FROM g ORDER BY q_id""".stripMargin),
    "hybrid_rank" -> ("WITH " + queriesCte + ",\n" + keywordBody + ",\n" + textEmbBody +
      """,
        |kw AS (SELECT q_id, doc_id, rating FROM kr WHERE rk <= 5 AND q_id = 1),
        |contrib AS (SELECT kw.q_id, kw.doc_id, kw.rating, d.n_chars AS usage
        |  FROM kw JOIN documents d USING (doc_id)),
        |c2 AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |  ORDER BY rating DESC, usage DESC, doc_id) AS crk FROM contrib)
        |SELECT doc_id, 'user_contribution' AS source_type, 'high' AS priority,
        |  CAST(crk AS BIGINT) AS ord FROM c2 WHERE crk <= 2
        |UNION ALL SELECT doc_id, 'original_document', 'medium', CAST(rk + 2 AS BIGINT)
        |  FROM tr WHERE rk <= 5 AND q_id = 1
        |UNION ALL SELECT doc_id, 'user_contribution', 'low', CAST(crk + 5 AS BIGINT)
        |  FROM c2 WHERE crk > 2
        |ORDER BY ord, doc_id""".stripMargin),
  )
}
