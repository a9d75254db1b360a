package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct}

import graft.operators.{Dedup, KeywordSearch, Relational, TextAnalysis, VectorSearch}

/** Regression guards for the scale-critical plan shapes (SURVEY.md
  * §5): filters pushed to the parquet scan, columns pruned, small
  * dims broadcast, top-k as a partial-aggregating TopKAgg instead of
  * a full-shuffle window.
  */
class PlanAuditSpec extends SparkSpec {

  private def finalPlan(df: DataFrame): String = {
    df.collect()   // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter is pushed to the parquet scan; columns pruned") {
    val plan = finalPlan(Relational.q1Pricing(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    assert(!plan.contains("l_partkey"), "scan reads pruned column l_partkey")
    assert(!plan.contains("l_linenumber"), "scan reads pruned column l_linenumber")
  }

  test("q3: all filters pushed; joins are broadcast at this scale") {
    val plan = finalPlan(Relational.q3RevenueTopK(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"))
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
    assert(plan.contains("BroadcastHashJoin"))
    assert(plan.contains("TakeOrderedAndProject"), "top-10 should be a bounded sort")
  }

  test("q5: region/nation broadcast; order-year filter pushed") {
    val plan = finalPlan(Relational.q5RegionJoin(spark, sfDir))
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("knn_brute: top-k runs as a partial ObjectHashAggregate, not a window") {
    val plan = finalPlan(VectorSearch.knnBrute(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate"), s"TopKAgg missing:\n$plan")
    assert(plan.contains("partial_topkagg") || plan.contains("partial_TopKAgg")
      || plan.toLowerCase.contains("partial_topk"),
      s"no partial aggregation for top-k:\n$plan")
    assert(!plan.contains("Window"), "knn should not use a window sort")
    // corpus scan must prune to the columns the search needs
    assert(!plan.contains("label"), "knn_brute scan reads pruned column label")
  }

  test("dedup_embedding: hash joins only, partner cap is a partial agg, no cartesian") {
    val plan = finalPlan(VectorSearch.dedupEmbedding(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"quotiented pair build produced a cartesian:\n$plan")
    // rep block join + slate joins are hash-based on their keys;
    // a corpus-sized sort-merge join here would mean the (label,
    // code) bucket key got lost
    assert(!plan.contains("SortMergeJoin"),
      s"pair build fell back to a corpus sort-merge join:\n$plan")
    // the partner cap is the map-side-combining TopKAgg, not a
    // window over the full pair stream
    assert(plan.contains("ObjectHashAggregate"), s"TopKAgg missing:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"),
      s"no partial aggregation for the partner cap:\n$plan")
  }

  test("keyword_search: top-k runs as a partial aggregate, not a per-query window") {
    val plan = finalPlan(KeywordSearch.keywordSearch(spark, sfDir))
    assert(!plan.contains("Window"),
      s"keyword top-k still uses a window exchange:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"TopK2Agg missing:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"),
      s"no partial aggregation for keyword top-k:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "query set should be broadcast against the corpus scan")
  }

  /** Physical plans of the SQL executions `f` ran, oldest first. The
    * listener bus is async, so drain it before reading them.
    */
  private def plansDuring(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      Obs.drain(spark.sparkContext)
      plans.toArray(Array.empty[String]).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("keyword_bm25 job: shard-pruned scan, no top-k shuffle") {
    // keywordBm25 returns a local frame: audit the job it ran, its last
    val plan = plansDuring(KeywordSearch.keywordBm25(spark, sfDir)).last
    assert(!plan.contains("CartesianProduct"),
      s"bm25 must never cross-join the corpus:\n$plan")
    // the top-k is partition-local, merged on the driver: no TopKAgg
    // shuffle and no window
    assert(!plan.toLowerCase.contains("topk"),
      s"bm25 top-k still runs as an aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"bm25 top-k still uses a window exchange:\n$plan")
    // the query vocabulary reaches the posting scan as a pushed filter
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushed.contains("In(_tok"),
      s"vocabulary is not pushed to the posting scan:\n$plan")
    // the query vocabulary's static shard set must reach the staged
    // posting index's parquet scan as a PARTITION filter (same
    // discipline as the ivfpq check below: a filter above the scan or
    // an interposed InMemoryRelation would read every shard directory)
    val scanFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters:")).mkString("\n")
    assert(scanFilters.contains("_shard#") && scanFilters.contains(" IN "),
      s"vocab shard set is not a partition filter on the posting scan:\n$plan")
  }

  test("ann_ivfpq: fine stage reads only probed clusters; no corpus-sized sort-merge join") {
    val plan = finalPlan(VectorSearch.annIvfPq(spark, sfDir))
    assert(!plan.contains("SortMergeJoin"),
      s"ivfpq must not rejoin assignment to codes at search time — the staged index stores both:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook and probe joins should broadcast the small side:\n$plan")
    // the probe filter must reach the PARQUET scan as a partition
    // filter — an InMemoryRelation interposed by a persist, or a
    // filter left above the scan, both satisfy a naive contains(IN)
    // check while reading every partition
    val scanFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters:")).mkString("\n")
    assert(scanFilters.contains("cl#") && scanFilters.contains(" IN "),
      s"probed-cluster IN must be a PartitionFilter on the index scan:\n$plan")
  }

  test("ivfpq index: a cluster filter prunes partitions at the file level") {
    // direct evidence the Hive layout prunes: one cluster selected →
    // the scan's PartitionFilters carries the predicate (the probe
    // path above always selects all clusters at this tiny scale)
    val one = VectorSearch.ivfpqIndex(spark, sfDir).where(col("cl") === 3L)
    val plan = finalPlan(one)
    val scanFilters = plan.linesIterator
      .filter(_.contains("PartitionFilters:")).mkString("\n")
    assert(scanFilters.contains("cl#"),
      s"cluster predicate must prune at the partitioned scan:\n$plan")
    assert(one.select(countDistinct(col("cl"))).collect()(0).getLong(0) == 1L)
  }

  test("index_search_dsv2: the oracle-gated read goes through the DSv2 BatchScan") {
    val df = graft.sources.ChunkIndex.indexSearchDsv2(spark, sfDir)
    val plan = finalPlan(df)
    assert(plan.contains("BatchScan graft-index"),
      s"search did not read through the connector:\n$plan")
    // dir-level pruning happened at the manifest layer: the scan's
    // file list holds only probed-bucket directories (inputFiles is
    // the witness — a filter above an unpruned scan would pass a
    // naive plan-string check while listing every partition)
    val files = df.inputFiles.filter(_.contains("/embeddings/"))
    assert(files.nonEmpty)
    val buckets = files.flatMap(_.split("/").find(_.startsWith("_p="))).distinct
    assert(buckets.length <= 2,
      s"expected <= nProbe=2 probed partition dirs, saw ${buckets.mkString(", ")}")
  }

  test("hybrid_rrf: fusion joins bounded frames, never the corpus against itself") {
    val plan = finalPlan(KeywordSearch.hybridRrf(spark, sfDir))
    assert(!plan.contains("CartesianProduct"),
      s"rrf must fuse two bounded top-k frames:\n$plan")
    // the only window is the final per-query rank over <= 10 fused rows
    assert(plan.contains("Window"), s"expected the bounded final rank:\n$plan")
  }

  test("stratified_balance: cap sampling is a partial aggregate, not a window") {
    val plan = finalPlan(TextAnalysis.stratifiedBalance(spark, sfDir, cap = 50))
    assert(!plan.contains("Window"), s"cap sampling uses a window exchange:\n$plan")
    assert(plan.toLowerCase.contains("partial_topk"),
      s"no partial aggregation for the per-source cap:\n$plan")
  }

  test("contamination_check: benchmark posting is broadcast, corpus never reshuffled by shingle") {
    val plan = finalPlan(Dedup.contaminationCheck(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set should be the broadcast side:\n$plan")
  }

  test("ann_ivf: corpus scanned once per execution, centroids from a prebuilt table") {
    VectorSearch.annIvf(spark, sfDir).collect()   // build + cache the centroid table
    val plan = finalPlan(VectorSearch.annIvf(spark, sfDir))
    // AQE's toString prints Final + Initial sections — count the final only
    val finalSection = plan.split("== Initial Plan ==").head
    val parquetScans = "Scan parquet".r.findAllIn(finalSection).size
    // queries + fine-search candidates come from the one embeddings
    // scan pair (query slice + corpus slice); the centroid side must be
    // the checkpointed <= #labels-row table, NOT a re-averaging scan
    // topKExplode's posexplode(top) is fine; posexplode(emb) would be
    // the per-execution centroid re-averaging
    assert(!plan.contains("posexplode(emb"),
      s"centroids re-derived inline (posexplode(emb) in query plan):\n$plan")
    assert(plan.contains("InMemoryTableScan") || plan.contains("ExistingRDD")
      || plan.contains("LocalTableScan"),
      s"centroid table not served from the prebuilt cached frame:\n$plan")
    // queries slice + corpus slice; +1 if the tiny staged centroid
    // table is read from parquet rather than the in-memory cache
    assert(parquetScans <= 3,
      s"expected <= 3 parquet scans (queries + corpus + staged centroids), saw $parquetScans:\n$plan")
  }

  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => a +: flattenPlan(a.executedPlan)
      case q: QueryStageExec        => q +: flattenPlan(q.plan)
      case o                        => o +: o.children.flatMap(flattenPlan)
    }
  }

  private def rowsOfPlan(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    p.metrics.get("numOutputRows").map(_.value).orElse {
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case o                 => o.children
      }
      kids.view.flatMap(rowsOfPlan).headOption
    }
  }

  /** Every BNLJ in the executed plan of `df`, paired with its
    * build-side row count (the guard both BNLJ tests share).
    */
  private def bnljBuildRows(df: DataFrame): Seq[Long] = {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    df.collect()
    flattenPlan(df.queryExecution.executedPlan)
      .collect { case j: BroadcastNestedLoopJoinExec => j }
      .map { j =>
        val side = j.buildSide match {
          case BuildLeft  => j.left
          case BuildRight => j.right
        }
        rowsOfPlan(side).getOrElse(
          fail(s"no numOutputRows metric on a BNLJ build side:\n${j.treeString}"))
      }
  }

  test("every BroadcastNestedLoopJoin in headliner plans builds a <=1-row side") {
    // the engine's BNLJ-Cross nodes are all SCALAR combiners (a
    // one-row aggregate broadcast against a frame); a regression that
    // introduces a REAL cartesian — a multi-row build side — must
    // fail here, not surface as a ladder blow-up
    // the BNLJ carriers among the PLANS.md headliners, plus the
    // scalar-combining analytics
    val guarded = Seq("corpus_curate", "curate_apply", "hybrid_rrf",
      "ask_batch", "dashboard_stats", "session_stats", "funnel")
    var seen = 0
    guarded.foreach { name =>
      bnljBuildRows(SparkEntry.queries(name)(spark, sfDir)).foreach { n =>
        seen += 1
        assert(n <= 1L,
          s"$name: BroadcastNestedLoopJoin builds $n rows — a real " +
            "cartesian, not a scalar combine")
      }
    }
    assert(seen > 0, "guard is vacuous: no BNLJ found in any guarded plan")
  }

  test("sequence_pack: one data shuffle (shard exchange) plus the output sort, nothing else") {
    val plan = finalPlan(graft.operators.Pack.seqPack(spark, sfDir))
    // exactly ONE hash exchange (the shard key); the only other
    // exchange is the final orderBy's range partitioning. AQE's
    // toString appends the initial plan — audit the final one only.
    val finalSection = plan.split("== Initial Plan ==").head
    assert("hashpartitioning\\(".r.findAllIn(finalSection).length === 1,
      s"unexpected extra hash exchange:\n$plan")
    assert(plan.contains("hashpartitioning(shard"), s"missing shard exchange:\n$plan")
    assert(plan.contains("Window"), "packing cumsum should be a per-shard window")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // text is consumed into n_tok at the scan projection; lang/source pruned
    assert(!plan.contains("source#"), "scan reads pruned column source")
  }

  test("dataset_mix: rates broadcast, corpus side never reshuffled") {
    val plan = finalPlan(graft.operators.Pack.datasetMix(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"rates not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus reshuffled for the rate join:\n$plan")
  }

  test("pipeline_trainprep_mixed: rates broadcast, one data shuffle on the corpus side") {
    val plan = finalPlan(graft.operators.Pack.trainPrepMixed(spark, sfDir))
    // audit the composition ABOVE the cached survivor frame: the plan
    // string inlines the s7 curate chain's own (cached, run-once)
    // build under InMemoryRelation, whose joins are not this query's
    // recurring work — cut there, and before AQE's echoed initial plan
    val above = plan.split("== Initial Plan ==").head
      .linesIterator.takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    // the mix stage must not reshuffle the survivor corpus: rates are
    // a broadcast |strata|-row table, so the only hash exchange on the
    // data path is the packer's shard key
    assert(above.contains("BroadcastHashJoin"), s"rates not broadcast:\n$above")
    assert(!above.contains("SortMergeJoin"),
      s"corpus reshuffled for the rate join:\n$above")
    val hashEx = "hashpartitioning\\(".r.findAllIn(above).length
    assert(hashEx === 1, s"expected exactly the shard exchange above the cache, got $hashEx:\n$above")
    assert(above.contains("hashpartitioning(shard"), s"missing shard exchange:\n$above")
    assert(above.contains("Window"), "packing cumsum should be a per-shard window")
  }

  test("token_vocab: exact top-N is a partial hash-aggregate + bounded sort") {
    val plan = finalPlan(TextAnalysis.tokenVocab(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N should be a bounded sort, not a global one:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side partial agg:\n$plan")
    assert(!plan.contains("Window"))
  }

  test("quality_perplexity: bigram/model join is hash-based, doc agg partial, no cartesian") {
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val model = graft.operators.Perplexity.modelOf(spark, corpus)
    val plan = finalPlan(graft.operators.Perplexity.scoreAgainst(model, corpus))
    // the vocab scalar and prefix table must ride broadcasts; the
    // data-sized bigram stream is joined by hash, never paired
    assert(!plan.contains("CartesianProduct"), s"cartesian in score pass:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"model/prefix not broadcast at this scale:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized sort for the model join:\n$plan")
    // word-count model build and the per-doc fold are both map-side partial
    assert(plan.contains("partial_count"), s"no partial aggregation:\n$plan")
  }

  test("q1 aggregation is map-side partial") {
    val plan = finalPlan(Relational.q1Pricing(spark, sfDir))
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("gopher_quality: one narrow pass — no aggregate, no join, only the presentation sort") {
    val plan = finalPlan(TextAnalysis.gopherQuality(spark, sfDir))
    assert(!plan.contains("Join"), s"join in a per-row metric pass:\n$plan")
    assert(!plan.contains("Aggregate"),
      s"aggregate in a per-row metric pass (the run-length fold should be narrow):\n$plan")
    // r17: the scale-adaptive scan spread (Tables.documentsSpread) adds
    // ONE RoundRobinPartitioning exchange at sub-split-per-core input
    // sizes (identity at production scale) — exclude it, then the only
    // remaining exchange is the presentation range sort (+ AQE echo)
    val exchanges = "Exchange".r.findAllIn(plan).length -
      "roundrobin".r.findAllIn(plan.toLowerCase).length
    assert(exchanges <= 2,
      s"expected only the presentation sort exchange, got $exchanges:\n$plan")
  }

  test("dedup_paragraph: winner agg is partial before its exchange; no cartesian") {
    val plan = finalPlan(Dedup.dedupParagraph(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the min-struct winner and the collect_list rebuild must both
    // partial-aggregate map-side — that is the clone-flood bound
    assert(plan.contains("partial_min"), s"winner agg not map-side partial:\n$plan")
    assert(plan.contains("partial_collect_list"), s"rebuild not map-side partial:\n$plan")
  }

  test("dataset_mix_temperature: rates broadcast, corpus side never reshuffled") {
    val plan = finalPlan(graft.operators.Pack.datasetMixTemperature(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"rates not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus reshuffled for the rate join:\n$plan")
  }

  test("semdedup: quotient + capped cell join — hash joins only, no cartesian") {
    val plan = finalPlan(VectorSearch.semDedup(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), s"cartesian in semdedup:\n$plan")
    // the only nested-loop anywhere under this query is the <= k-row
    // centroid broadcast inside the (cached) cluster assignment; every
    // data-sized join — rep pairs, priorities, report — is hash-based.
    // Since r18 the domination report is a checkpointed session memo,
    // so a warm plan reads the materialized leaf instead of re-joining;
    // either shape satisfies the no-cartesian claim this test guards.
    assert(plan.contains("Scan ExistingRDD")
      || plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"neither memoized report leaf nor hash join found:\n$plan")
  }

  test("proto_select: no cartesian; any nested loop is the <=k-row centroid broadcast") {
    val df = VectorSearch.protoSelect(spark, sfDir)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), s"cartesian in proto_select:\n$plan")
    // a (label, ccos) band join that degenerated to a nested loop
    // would surface here as a BNLJ with a band-histogram-sized build;
    // the only legitimate BNLJ under this query is the cluster
    // assignment's centroid broadcast (<= KmClusters rows)
    bnljBuildRows(df).foreach { n =>
      assert(n <= VectorSearch.KmClusters.toLong,
        s"proto_select: BNLJ builds $n rows — bigger than the centroid table")
    }
  }

  test("apply family: sorted=false drops the presentation range exchange") {
    import graft.operators.{Curate, Perplexity}
    // every corpus-sized apply output honors Pack's sorted contract:
    // the default keeps the oracle's key order (a rangepartitioning
    // exchange), sorted=false must not pay a global sort — at 100 TB
    // the cleaned corpus is THE output a user materializes, and the
    // next stage reads shards, not a totally-ordered table
    val family: Seq[(String, Boolean => DataFrame)] = Seq(
      "dedup_apply"       -> (s => Dedup.dedupApply(spark, sfDir, sorted = s)),
      "neardup_apply"     -> (s => Dedup.neardupApply(spark, sfDir, sorted = s)),
      "curate_apply"      -> (s => Curate.curateApply(spark, sfDir, sorted = s)),
      "quality_perplexity_apply" ->
        (s => Perplexity.qualityPerplexityApply(spark, sfDir, sorted = s)),
      "clean_text"        -> (s => TextAnalysis.cleanText(spark, sfDir, sorted = s)),
      "pii_scrub"         -> (s => TextAnalysis.piiScrub(spark, sfDir, sorted = s)),
      "gopher_filter"     -> (s => TextAnalysis.gopherFilter(spark, sfDir, sorted = s)),
      "c4_filter"         -> (s => TextAnalysis.c4Filter(spark, sfDir, sorted = s)),
      "fineweb_linededup" -> (s => TextAnalysis.finewebLineDedup(spark, sfDir, sorted = s)),
      "c4_span_dedup"     -> (s => TextAnalysis.c4SpanDedup(spark, sfDir, sorted = s)),
      "doc_decode"        -> (s => graft.operators.Multimodal.docDecode(spark, sfDir, sorted = s)),
      "semdedup_apply"    -> (s => VectorSearch.semDedupApply(spark, sfDir, sorted = s)),
      "session_cleanup_apply" ->
        (s => graft.operators.Analytics.sessionCleanupApply(spark, sfDir, sorted = s)))
    for ((name, q) <- family) {
      assert(finalPlan(q(true)).contains("rangepartitioning"),
        s"$name: default lost the oracle's presentation order")
      val unsorted = finalPlan(q(false))
      assert(!unsorted.contains("rangepartitioning"),
        s"$name: sorted=false still range-partitions:\n$unsorted")
      // same rows either way — the contract is presentation-only
      assert(q(false).count() === q(true).count(), s"$name: row count drifted")
    }
  }

  test("session_cleanup_apply: row-local delete — memoized session leaf, no self-join") {
    // the delete predicate only touches the row's end_ms vs the
    // broadcast end-of-data timestamp, so the kept frame must be a
    // row-local filter over the session-family memo (r18 C14 — the
    // checkpointed session table shared by all six session queries):
    // ZERO Window recomputation, ZERO hash exchanges, and the only
    // join anywhere is the 1-row now_ms broadcast. (Pre-C14 this
    // asserted exactly ONE inline sessionize lineage — 2 Windows,
    // 1 exchange — guarding against the r15 anti-join spelling that
    // doubled the pass; the memoized leaf subsumes that guard.)
    val plan = finalPlan(
      graft.operators.Analytics.sessionCleanupApply(spark, sfDir, sorted = false))
      .split("== Initial Plan ==").head
    assert(plan.contains("Scan ExistingRDD"),
      s"session_cleanup_apply: memoized session leaf missing:\n$plan")
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows === 0,
      s"session_cleanup_apply: $windows window nodes (memoized leaf has 0):\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles === 0,
      s"session_cleanup_apply: $shuffles hash exchanges (memoized leaf has 0):\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("BroadcastHashJoin"),
      s"session_cleanup_apply: key join present — delete is row-local:\n$plan")
  }
}
