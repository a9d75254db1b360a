package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans of the headline queries to
  * PLANS.md — the plan-quality evidence (pushdown, pruning,
  * broadcast, partial aggregation) alongside PlanAuditSpec.
  */
object PlanDump {
  val Headliners = Seq("q1_pricing", "q3_revenue_topk", "q5_region_join",
    "knn_brute", "ann_ivf", "ann_lsh", "dedup_minhash", "dedup_embedding",
    "dedup_simhash", "ngram_jaccard", "pipeline_ingest", "index_search",
    "keyword_search", "keyword_bm25", "image_search", "sessionize", "cohort_retention",
    "range_active_sessions", "session_overlap", "ann_quantized",
    "ann_ivf_quantized", "ann_ivf_kmeans", "ann_pq", "ann_ivfpq",
    "ann_ivfpq_residual", "pivot_events", "ask_batch",
    "corpus_curate", "curate_apply", "hybrid_rrf", "session_cleanup",
    "sequence_pack", "pack_stats", "dataset_mix", "dataset_mix_epochs",
    "token_vocab", "neardup_incremental", "pipeline_trainprep",
    "pipeline_trainprep_mixed", "diversity_sample", "dataset_split",
    "dataset_split_incremental", "quality_perplexity",
    "quality_perplexity_buckets", "quality_perplexity_apply",
    "quality_perplexity_ref", "quality_perplexity_backoff",
    "quality_perplexity_kn", "quality_perplexity_kn3",
    "quality_perplexity_kn5", "pipeline_trainprep_scored",
    "gopher_quality", "dedup_paragraph", "dataset_mix_temperature",
    "dsir_score", "semdedup", "proto_select")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.builderFromEnv().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` at `$dir`. The scale-relevant\n")
    sb.append("properties (pushdown, pruning, broadcast, partial agg, no-window\n")
    sb.append("top-k) are also asserted in `PlanAuditSpec`.\n")
    Headliners.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plandump] wrote PLANS.md (${Headliners.size} queries)")
    spark.stop()
  }
}
