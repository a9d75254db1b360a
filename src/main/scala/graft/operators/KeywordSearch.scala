package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Par, TopK}
import graft.functions.TextFunctions._
import graft.sources.Tables

/** The reference's keyword + hybrid search layer
  * (core/supabase_utils.py:280 `search_similar_contributions`,
  * core/enhanced_search.py). Documents stand in for "contributions";
  * `rating` is a deterministic derived column (the synthetic corpus
  * has no rating), `usage` is n_chars.
  */
object KeywordSearch {

  val Query  = "join hash table"
  val Query2 = "stream window agg"
  /** THE standard query text list — single source for
    * [[standardQueries]] (the DataFrame the queries run on) and the
    * static BM25 shard derivation, so adding a query can never leave
    * its tokens' shards out of the partition filter.
    */
  private[graft] val StandardQueryTexts: Seq[String] = Seq(Query, Query2)

  /** The standard query set's shard list — a pure function of
    * [[StandardQueryTexts]] under the same split-on-space
    * tokenization as `tokens()`; KeywordSearchSpec asserts this set
    * equals the Spark-computed shards of the actual qtok frame, so a
    * drift in EITHER the query list or the tokenization rule fails a
    * test instead of silently pruning matching postings away.
    */
  private[graft] def standardQueryShards: Seq[Long] =
    StandardQueryTexts.flatMap(_.split(" ")).distinct
      .map(bm25ShardOf).distinct.sorted

  /** The standard 2-query demo set shared by keyword_search,
    * keyword_bm25 and knn_text — one definition, because the oracle's
    * queriesCte (SparkEntry) spells the same literals and every copy
    * must stay in lockstep.
    */
  private[graft] def standardQueries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    StandardQueryTexts.zipWithIndex
      .map { case (t, i) => ((i + 1).toLong, t) }.toDF("q_id", "q_text")
  }

  /** BM25 defaults — referenced by [[bm25]]'s signature and the
    * staged-index query path so the ad-hoc and staged spellings can
    * never drift (the oracle SQL folds the same constants).
    */
  val Bm25K  = 5
  val Bm25K1 = 1.2
  val Bm25B  = 0.75
  /** Token-hash shard count of the staged BM25 posting index. The
    * staged table is Hive-partitioned by `_shard = md5(token) mod
    * this`, so a query's vocabulary resolves to a static shard set
    * and the posting scan is PARTITION-PRUNED to those directories —
    * the inverted-index segment layout at 100 TB, where "look up the
    * query's tokens" must not mean "scan every posting". Sharding is
    * a pure function of the token, so pruning can never drop a
    * matching posting.
    */
  val Bm25Shards = 64

  /** Synthetic contribution rating — documented stand-in. */
  private val rating = (col("doc_id") % 50).cast("double") / 10.0

  /** Token-overlap scoring, exactly the reference's formula
    * (supabase_utils.py:299-:304): 1.0 on substring containment, else
    * |q_tokens ∩ doc_tokens| / |q_tokens|; keep score > 0; rank by
    * (score desc, rating desc) with id tie-break, top-5 per query.
    * Top-k via the map-side-combining TopK2Agg: the shuffle carries
    * ≤ 5 rows per query and map partition — a per-query window would
    * funnel every scored (doc × query) row into #queries partitions.
    */
  def keywordSearch(spark: SparkSession, dir: String,
                    k: Int = 5): DataFrame = {
    val queries = standardQueries(spark)
    val qTok = array_distinct(split(col("q_text"), " "))
    val dTok = array_distinct(tokens(col("text")))
    val score = when(col("text").contains(col("q_text")), lit(1.0))
      .otherwise(size(array_intersect(qTok, dTok)).cast("double") / size(qTok))
    Tables.documents(spark, dir).crossJoin(broadcast(queries))
      .select(col("q_id"), col("doc_id"),
        Par.round4(score).as("score"), rating.as("rating"))
      .where(col("score") > 0)
      .groupBy(col("q_id"))
      .agg(TopK.topK2(k)(col("score"), col("rating"), col("doc_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "hit")))
      .select(col("q_id"), col("hit.id").as("doc_id"), col("hit.score").as("score"),
        col("hit.score2").as("rating"), (col("i") + 1).cast("long").as("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** BM25-ranked lexical retrieval — the scale path of keyword
    * search. [[keywordSearch]] reproduces the reference's formula
    * (supabase_utils.py:299) as a query×corpus containment scan —
    * faithful, but every document is scored against every query. BM25
    * retrieves through a token posting join instead: explode the
    * corpus to (doc, token) postings, prune to the query vocabulary
    * BEFORE any shuffle, and score from tf/df/dl statistics — the
    * candidate volume is O(postings matching the query vocabulary),
    * the inverted-index shape, never O(docs × queries).
    *
    * Scoring is BM25 (tf saturation `k1`, length normalization `b`)
    * with a log-free rational idf, (N − df + 0.5)/(df + 0.5) — the
    * ARGUMENT of the standard formula's ln. The repo's float
    * discipline (SURVEY.md §6) allows only correctly-rounded IEEE ops
    * (+,−,×,÷,sqrt) in oracle-checked results; ln is
    * implementation-defined (JVM Math.log and DuckDB's libm differ by
    * ULPs) and one ULP can flip a round4 boundary or a rank. The
    * surrogate keeps the same df-rarity direction (strictly
    * decreasing in df) with idf weighting, saturation and length
    * normalization mechanics unchanged.
    *
    * Determinism: every per-term value derives from integer tf/df/dl/N
    * through a fixed double expression tree (the oracle spells the
    * SAME tree, constant subexpressions included), and the
    * per-document score folds its terms in token order (array_sort →
    * aggregate) — a plain SUM(double) would be partition-order
    * dependent and the fold is bitwise reproducible in both engines.
    *
    * Plan shape: the query-independent corpus side — the full
    * (_did, _dl, _tok, _tf) postings, each carrying its token's df and
    * the corpus's N/Σdl — is a session memo ([[bm25Corpus]]),
    * hash-partitioned by document and built on a corpus's first call;
    * every later call over the same corpus reuses it. A call
    * tokenizes its queries, joins the query tokens (broadcast)
    * against the memo, folds the terms per (query, doc) inside the
    * memo's document partitions and takes the per-query top-k via the
    * map-side combining TopKAgg — one shuffle of ≤ k rows per query
    * and partition.
    *
    * `idCol` must be long-castable; output is
    * (`qIdCol`, `idCol`, score, rk), k rows per query.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int = Bm25K, k1: Double = Bm25K1, b: Double = Bm25B): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(k1 >= 0, s"k1 must be non-negative, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0,1], got $b")
    require(qIdCol != idCol && idCol != "score" && idCol != "rk" &&
      qIdCol != "score" && qIdCol != "rk",
      s"output columns ($qIdCol, $idCol, score, rk) must be distinct")
    // fold the derived constants HERE, once — the oracle must spell
    // the same additions (`k1 + 1.0`, `1.0 - b`) so both engines run
    // the identical IEEE expression tree
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val qtok = queries.select(col(qIdCol).as("_qid"),
      explode(array_distinct(tokens(col(qTextCol)))).as("_tok"))
    bm25Score(bm25Corpus(docs, idCol, textCol), qtok, qIdCol, idCol,
      k, k1p1, k1, b, oneMinusB)
  }

  /** [[bm25]]'s corpus side, [[bm25Scorable]] over the full postings,
    * memoized per (session, corpus) under a rotating `DfCache` prefix,
    * so one long session holds one corpus's blocks at a time and a
    * corpus switch releases the previous one's. The memo is
    * `persist`ed: lost blocks recompute from lineage.
    *
    * Key: the memo plan's semanticHash (its canonicalized analyzed
    * plan over `docs`, with `idCol`/`textCol` in it) plus the input
    * fingerprint of `docs.inputFiles` — a parquet dir rewritten
    * mid-session lists new files, so the next call recomputes. A hit
    * must also be `sameResult` with this call's plan: a hash collision
    * never serves another corpus's postings. A non-deterministic
    * `docs` plan (or that collision) is not memoized; its postings are
    * materialized once for this call, so the df, stats and scoring
    * sides all see the same rows.
    */
  private def bm25Corpus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    // the df join is a sort-merge join: a broadcast hashed relation
    // would stay reachable from the cached plan, pinning a whole
    // memory page for the memo's lifetime. Hash-partitioned by
    // document, so a call's (query, doc) fold needs no shuffle.
    def corpus(post: DataFrame): DataFrame =
      bm25Scorable(post, bm25DfOf(post).hint("merge"), bm25StatsOf(post))
        .repartition(col("_did"))
    val post = bm25PostingsOf(bm25Docs(docs, idCol, textCol))
    val memoable = corpus(post)
    val plan = memoable.queryExecution.analyzed
    val hit = if (!plan.deterministic) None else {
      val tag = s"$idCol:$textCol:${plan.semanticHash()}:" +
        graft.DfCache.inputFingerprint(spark, docs.inputFiles.toIndexedSeq: _*)
      Some(graft.DfCache.getOrComputeRotating(spark, "bm25_corpus", tag)(
        memoable.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    }
    hit.filter(_.queryExecution.analyzed.sameResult(plan))
      .getOrElse(corpus(post.localCheckpoint()))
  }

  /** (_did, _dl, _toks) corpus frame. NULL text is excluded from the
    * corpus (and from N/avgdl) on BOTH sides — Spark's size(NULL) =
    * -1 would silently poison sum_dl where DuckDB's len(NULL) = NULL
    * skips it.
    */
  private def bm25Docs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("_did"),
        tokens(col(textCol)).as("_toks"))
      .select(col("_did"), size(col("_toks")).as("_dl"), col("_toks"))

  /** (_did, _dl, _tok, _tf) posting rows — one per distinct (doc,
    * token), the inverted-index unit.
    */
  private def bm25PostingsOf(d: DataFrame): DataFrame =
    d.select(col("_did"), col("_dl"), explode(col("_toks")).as("_tok"))
      .groupBy(col("_did"), col("_dl"), col("_tok"))
      .agg(count(lit(1)).as("_tf"))

  /** Per-token document frequency (_tok, _df) of a full-corpus
    * posting table — the one df spelling of the ad-hoc memo and the
    * staged index. One row per distinct token.
    */
  private def bm25DfOf(post: DataFrame): DataFrame =
    post.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))

  /** 1-row corpus stats (_n_docs, _sum_dl) of a full-corpus posting
    * table. Every doc has ≥ 1 token (split of "" is [""]), so the
    * postings cover exactly the non-NULL-text corpus.
    */
  private def bm25StatsOf(post: DataFrame): DataFrame =
    post.select(col("_did"), col("_dl")).distinct()
      .agg(count(lit(1)).as("_n_docs"), sum(col("_dl")).as("_sum_dl"))

  /** Postings (_did,_dl,_tok,_tf) joined with the df table (_tok,_df)
    * and the 1-row corpus stats (_n_docs,_sum_dl): every input of a
    * term's score on one row, the shape [[bm25Score]] reads.
    */
  private def bm25Scorable(post: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame =
    post.join(dfreq, "_tok").crossJoin(broadcast(stats))

  /** BM25 scoring of [[bm25Scorable]] rows (full-corpus or
    * vocab-pruned) against query tokens (_qid,_tok). The query side
    * broadcasts; the (query, doc) term fold shuffles only if the rows
    * are not already partitioned by document.
    */
  private def bm25Score(scorable: DataFrame,
      qtok: DataFrame, qIdCol: String, idCol: String,
      k: Int, k1p1: Double, k1: Double, b: Double, oneMinusB: Double): DataFrame = {
    val avgdl = col("_sum_dl").cast("double") / col("_n_docs")
    val idf = (col("_n_docs") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))
    val tfNorm = (col("_tf") * lit(k1p1)) /
      (col("_tf") + lit(k1) * (lit(oneMinusB) + (lit(b) * col("_dl")) / avgdl))
    scorable.join(broadcast(qtok), "_tok")
      .select(col("_qid"), col("_did"), col("_tok"), (idf * tfNorm).as("_term"))
      .groupBy(col("_qid"), col("_did"))
      .agg(collect_list(struct(col("_tok"), col("_term"))).as("_ts"))
      .select(col("_qid"), col("_did"),
        Par.round4(aggregate(
          transform(array_sort(col("_ts")), s => s.getField("_term")),
          lit(0.0), (a, x) => a + x)).as("_score"))
      .groupBy(col("_qid"))
      .agg(TopK.topK(k)(col("_score"), col("_did")).as("_top"))
      .select(col("_qid"), posexplode(col("_top")).as(Seq("_i", "_hit")))
      .select(col("_qid").as(qIdCol), col("_hit.id").as(idCol),
        col("_hit.score").as("score"), (col("_i") + 1).cast("long").as("rk"))
  }

  /** Full-corpus BM25 posting index over the documents table — the
    * staged inverted-index artifact (DfCache.stagedFrame: parquet
    * keyed by logic version + corpus fingerprint, session-cached).
    * Build once, query many: a fresh JVM re-reads the staged table
    * instead of re-tokenizing the corpus, exactly the reference's
    * build-the-index-once shape (FAISS persistence, utils.py).
    *
    * The table is written Hive-partitioned by the [[Bm25Shards]]
    * token-hash shard, so [[keywordBm25]]'s static shard filter
    * reaches the parquet scan as PARTITION PRUNING — the ivfpqIndex
    * pattern. `persist = false` is LOAD-BEARING there too: an
    * InMemoryRelation would swallow the partition filter before it
    * reaches the file scan. The read-back select normalizes the
    * partition column (type-inferred int from directory names) back
    * to the written long, per the stagedFrame contract.
    */
  private[graft] def bm25Index(spark: SparkSession, dir: String): DataFrame = {
    val key = s"bm25_post:$Bm25Shards:$dir"
    graft.DfCache.getOrCompute(spark, key)(
      graft.DfCache.stagedFrame(spark, key,
        graft.DfCache.inputFingerprint(spark, s"$dir/documents.parquet"),
        persist = false, partitionCols = Seq("_shard"))(
        bm25PostingsOf(bm25Docs(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          "doc_id", "text"))
          .withColumn("_shard", bm25Shard(col("_tok"))))
        .select(col("_did"), col("_dl"), col("_tok"), col("_tf"),
          col("_shard").cast("long").as("_shard")))
  }

  /** The token→shard rule — one spelling for the index write and the
    * query-time shard derivation.
    */
  private[graft] def bm25Shard(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(md5Long(tok, 1, 8), lit(Bm25Shards.toLong))

  /** Driver-side twin of [[bm25Shard]] for LITERAL tokens: first 8 md5
    * hex chars (= first 4 digest bytes) as a long, mod [[Bm25Shards]].
    * The standard query set is a compile-time constant, so its shard
    * set is derivable without a Spark job — plan construction stays
    * job-free (KeywordSearchSpec asserts parity with the Column
    * spelling).
    */
  private[graft] def bm25ShardOf(tok: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8")).take(4)
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % Bm25Shards
  }

  /** Per-token document frequency derived from the staged index,
    * memoized per (session, dir) — tiny (one row per distinct
    * token), broadcast at query time.
    */
  private def bm25IndexDf(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"bm25_df:$dir")(
      bm25DfOf(bm25Index(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** 1-row corpus stats (N, Σdl) derived from the staged index. */
  private def bm25IndexStats(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"bm25_stats:$dir")(
      bm25StatsOf(bm25Index(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Query-level demo: the standard query set BM25-ranked over the
    * documents corpus through the staged posting index, top-5 per
    * query. Full-corpus df restricted to the query vocabulary equals
    * the ad-hoc [[bm25]] form's vocab-pruned df, so both paths score
    * identically (spec-asserted).
    */
  def keywordBm25(spark: SparkSession, dir: String,
                  k: Int = Bm25K, k1: Double = Bm25K1,
                  b: Double = Bm25B): DataFrame = {
    val qtok = standardQueries(spark).select(col("q_id").as("_qid"),
      explode(array_distinct(tokens(col("q_text")))).as("_tok"))
    // the query vocabulary's shard set: a pure function of the
    // CONSTANT standard query strings, derived driver-side with no
    // Spark job (the collect-based ann_ivfpq pattern is for sets that
    // require reading data; these don't); the STATIC `_shard IN (…)`
    // filter reaches the staged index's parquet scan as a
    // PartitionFilter, so only the directories holding the query's
    // tokens are read at all
    val shards = standardQueryShards
    val post = bm25Index(spark, dir)
      .where(col("_shard").isin(shards: _*))
    // restrict the df table to the query vocabulary BEFORE broadcast:
    // the full-corpus df table is one row per distinct token — fine
    // to scan, wrong to broadcast
    val dfVoc = bm25IndexDf(spark, dir)
      .join(broadcast(qtok.select(col("_tok")).distinct()), "_tok")
    bm25Score(bm25Scorable(post, broadcast(dfVoc), bm25IndexStats(spark, dir)),
      qtok, "q_id", "doc_id",
      k = k, k1p1 = k1 + 1.0, k1 = k1, b = b,
      oneMinusB = 1.0 - b)
      .orderBy(col("q_id"), col("rk"))
  }

  /** keywordBm25's top-5 frame cached per (session, dir) — the
    * lexical side of the fusion, scored once like
    * [[keywordTopCached]]/[[knnTextCached]].
    */
  private def bm25TopCached(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"bm25_top:$dir")(
      keywordBm25(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Reciprocal-rank fusion of the BM25 lexical top-5 with the dense
    * knn_text top-5 — the standard hybrid-retrieval merge (RRF,
    * Cormack & Clarke '09): score(d) = Σ_systems 1/(60 + rank_s(d)).
    * The reference fuses its two retrieval systems by score blending
    * (enhanced_search.py:325 prioritize_enhanced_results); RRF is
    * the scale-robust alternative — rank-only, so no cross-system
    * score calibration, and log-free rational arithmetic keeps it
    * oracle-exact. The per-doc sum has ≤ 2 terms (one per system)
    * and two-term double addition is order-independent, so no
    * ordered fold is needed. Each system's frame is already a
    * bounded top-k: fusion touches ≤ 2k rows per query regardless
    * of corpus size.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val fused = bm25TopCached(spark, dir).select(col("q_id"), col("doc_id"), col("rk"))
      .unionByName(
        knnTextCached(spark, dir).select(col("q_id"), col("doc_id"), col("rk")))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(Par.round4(sum(lit(1.0) / (lit(60.0) + col("rk").cast("double")))).as("rrf"))
    fused
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .where(col("rk") <= 5)
      .orderBy(col("q_id"), col("rk"))
  }

  /** Case-insensitive substring listing — search_qa_by_keyword
    * (supabase_utils.py:362) / the admin ilike filter
    * (supabase_utils.py:389).
    */
  def keywordSubstring(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(col("text").contains("hash join"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** keywordSearch's top-5 frame cached per (session, dir) for the
    * composed flows (context, ask, rank) — persisted via DfCache so
    * repeat consumers don't rescan the corpus and nothing leaks
    * un-unpersisted frames. keywordSearch itself stays uncached so
    * its plan remains auditable.
    */
  private def keywordTopCached(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"keyword_top:$dir")(
      keywordSearch(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Result-quality assessment per query — _assess_faiss_quality
    * (enhanced_search.py:170): avg similarity + count bonus
    * min(n/5, 0.2), capped at 1.0, over the knn_brute top-5.
    */
  def hybridQuality(spark: SparkSession, dir: String): DataFrame =
    VectorSearch.knnBrute(spark, dir)
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n"), sum(col("cos")).as("s"))
      .select(col("q_id"), col("n"),
        Par.round4(col("s") / col("n")).as("avg_sim"),
        Par.round4(least(col("s") / col("n")
          + least(col("n").cast("double") / 5.0, lit(0.2)), lit(1.0))).as("quality"))
      .orderBy(col("q_id"))

  /** knnText's top-5 frame cached per (session, dir) — the FAISS side
    * of every composed flow (context document section, ask counts,
    * sources listing), scored once like [[keywordTopCached]].
    */
  private def knnTextCached(spark: SparkSession, dir: String): DataFrame =
    graft.DfCache.getOrCompute(spark, s"knn_text_top:$dir")(
      VectorSearch.knnText(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Combined-context assembly — _create_combined_context
    * (enhanced_search.py:117): contribution blocks first ("USER
    * CONTRIBUTIONS AND ENHANCEMENTS:"), then the vector hits as
    * "DOCUMENT #i (from <filename>)" blocks under "ORIGINAL KNOWLEDGE
    * BASE:" (enhanced_search.py:151-:163), each side in rank order; a
    * side with no hits drops its whole section, exactly like the
    * reference's `if contributions:` / `if faiss_chunks:` guards.
    * Ordered string aggregation via sort-then-join of collected
    * (rank, block) pairs; similarity is embedded as integer basis
    * points and text as a bounded 40-char preview (cross-engine float
    * formatting is not stable, and the oracle-compared artifact stays
    * small — a production context would carry the full chunk text).
    */
  def hybridContext(spark: SparkSession, dir: String): DataFrame =
    contextOf(keywordTopCached(spark, dir), knnTextCached(spark, dir),
      spark, dir, prioritized = false)

  /** The contribution-emphasized variant — _create_prioritized_context
    * (enhanced_search.py:229): "🎯 HIGHLY RELEVANT USER CONTRIBUTION"
    * blocks under "USER CONTRIBUTIONS (PRIORITIZED):", vector hits
    * demoted to "SUPPLEMENTARY DOCUMENTATION:"; with no contributions
    * the reference falls back to _create_combined_context, so the
    * document header reverts to "ORIGINAL KNOWLEDGE BASE:".
    */
  def hybridContextPrioritized(spark: SparkSession, dir: String): DataFrame =
    contextOf(keywordTopCached(spark, dir), knnTextCached(spark, dir),
      spark, dir, prioritized = true)

  /** The contribution-ONLY fallback context —
    * _create_contribution_only_context (views.py:133), used by the
    * supabase-path ask flow when vector search returns nothing: 🎯
    * blocks (rank, 40-char answer preview, rating, similarity) under
    * "USER CONTRIBUTIONS (FALLBACK SEARCH):"; a query with NO
    * contribution hits renders the reference's empty string (its
    * `if not contributions: return ""`), so the q_id universe comes
    * from the query set, not the hit stream. The reference's optional
    * `Question:` line has no column in the synthetic data model
    * (SURVEY.md §3) and is absent, as in the other context variants.
    */
  def hybridContextFallback(spark: SparkSession, dir: String): DataFrame = {
    val kw = keywordTopCached(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val block = concat(
      lit("🎯 USER CONTRIBUTION #"), col("rk").cast("string"),
      lit(":\nAnswer: "), substring(col("text"), 1, 40),
      lit("\nRating: "), col("rating").cast("string"),
      lit("/5.0 (Similarity: "), bp(col("score")), lit("bp)"))
    val sec = kw.join(docs, Seq("doc_id"))
      .groupBy(col("q_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rk"), block.as("block")))),
          s => s.getField("block")), "\n\n").as("blocks"))
    standardQueries(spark).select(col("q_id"))
      .join(sec, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(
          concat(lit("USER CONTRIBUTIONS (FALLBACK SEARCH):\n"), col("blocks")),
          lit("")).as("fallback_context"))
      .orderBy(col("q_id"))
  }

  /** basis-point render: floor(x+0.5), not a bare cast — cast
    * truncates, and 573 of the 10001 possible round4 scores sit just
    * UNDER their bp integer in binary (0.0003*10000 = 2.9999...),
    * where DuckDB's rounding cast would disagree bitwise
    */
  private def bp(x: Column): Column =
    floor(x * 10000 + 0.5).cast("long").cast("string")

  /** Context assembly over already-computed keyword-hit and vector-hit
    * frames (so composed flows like askBatch score the corpus once).
    */
  private def contextOf(kw: DataFrame, faiss: DataFrame,
      spark: SparkSession, dir: String, prioritized: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val contribBlock = concat(
      lit(if (prioritized) "🎯 HIGHLY RELEVANT USER CONTRIBUTION #"
          else "USER CONTRIBUTION #"), col("rk").cast("string"),
      lit(":\nAnswer: "), substring(col("text"), 1, 40),
      lit("\nRating: "), col("rating").cast("string"),
      lit("/5.0 (Similarity: "), bp(col("score")),
      lit("bp)"))
    val contribSec = kw.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .groupBy(col("q_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rk"), contribBlock.as("block")))),
          s => s.getField("block")), "\n\n").as("c_blocks"))
      .select(col("q_id"),
        concat(lit(if (prioritized) "USER CONTRIBUTIONS (PRIORITIZED):\n"
                   else "USER CONTRIBUTIONS AND ENHANCEMENTS:\n"),
          col("c_blocks")).as("c_sec"))
    val docBlock = concat(
      lit("DOCUMENT #"), col("rk").cast("string"),
      lit(" (from "), col("source"), lit("):\n"),
      substring(col("text"), 1, 40),
      lit("\n(Similarity: "), bp(col("cos")), lit("bp)"))
    val faissSec = faiss.join(docs, Seq("doc_id"))
      .groupBy(col("q_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rk"), docBlock.as("block")))),
          s => s.getField("block")), "\n\n").as("f_blocks"))
    contribSec.join(faissSec, Seq("q_id"), "full_outer")
      .select(col("q_id"),
        // concat_ws skips NULL sections in both engines — an absent
        // side vanishes along with its separator
        concat_ws("\n\n", col("c_sec"),
          when(col("f_blocks").isNotNull, concat(
            when(lit(prioritized) && col("c_sec").isNotNull,
                lit("SUPPLEMENTARY DOCUMENTATION:\n"))
              .otherwise(lit("ORIGINAL KNOWLEDGE BASE:\n")),
            col("f_blocks")))).as("combined_context"))
      .orderBy(col("q_id"))
  }

  /** The full `/api/ask` flow as one batch operator
    * (core/views.py:225 `ask` → enhanced_search_with_contributions,
    * enhanced_search.py:16): per query, the vector hits (knn_text)
    * and contribution hits (keyword_search) are counted, search
    * effectiveness is classified (analyze_search_effectiveness,
    * enhanced_search.py:386: ≥3 sources high, ≥1 medium, else low),
    * and the combined context is attached. Everything downstream of
    * this row (the LLM call) is an external service.
    */
  def askBatch(spark: SparkSession, dir: String): DataFrame = {
    // score each side once; counts, context, and sources derive from
    // the same two cached frames
    val kw = keywordTopCached(spark, dir)
    val fa = knnTextCached(spark, dir)
    val faiss = fa.groupBy(col("q_id")).agg(count(lit(1)).as("faiss_count"))
    val contrib = kw
      .groupBy(col("q_id")).agg(count(lit(1)).as("contribution_count"))
    val ctx = contextOf(kw, fa, spark, dir, prioritized = false)
    val srcs = sourcesOf(kw, fa, spark, dir)
    faiss.join(contrib, Seq("q_id"), "full_outer")
      .na.fill(0L, Seq("faiss_count", "contribution_count"))
      .withColumn("total_sources", col("faiss_count") + col("contribution_count"))
      .withColumn("search_effectiveness",
        when(col("total_sources") >= 3, "high")
          .when(col("total_sources") >= 1, "medium")
          .otherwise("low"))
      // the 4-way message of _get_search_recommendation
      // (enhanced_search.py:401), branch order preserved
      .withColumn("recommendation",
        when(col("faiss_count") === 0 && col("contribution_count") === 0,
          "No relevant information found. Consider rephrasing your question or adding more specific keywords.")
        .when(col("faiss_count") > 0 && col("contribution_count") > 0,
          "Great! Found both original documentation and user contributions for comprehensive answers.")
        .when(col("faiss_count") > 0,
          "Found relevant information in the original documentation.")
        .otherwise(
          "Found user contributions that may help answer your question."))
      .join(ctx, Seq("q_id"), "left")
      .join(srcs, Seq("q_id"), "left")
      .select(col("q_id"), col("faiss_count"), col("contribution_count"),
        col("total_sources"), col("search_effectiveness"),
        col("combined_context"), col("sources"), col("recommendation"))
      .orderBy(col("q_id"))
  }

  /** The merged per-source listing of get_enhanced_sources
    * (enhanced_search.py:283), rendered as one deterministic line per
    * source — vector hits first (filename/page/similarity/preview),
    * then contributions (id/rating/usage_count/preview) — joined in
    * (side, rank) order. `page` has no column in the synthetic corpus
    * so it renders the reference's own missing-key defaults
    * ('Unknown' for documents, 'N/A' for contributions);
    * `usage_count` is n_chars, as in [[hybridRank]]; previews are
    * bounded at 40 chars like the context blocks.
    */
  private def sourcesOf(kw: DataFrame, faiss: DataFrame,
      spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val fLines = faiss.join(docs, Seq("doc_id"))
      .select(col("q_id"), lit(0).as("grp"), col("rk"),
        concat(lit("filename="), col("source"),
          lit("; page=Unknown; similarity="), bp(col("cos")),
          lit("bp; source_type=original_document; text_preview="),
          substring(col("text"), 1, 40)).as("line"))
    val cLines = kw.join(docs, Seq("doc_id"))
      .select(col("q_id"), lit(1).as("grp"), col("rk"),
        concat(lit("filename=User Contribution; page=N/A; similarity="),
          bp(col("score")),
          lit("bp; source_type=user_contribution; contribution_id="),
          col("doc_id").cast("string"),
          lit("; rating="), col("rating").cast("string"),
          lit("; usage_count="), col("n_chars").cast("string"),
          lit("; text_preview="), substring(col("text"), 1, 40)).as("line"))
    fLines.unionByName(cLines)
      .groupBy(col("q_id"))
      .agg(array_join(
        transform(array_sort(collect_list(
            struct(col("grp"), col("rk"), col("line")))),
          s => s.getField("line")), "\n").as("sources"))
  }

  /** Prioritized merged ranking — prioritize_enhanced_results
    * (enhanced_search.py:325): top-2 contributions (by rating, usage)
    * first as 'high', then the vector hits as 'medium', then the
    * remaining contributions as 'low'.
    */
  def hybridRank(spark: SparkSession, dir: String): DataFrame = {
    val contrib = keywordTopCached(spark, dir).where(col("q_id") === 1)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("n_chars").as("usage")),
        Seq("doc_id"))
      .withColumn("crk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("rating").desc, col("usage").desc, col("doc_id"))).cast("long"))
    val high = contrib.where(col("crk") <= 2)
      .select(col("doc_id"), lit("user_contribution").as("source_type"),
        lit("high").as("priority"), col("crk").as("ord"))
    val low = contrib.where(col("crk") > 2)
      .select(col("doc_id"), lit("user_contribution").as("source_type"),
        lit("low").as("priority"), (col("crk") + 5).as("ord"))
    val medium = knnTextCached(spark, dir).where(col("q_id") === 1)
      .select(col("doc_id"), lit("original_document").as("source_type"),
        lit("medium").as("priority"), (col("rk") + 2).as("ord"))
    high.unionAll(medium).unionAll(low).orderBy(col("ord"), col("doc_id"))
  }
}
