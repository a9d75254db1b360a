package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.TopK
import graft.operators.KeywordSearch
import graft.sources.Tables

/** BM25 posting-join retrieval (KeywordSearch.bm25): scoring wiring
  * against an independent driver-side computation, idf/rarity
  * semantics, and input validation. Cross-engine bitwise parity is
  * the correctness gate's job (keyword_bm25 oracle row).
  */
class KeywordSearchSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "apple cherry"),
    (3L, "banana banana banana banana"),
    (4L, "date fig")
  ).toDF("doc_id", "text")

  private val queries = Seq((1L, "apple banana")).toDF("q_id", "q_text")

  /** The same formula computed independently on the driver. */
  private def bm25Ref(tf: Long, df: Long, dl: Long,
      nDocs: Long, sumDl: Long, k1: Double = 1.2, b: Double = 0.75): Double = {
    val avgdl = sumDl.toDouble / nDocs
    val idf = (nDocs - df + 0.5) / (df + 0.5)
    idf * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl)))
  }

  test("bm25 matches a driver-side computation on a fixture corpus") {
    // N=4, sum_dl=11; df(apple)=2, df(banana)=2
    val got = KeywordSearch.bm25(docs, "doc_id", "text", queries, "q_id", "q_text")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val exp = Map(
      1L -> r4(bm25Ref(2, 2, 3, 4, 11) + bm25Ref(1, 2, 3, 4, 11)), // apple×2, banana×1
      2L -> r4(bm25Ref(1, 2, 2, 4, 11)),                           // apple×1
      3L -> r4(bm25Ref(4, 2, 4, 4, 11)))                           // banana×4
    assert(got === exp)
  }

  test("bm25 ranks: repeated-term doc saturates below the two-term doc") {
    val rk = KeywordSearch.bm25(docs, "doc_id", "text", queries, "q_id", "q_text")
      .orderBy(col("rk")).collect().map(_.getLong(1)).toSeq
    // doc 1 matches both terms; doc 3's four bananas saturate (k1)
    assert(rk.head === 1L)
    assert(rk.toSet === Set(1L, 2L, 3L))   // doc 4 matches nothing
  }

  test("bm25 weights rare terms above common ones") {
    val d = Seq((1L, "x common"), (2L, "y common"), (3L, "z common"),
      (4L, "w rare")).toDF("doc_id", "text")
    val q = Seq((1L, "common rare")).toDF("q_id", "q_text")
    val top = KeywordSearch.bm25(d, "doc_id", "text", q, "q_id", "q_text")
      .where(col("rk") === 1).collect().head.getLong(1)
    assert(top === 4L, "df=1 term must outweigh df=3 term at equal tf/dl")
  }

  test("bm25 honors k and the per-query grouping") {
    val out = KeywordSearch.bm25(docs, "doc_id", "text",
      Seq((1L, "apple banana"), (2L, "cherry")).toDF("q_id", "q_text"),
      "q_id", "q_text", k = 2)
    val byQ = out.collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byQ === Map(1L -> 2, 2L -> 1))
  }

  test("bm25 rejects colliding output columns") {
    intercept[IllegalArgumentException] {
      KeywordSearch.bm25(docs, "score", "text", queries, "q_id", "q_text")
    }
    intercept[IllegalArgumentException] {
      KeywordSearch.bm25(docs, "doc_id", "text", queries, "doc_id", "q_text")
    }
  }

  test("driver-side bm25 shard derivation matches the Column spelling token-for-token") {
    import spark.implicits._
    // the standard query tokens plus a few arbitrary ones: the literal
    // twin must agree with the md5Long-based Column rule bit-for-bit,
    // or the static partition filter would prune the wrong shards
    val toks = KeywordSearch.StandardQueryTexts.flatMap(_.split(" ")) ++
      Seq("zebra", "Ωmega", "", "a", "hash")
    val sparkSide = toks.toDF("t")
      .select(KeywordSearch.bm25Shard(org.apache.spark.sql.functions.col("t")).as("s"))
      .as[Long].collect().toSeq
    assert(sparkSide == toks.map(KeywordSearch.bm25ShardOf),
      s"driver/Column shard mismatch on $toks")
    // END-TO-END: the static shard set equals the shards of the ACTUAL
    // qtok frame keywordBm25 builds (tokens() + array_distinct +
    // explode over standardQueries) — covers query-list drift AND
    // tokenization-rule drift, not just the hash function
    import org.apache.spark.sql.functions.{array_distinct, col, explode}
    val qtokShards = KeywordSearch.standardQueries(spark)
      .select(explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("q_text")))).as("t"))
      .select(KeywordSearch.bm25Shard(col("t")).as("s"))
      .distinct().as[Long].collect().toSeq.sorted
    assert(qtokShards == KeywordSearch.standardQueryShards,
      "static shard set diverged from the live qtok frame's shards")
  }

  test("staged-index keyword_bm25 scores identically to the ad-hoc bm25 form") {
    val adhoc = KeywordSearch.bm25(
      graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      "doc_id", "text",
      Seq((1L, KeywordSearch.Query), (2L, "stream window agg")).toDF("q_id", "q_text"),
      "q_id", "q_text")
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    val staged = KeywordSearch.keywordBm25(spark, sfDir).collect().toSeq
    assert(staged === adhoc,
      "full-corpus df restricted to the vocabulary must equal vocab-pruned df")
  }

  test("bm25 excludes NULL-text docs from the corpus statistics") {
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val a = KeywordSearch.bm25(docs, "doc_id", "text", queries, "q_id", "q_text")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val b = KeywordSearch.bm25(withNull, "doc_id", "text", queries, "q_id", "q_text")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, "a NULL-text doc must not shift N/avgdl")
  }

  /** (doc, score) in rank order of the fixture query over `d`. */
  private def ranked(d: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    KeywordSearch.bm25(d, "doc_id", "text", queries, "q_id", "q_text")
      .orderBy(col("rk")).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq

  test("bm25 serves a repeat call over the same corpus from the session memo") {
    def corpus = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "banana banana banana banana"), (4L, "date fig"),
      (5L, "memo")).toDF("doc_id", "text")
    val cold = DfCache.memoComputes
    val first = KeywordSearch.bm25(corpus, "doc_id", "text", queries, "q_id", "q_text")
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(DfCache.memoComputes > cold, "a new corpus did not build its memo")
    val before = DfCache.memoComputes
    // an equal corpus built anew: the memo is keyed by plan, not by frame
    val again = KeywordSearch.bm25(corpus, "doc_id", "text",
      Seq((7L, "apple banana")).toDF("q_id", "q_text"), "q_id", "q_text")
      .orderBy(col("q_id"), col("rk")).collect().toSeq
    assert(DfCache.memoComputes === before, "the corpus side was recomputed")
    assert(again.map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))) ===
      first.map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))))
  }

  test("bm25 scores a parquet corpus rewritten mid-session from its new rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_docs").resolve("docs").toString
    docs.write.parquet(dir)
    assert(ranked(spark.read.parquet(dir)) === ranked(docs))
    val rewritten = Seq((5L, "banana"), (6L, "apple apple cherry"), (7L, "fig"))
      .toDF("doc_id", "text")
    rewritten.write.mode("overwrite").parquet(dir)
    val after = ranked(spark.read.parquet(dir))
    assert(after.map(_._1).toSet === Set(5L, 6L), "stale postings served after the rewrite")
    assert(after === ranked(rewritten))
  }

  test("bm25 keeps interleaved corpora apart") {
    val other = Seq((1L, "x common"), (2L, "y common"), (3L, "apple rare"),
      (4L, "w banana")).toDF("doc_id", "text")
    val a1 = ranked(docs); val b1 = ranked(other)
    val a2 = ranked(docs); val b2 = ranked(other)
    assert(a1 === a2 && b1 === b2)
    assert(a1.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(b1.map(_._1).toSet === Set(3L, 4L))
    assert(a1 !== b1)
  }

  test("bm25 scores a non-deterministic corpus without memoizing it") {
    val before = DfCache.memoComputes
    val got = ranked(docs.where(rand(7) >= 0.0))   // keeps every row, plan is non-deterministic
    assert(DfCache.memoComputes === before)
    assert(got === ranked(docs))
  }

  test("hybrid_rrf equals a driver-side fusion of the two systems' ranks") {
    def ranksOf(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id")) -> r.getAs[Long]("rk")).toMap
    val bm = ranksOf(KeywordSearch.keywordBm25(spark, sfDir).collect())
    val kn = ranksOf(graft.operators.VectorSearch.knnText(spark, sfDir).collect())
    val want = (bm.keySet ++ kn.keySet).map { k =>
      val s = bm.get(k).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        kn.get(k).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      k -> math.floor(s * 10000 + 0.5) / 10000
    }.toMap
    val got = KeywordSearch.hybridRrf(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))
      assert(r.getAs[Double]("rrf") == want(k), s"$k")
    }
    // the fused top-5 is the score-order head of the union
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rs) =>
      // .toSeq BEFORE collect: collecting a Map into (score, doc)
      // pairs would re-key by score and silently drop ties
      val top = want.toSeq.collect { case ((qq, d), s) if qq == q => (s, d) }
        .sortBy { case (s, d) => (-s, d) }.take(rs.length).map(_._2)
      assert(rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Long]("doc_id")).toSeq == top, s"q=$q")
    }
  }

  test("a warm bm25 call over a local one-query frame runs one Spark job") {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def call(): Unit = KeywordSearch.bm25(d, "doc_id", "text",
      Seq((0L, KeywordSearch.Query)).toDF("q_id", "q_text"), "q_id", "q_text").collect()
    call()   // builds the corpus memo
    val jobs = SparkSpec.jobsDuring(spark)(call())
    assert(jobs <= 1, s"a warm call ran $jobs jobs")
  }

  /** The replaced query side and top-k, kept as the reference: the
    * query tokens broadcast-joined against the same corpus memo, the
    * per-query top-k through the TopKAgg shuffle.
    */
  private def bm25Joined(d: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val (k1, b) = (KeywordSearch.Bm25K1, KeywordSearch.Bm25B)
    val qtok = q.select(col("q_id").as("_qid"),
      explode(array_distinct(tokens(col("q_text")))).as("_tok"))
    val avgdl = col("_sum_dl").cast("double") / col("_n_docs")
    val idf = (col("_n_docs") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))
    val tfNorm = (col("_tf") * lit(k1 + 1.0)) /
      (col("_tf") + lit(k1) * (lit(1.0 - b) + (lit(b) * col("_dl")) / avgdl))
    KeywordSearch.bm25Corpus(d, "doc_id", "text").join(broadcast(qtok), "_tok")
      .select(col("_qid"), col("_did"), col("_tok"), (idf * tfNorm).as("_term"))
      .groupBy(col("_qid"), col("_did"))
      .agg(collect_list(struct(col("_tok"), col("_term"))).as("_ts"))
      .select(col("_qid"), col("_did"),
        graft.functions.Par.round4(aggregate(
          transform(array_sort(col("_ts")), s => s.getField("_term")),
          lit(0.0), (a, x) => a + x)).as("_score"))
      .groupBy(col("_qid"))
      .agg(TopK.topK(k)(col("_score"), col("_did")).as("_top"))
      .select(col("_qid"), posexplode(col("_top")).as(Seq("_i", "_hit")))
      .select(col("_qid").as("q_id"), col("_hit.id").as("doc_id"),
        col("_hit.score").as("score"), (col("_i") + 1).cast("long").as("rk"))
  }

  test("bm25 equals the broadcast-join + TopKAgg spelling, bit for bit") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val d = Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    // shared tokens (a/b/g), a token repeated in one query (c), no
    // match (d), null text (e), "" (f: tokenizes to [""]), and a q_id
    // on two rows (g), whose rows' tokens pool — "table" twice
    val texts = Seq("a" -> "join hash table", "b" -> "hash join", "c" -> "stream stream window agg",
      "d" -> "zzz qqq", "e" -> null, "f" -> "", "g" -> "table", "g" -> "window agg table")
    val byString = texts.toDF("q_id", "q_text")
    val byLong = byString.select((ascii(col("q_id")) - 96).cast("long").as("q_id"), col("q_text"))
    def rows(df: DataFrame) = df.collect().toSeq
      .map(r => (String.valueOf(r.get(0)), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      .sorted
    // "" tokenizes to [""]: it matches only a text with an empty
    // token, which sf0.01 has none of; a double space makes one
    val blank = 10000000L
    val dBlank = d.unionByName(Seq((blank, "hash  join")).toDF("doc_id", "text"))
    // k = 600 exceeds every query's matches (the corpora hold ≤ 501 docs)
    for (c <- Seq(d, dBlank); q <- Seq(byString, byLong); k <- Seq(5, 600)) {
      val got = KeywordSearch.bm25(c, "doc_id", "text", q, "q_id", "q_text", k)
      val want = bm25Joined(c, q, k)
      assert(got.dtypes.toSeq === want.dtypes.toSeq)
      val (g, w) = (rows(got), rows(want))
      assert(g.nonEmpty && g === w, s"k=$k q_id ${q.schema.head.dataType}")
      val qs = g.map(_._1).toSet
      assert(!qs.exists(Set("d", "e", "4", "5")), s"unmatched queries scored: $qs")
      val empty = g.filter(r => r._1 == "f" || r._1 == "6").map(_._2)
      assert(empty === (if (c eq dBlank) Seq(blank) else Nil))
    }
  }
}
