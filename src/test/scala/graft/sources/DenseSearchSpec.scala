package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Ingest

/** The dense search path: the one-row query embedding
  * ([[Ingest.embedVector]]) against its long-form definition, the
  * Spark jobs a warm [[ChunkIndex.search]] runs, and the bucket choice
  * and scoring against the join-based spelling it replaced.
  */
class DenseSearchSpec extends SparkSpec {
  import spark.implicits._

  private val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.01"

  private lazy val root = ChunkIndex.ensureIndex(spark, sfDir)

  /** Single-token texts grouped by (dim, sign) — the raw material for
    * queries with cancelling signs and with |weight| ties.
    */
  private lazy val tokenFeatures: Map[(Long, Long), Seq[String]] = {
    val toks = (0 until 200).map(i => (i.toLong, s"w$i"))
    Ingest.rawEmbed(toks.toDF("id", "t"), col("id"), col("t")).collect()
      .map(r => ((r.getAs[Long]("dim"), r.getAs[Long]("raw")), s"w${r.getAs[Long]("_id")}"))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq.sorted }
  }

  /** Two tokens of one dim with opposite signs (their sum is 0), and
    * a third token of another dim.
    */
  private lazy val (cancelPair, otherTok): ((String, String), String) = {
    val d = tokenFeatures.keys.collect { case (d, 1L) if tokenFeatures.contains((d, -1L)) => d }.min
    ((tokenFeatures((d, 1L)).head, tokenFeatures((d, -1L)).head),
      tokenFeatures.collectFirst { case ((e, _), ts) if e != d => ts.head }.get)
  }

  /** The long-form definition of one text's embedding (dim, weight). */
  private def longForm(text: String): Seq[(Long, Double)] =
    Ingest.normalizeLongForm(Ingest.rawEmbed(Seq((1L, text)).toDF("q_id", "q_text"),
      col("q_id"), col("q_text")), "q_id")
      .collect().map(r => (r.getAs[Long]("dim"), r.getAs[Double]("weight"))).toSeq.sortBy(_._1)

  /** The join-based search this path replaced: long-form query, its
    * `nProbe` dominant dims probed, a broadcast join on dim.
    */
  private def joinSearch(out: String, text: String, nProbe: Int, k: Int): Seq[String] = {
    val q = longForm(text)
    val buckets = q.sortBy { case (d, w) => (-math.abs(w), d) }.take(nProbe).map(_._1)
    ChunkIndex.searchBuckets(spark, out, buckets)
      .join(broadcast(q.toDF("dim", "qw")), Seq("dim"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Par.round4(sum(col("qw") * col("weight"))).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .collect().map(_.toString).toSeq
  }

  private def jobsDuring(f: => Unit): Int = SparkSpec.jobsDuring(spark)(f)

  test("embedVector equals normalizeLongForm(rawEmbed) bit for bit, sorted by dim") {
    val (a, b) = cancelPair
    val edge = Seq(
      "", null, "spark spark spark join join", s"$a $b", s"$a $b $otherTok",
      "hash  join  table ", "  ", "naïve café 日本語 Ünïcödé 🙂 ß")
    val docs = graft.sources.Tables.documents(spark, sf01).select(col("doc_id"), col("text"))
      .unionByName(edge.zipWithIndex.map { case (t, i) => (1000000000L + i, t) }
        .toDF("doc_id", "text"))
    def bits(rows: Seq[(Long, Long, Double)]): Seq[(Long, Long, Long)] =
      rows.map { case (id, d, w) => (id, d, java.lang.Double.doubleToRawLongBits(w)) }.sorted

    val expected = Ingest.normalizeLongForm(
      Ingest.rawEmbed(docs, col("doc_id"), col("text")), "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dim"), r.getAs[Double]("weight"))).toSeq
    val vectors = docs.select(col("doc_id"), Ingest.embedVector(col("text")).as("v")).collect()
    val got = vectors.toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else r.getSeq[Row](1).map(e => (r.getLong(0), e.getLong(0), e.getDouble(1)))
    }
    assert(vectors.length == 500 + edge.length)
    assert(got.length == expected.length && bits(got) == bits(expected))
    // the edge cases are really exercised: a null text has no vector,
    // and sign-cancelling tokens leave a zero-weight dim in place
    val byId = vectors.map(r => r.getLong(0) -> r).toMap
    assert(byId(1000000001L).isNullAt(1))
    assert(byId(1000000003L).getSeq[Row](1).map(_.getDouble(1)) == Seq(0.0))
    assert(byId(1000000004L).getSeq[Row](1).exists(_.getDouble(1) == 0.0))
    assert(expected.count(_._3 == 0.0) >= 2)
    // each vector lists its dims in strictly increasing order
    assert(vectors.forall(r => r.isNullAt(1) || {
      val ds = r.getSeq[Row](1).map(_.getLong(0)); ds == ds.distinct.sorted }))
  }

  test("a warm search runs at most 2 Spark jobs and its query embed runs none") {
    val text = "hash join table"
    ChunkIndex.search(spark, root, text, 2, 5).collect()
    ChunkIndex.indexSearchDsv2(spark, sfDir).collect()
    assert(jobsDuring(ChunkIndex.queryVector(spark, text)) == 0)
    val direct = jobsDuring(ChunkIndex.search(spark, root, text, 2, 5).collect())
    assert(direct <= 2, s"ChunkIndex.search ran $direct jobs")
    val dsv2 = jobsDuring(ChunkIndex.indexSearchDsv2(spark, sfDir).collect())
    assert(dsv2 <= 2, s"indexSearchDsv2 ran $dsv2 jobs")
  }

  test("bucket choice and scores match the join spelling with zero weights and |qw| ties") {
    val (a, b) = cancelPair
    // ties: tokens of distinct dims, one hit each, so every |qw| is equal
    val ties = tokenFeatures.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1)
      .map(_._2.head._2.head).take(4).mkString(" ")
    val queries = Seq(
      s"$a $b",          // one dim, weight 0 under the zero-norm guard
      s"$a $b $otherTok", // a zero-weight dim beside a real one
      s"hash $a join $b table",
      ties, "hash join table", "spark batch join")
    for (q <- queries; nProbe <- Seq(1, 2, 4)) {
      val got = ChunkIndex.search(spark, root, q, nProbe, 5).collect().map(_.toString).toSeq
      assert(got == joinSearch(root, q, nProbe, 5), s"query '$q', nProbe $nProbe")
    }
    // the all-cancelling query still probes its zero-weight bucket
    assert(ChunkIndex.search(spark, root, s"$a $b", 1, 5).collect().nonEmpty)
  }

  test("a query whose buckets are absent from the manifest, or a null query, returns 0 rows") {
    val out = Files.createTempDirectory("graft_dense_absent").toString
    ChunkIndex.upsert(spark, out, Seq((1L, "hash join table")).toDF("doc_id", "text"))
    val present = ChunkIndex.partitionDirs(spark, out, "embeddings").keySet.map(_.toLong)
    val absent = tokenFeatures.keys.map(_._1).find(d => !present(d)).get
    val text = tokenFeatures.collectFirst { case ((d, _), ts) if d == absent => ts.head }.get
    assert(ChunkIndex.queryVector(spark, text).map(_._1) == Seq(absent))
    assert(ChunkIndex.searchBuckets(spark, out, Seq(absent)).inputFiles.isEmpty)
    assert(ChunkIndex.search(spark, out, text, 1, 5).collect().isEmpty)

    assert(ChunkIndex.queryVector(spark, null).isEmpty)
    assert(ChunkIndex.search(spark, out, null, 2, 5).collect().isEmpty)
    assert(ChunkIndex.search(spark, root, null, 2, 5).collect().isEmpty)
  }

  test("the index tables' known schemas are what the writers lay out") {
    val out = Files.createTempDirectory("graft_dense_schema").toString
    ChunkIndex.write(spark, sfDir, out)
    ChunkIndex.upsert(spark, out, Seq((7L, "fresh doc text")).toDF("doc_id", "text"))
    for ((table, schema) <- ChunkIndex.TableSchemas) {
      val inferred = spark.read.parquet(
        ChunkIndex.partitionDirs(spark, out, table).values.toSeq: _*).schema
      assert(inferred.map(f => (f.name, f.dataType)) == schema.map(f => (f.name, f.dataType)),
        table)
    }
  }
}
