package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{ChunkIndexSpec, SparkSpec}
import graft.operators.Ingest

/** The one write path of the index ([[ChunkIndex.write]] is an
  * [[ChunkIndex.upsert]] into a root with no commit): every partition a
  * build or an upsert writes lands in the layout [[ChunkIndex.compact]]
  * would give it, compact leaves partitions that are at their target
  * alone, and a vacated table is no manifest entry at all.
  */
class ChunkIndexLayoutSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.01"
  private val sf1 = s"${new java.io.File(sfDir).getParent}/sf0.1"

  private def fileCount(dir: String): Int = ChunkIndexSpec.fileCount(spark, dir)

  private def dirs(root: String): Map[(String, String), String] =
    Seq("chunks", "embeddings").flatMap(t =>
      ChunkIndex.partitionDirs(spark, root, t).map { case (p, d) => (t, p) -> d }).toMap

  /** Partitions whose dir changed between two states of the index. */
  private def rewritten(before: Map[(String, String), String],
      after: Map[(String, String), String]): Map[(String, String), String] =
    after.filter { case (k, d) => !before.get(k).contains(d) }

  private def bytesOf(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")).map(_.getLen).sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The dominant dim of a text's embedding — the bucket it lands in. */
  private def bucketOf(text: String): Long = {
    val e = Ingest.embedOf(spark.createDataFrame(Seq((0L, text))).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("dim"), r.getAs[Double]("weight")))
    e.minBy { case (d, w) => (-math.abs(w), d) }._1
  }

  /** A fresh index: the build already writes one file per partition,
    * so compact finds nothing, and any file count above one afterwards
    * is the upsert's.
    */
  private def compactedIndex(dir: String, name: String): String = {
    val out = Files.createTempDirectory(name).toString
    ChunkIndex.write(spark, dir, out)
    assert(ChunkIndex.compact(spark, out, 1) === 0)
    assert(dirs(out).values.forall(fileCount(_) == 1))
    out
  }

  test("a build writes each partition as one file: compact finds nothing at sf0.01 and sf0.1") {
    Seq(sf01, sf1).foreach(compactedIndex(_, "graft_layout_build"))
  }

  test("a build, and an upsert larger than its base, split a bucket past the target") {
    val docs = Tables.documents(spark, sf01).select("doc_id", "text")
    // a target of a quarter of the largest bucket's bytes in one file
    val small = dirs(compactedIndex(sf01, "graft_layout_ref"))
      .collect { case (("embeddings", _), d) => bytesOf(d) }.max / 4
    val empty = Files.createTempDirectory("graft_layout_sized_build").toString
    val base = Files.createTempDirectory("graft_layout_sized_base").toString
    ChunkIndex.upsert(spark, base, docs.orderBy("doc_id").limit(10)
      .select(col("doc_id"), concat(lit("stale text of doc "), col("doc_id").cast("string")).as("text")))
    for (out <- Seq(empty, base)) {
      ChunkIndex.upsert(spark, out, docs, small)
      val big = dirs(out).collect { case (("embeddings", _), d) => d }.maxBy(bytesOf)
      assert(fileCount(big) >= 2, s"$out: largest bucket written as one file")
      assert(rows(ChunkIndex.readEmbeddings(spark, out).drop("bucket")) ===
        rows(Ingest.embedOf(docs)))
      assert(rows(ChunkIndex.readChunks(spark, out).drop("shard")) ===
        rows(Ingest.chunksOf(docs)))
      assert(ChunkIndex.compact(spark, out, 1, small) === 0)
    }
  }

  test("write onto a root that already has a commit throws and leaves the build as it was") {
    val out = Files.createTempDirectory("graft_layout_twice").toString
    ChunkIndex.write(spark, sfDir, out)
    val before = (rows(ChunkIndex.readChunks(spark, out)), rows(ChunkIndex.readEmbeddings(spark, out)))
    val data = new java.io.File(out, "data").list().toSet
    val e = intercept[IllegalStateException](ChunkIndex.write(spark, sf01, out))
    assert(e.getMessage.contains(out), e.getMessage)
    assert(new java.io.File(out, "data").list().toSet === data, "the refused write left data")
    assert(ManifestStore.current(spark, out).map(_.seq) === Some(1L))
    assert((rows(ChunkIndex.readChunks(spark, out)), rows(ChunkIndex.readEmbeddings(spark, out))) ===
      before)
  }

  test("an upsert that vacates a table leaves it no entry; reads are empty, the next upsert refills") {
    import spark.implicits._
    // a null text has no chunks and no embedding; an empty text has no
    // chunks, but splits into one empty token, which embeds
    for ((text, vacated) <- Seq[(String, Set[String])](
        (null, Set("chunks", "embeddings")), ("", Set("chunks")))) {
      val out = Files.createTempDirectory("graft_layout_vacate").toString
      ChunkIndex.upsert(spark, out, Seq((5L, "hash join table")).toDF("doc_id", "text"))
      val batch = Seq[(Long, String)]((5L, text)).toDF("doc_id", "text")
      ChunkIndex.upsert(spark, out, batch)
      assert(dirs(out).keySet.map(_._1) === Set("chunks", "embeddings") -- vacated, s"text '$text'")
      for (t <- vacated) {
        val df = if (t == "chunks") ChunkIndex.readChunks(spark, out) else ChunkIndex.readEmbeddings(spark, out)
        assert(df.schema === ChunkIndex.TableSchemas(t) && df.count() === 0, t)
        assert(spark.read.format("graft-index").option("table", t).load(out).count() === 0, t)
      }
      if (vacated.contains("embeddings")) {
        assert(spark.read.format("graft-index").option("table", "embeddings")
          .option("buckets", "0,1,2").load(out).count() === 0)
        assert(ChunkIndex.search(spark, out, "hash join table", 2, 5).collect().isEmpty)
      } else assert(rows(ChunkIndex.readEmbeddings(spark, out).drop("bucket")) ===
        rows(Ingest.embedOf(batch)))
      ChunkIndex.upsert(spark, out, Seq((5L, "spark batch join")).toDF("doc_id", "text"))
      assert(ChunkIndex.readChunks(spark, out).select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(5L))
      assert(ChunkIndex.search(spark, out, "spark batch join", 2, 5).collect()
        .map(_.getAs[Long]("doc_id")).toSeq === Seq(5L))
    }
  }

  /** The merged plan runs once per table, in its write: no emptiness
    * check runs it first.
    */
  test("a warm one-document upsert on the sf0.01 index runs at most 16 Spark jobs") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_layout_jobs").toString
    ChunkIndex.write(spark, sf01, out)
    ChunkIndex.upsert(spark, out, Seq((3L, "a warm up batch")).toDF("doc_id", "text"))
    val n = SparkSpec.jobsDuring(spark)(
      ChunkIndex.upsert(spark, out, Seq((4L, "one document upsert")).toDF("doc_id", "text")))
    assert(n <= 16, s"a one-document upsert ran $n jobs")
  }

  test("upsert at sf0.01 writes each touched partition as one file; compact finds nothing") {
    val out = compactedIndex(sf01, "graft_layout_idx")
    val before = dirs(out)
    val ids = spark.read.parquet(s"$sf01/documents.parquet").select("doc_id")
      .orderBy("doc_id").limit(10).collect().map(_.getLong(0))
    val batch = spark.createDataFrame(
      ids.toSeq.map(id => (id, s"rewritten crawl doc $id about spark joins")) ++
        (1 to 10).map(i => (3000000L + i, s"new crawl doc $i about vector search")))
      .toDF("doc_id", "text")
    ChunkIndex.upsert(spark, out, batch)
    val written = rewritten(before, dirs(out))
    assert(written.keySet.map(_._1) === Set("chunks", "embeddings"))
    written.foreach { case ((t, p), d) =>
      assert(fileCount(d) === 1, s"upsert left $t/$p in ${fileCount(d)} files")
    }
    assert(ChunkIndex.compact(spark, out, 1) === 0)
  }

  test("upsert content: replaced docs' old rows gone, fresh rows present, a moved doc leaves no stale rows") {
    val out = Files.createTempDirectory("graft_layout_rows").toString
    ChunkIndex.write(spark, sf01, out)
    val chunksBefore = ChunkIndex.readChunks(spark, out)
    val embBefore = ChunkIndex.readEmbeddings(spark, out)
    // a replaced doc whose new text lands in another bucket
    val moved = 7L
    val oldBucket = embBefore.where(col("doc_id") === moved).select("bucket")
      .distinct().collect().map(_.getInt(0).toLong).toSeq
    assert(oldBucket.size == 1)
    val text = Seq("zebra quokka", "walrus ocelot", "lantern harbor", "copper meadow")
      .find(t => bucketOf(t) != oldBucket.head).get
    val batch = spark.createDataFrame(Seq((moved, text), (11L, "rewritten doc eleven"),
      (4000001L, "brand new doc"))).toDF("doc_id", "text")
    val ids = batch.select("doc_id")
    // the batch's own rows, written into an empty root
    val alone = Files.createTempDirectory("graft_layout_alone").toString
    ChunkIndex.upsert(spark, alone, batch)
    val expectChunks = rows(chunksBefore.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(ChunkIndex.readChunks(spark, alone)))
    val expectEmb = rows(embBefore.join(ids, Seq("doc_id"), "left_anti")
      .unionByName(ChunkIndex.readEmbeddings(spark, alone)))

    ChunkIndex.upsert(spark, out, batch)
    assert(rows(ChunkIndex.readChunks(spark, out)) === expectChunks)
    assert(rows(ChunkIndex.readEmbeddings(spark, out)) === expectEmb)
    val movedNow = ChunkIndex.readEmbeddings(spark, out).where(col("doc_id") === moved)
    assert(movedNow.select("bucket").distinct().collect().map(_.getInt(0).toLong).toSeq ===
      Seq(bucketOf(text)))
    val oldDir = ChunkIndex.partitionDirs(spark, out, "embeddings")(oldBucket.head.toString)
    assert(spark.read.parquet(oldDir).where(col("doc_id") === moved).count() === 0,
      "the moved doc left rows in its old bucket")
  }

  test("one streamingUpsert micro-batch leaves no fragmented partition") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = compactedIndex(sfDir, "graft_layout_stream")
    val before = dirs(out)
    val input = MemoryStream[(Long, String)]
    val q = ChunkIndex.streamingUpsert(input.toDS().toDF("doc_id", "text"), out)
      .option("checkpointLocation", s"$out/checkpoint")
      .start()
    try {
      input.addData((1L to 12L).map(i => (i * 37, s"streamed crawl doc $i text")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val written = rewritten(before, dirs(out))
    assert(written.nonEmpty)
    written.foreach { case ((t, p), d) =>
      assert(fileCount(d) === 1, s"micro-batch left $t/$p in ${fileCount(d)} files")
    }
    assert(ChunkIndex.compact(spark, out, 1) === 0)
  }

  test("compact carries a partition at or under its target count; the pass is idempotent") {
    val out = compactedIndex(sfDir, "graft_layout_target")
    ChunkIndexSpec.fragment(spark, out, "chunks", "1", 4)
    val before = dirs(out)
    val frag = before(("chunks", "1"))
    // a target that puts the fragmented shard at 4+ files: it gains
    // nothing from a rewrite, though it holds more than one file
    val small = math.max(1L, bytesOf(frag) / 4)
    assert(ChunkIndex.targetFileCount(bytesOf(frag), small) >= 4)
    assert(ChunkIndex.compact(spark, out, 1, small) === 0)
    assert(dirs(out) === before)
    // under the real target it is one file's worth: rewritten once, then left
    assert(ChunkIndex.compact(spark, out, 1) === 1)
    assert(fileCount(dirs(out)(("chunks", "1"))) === 1)
    assert(ChunkIndex.compact(spark, out, 1) === 0)
  }

  test("upsert splits a partition larger than the target into its target count of files") {
    val out = compactedIndex(sfDir, "graft_layout_split")
    val before = dirs(out)
    val (big, bigDir) = before.filter(_._1._1 == "embeddings").maxBy(kv => bytesOf(kv._2))
    val small = math.max(1L, bytesOf(bigDir) / 3)
    val n = ChunkIndex.targetFileCount(bytesOf(bigDir), small)
    assert(n >= 3)
    // replace some of the big bucket's docs with their own text, so the
    // upsert rewrites that partition with the same rows
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val inBig = spark.read.parquet(bigDir).select("doc_id").distinct().limit(3)
    ChunkIndex.upsert(spark, out,
      docs.join(inBig, Seq("doc_id")).select("doc_id", "text"), small)
    val after = dirs(out)
    val d = after(big)
    assert(d !== bigDir, "the big bucket was not rewritten")
    assert(fileCount(d) >= 2 && fileCount(d) <= n,
      s"big bucket written as ${fileCount(d)} files, target $n")
    assert(rows(spark.read.parquet(d)) === rows(spark.read.parquet(bigDir)))
    // every rewritten partition is at its target: compact agrees
    rewritten(before, after).foreach { case ((t, p), dir) =>
      assert(fileCount(dir) <= ChunkIndex.targetFileCount(bytesOf(dir), small), s"$t/$p")
    }
    assert(ChunkIndex.compact(spark, out, 1, small) === 0)
  }
}
