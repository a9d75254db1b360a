package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{ChunkIndexSpec, SparkSpec}
import graft.operators.Ingest

/** The write layout of [[ChunkIndex.upsert]]: every partition an upsert
  * rewrites lands in the layout [[ChunkIndex.compact]] would give it,
  * and compact leaves partitions that are at their target alone.
  */
class ChunkIndexLayoutSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.01"

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

  /** A fresh index compacted to one file per partition, so any file
    * count above one afterwards is the upsert's.
    */
  private def compactedIndex(dir: String, name: String): String = {
    val out = Files.createTempDirectory(name).toString
    ChunkIndex.write(spark, dir, out)
    ChunkIndex.compact(spark, out, 1)
    assert(dirs(out).values.forall(fileCount(_) == 1))
    out
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
    // the batch's own rows, laid out by the bootstrap write
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
