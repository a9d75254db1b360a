package graft

import org.apache.spark.sql.functions._

import graft.sources.{ChunkIndex, IndexCatalog}

/** The DSv2 surface over the persisted index: format("graft-index")
  * round-trips the manifest snapshot, pushes filters and prunes
  * columns at the parquet scan, and the catalog plugin serves plain
  * SQL read-only.
  */
class IndexSourceSpec extends SparkSpec {

  private lazy val root = ChunkIndex.ensureIndex(spark, sfDir)

  test("format(graft-index) round-trips both manifest tables") {
    for (t <- Seq("chunks", "embeddings")) {
      val viaSource = spark.read.format("graft-index")
        .option("table", t).load(root)
      val direct =
        if (t == "chunks") ChunkIndex.readChunks(spark, root)
        else ChunkIndex.readEmbeddings(spark, root)
      assert(viaSource.columns.sorted.sameElements(direct.columns.sorted), t)
      assert(viaSource.count() == direct.count(), t)
      assert(viaSource.exceptAll(direct.select(viaSource.columns.map(col).toIndexedSeq: _*))
        .isEmpty, s"$t content diverged")
    }
  }

  test("default table is chunks; unknown table and missing index are loud") {
    assert(spark.read.format("graft-index").load(root).columns.contains("chunk_text"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-index").option("table", "nope").load(root)
    }
    intercept[java.io.FileNotFoundException] {
      spark.read.format("graft-index").load("/tmp/graft_no_such_index")
    }
  }

  test("filters push down and columns prune at the parquet scan") {
    val q = spark.read.format("graft-index").option("table", "embeddings")
      .load(root)
      .where(col("bucket") === 3 && col("weight") > 0.0)
      .select(col("doc_id"), col("weight"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("IsNotNull(bucket)"), plan)
    assert(plan.contains("EqualTo(bucket,3)"), plan)
    // pruned read schema: the probed columns plus the filter columns only
    assert(!plan.contains("dim:"), s"column pruning failed:\n$plan")
    // and the result matches the library read path
    val expect = ChunkIndex.readEmbeddings(spark, root)
      .where(col("bucket") === 3 && col("weight") > 0.0).count()
    assert(q.count() == expect)
  }

  test("buckets option prunes the file list at the manifest layer") {
    val full = spark.read.format("graft-index")
      .option("table", "embeddings").load(root)
    val probed = Seq(3L, 7L)
    val pruned = spark.read.format("graft-index")
      .option("table", "embeddings")
      .option("buckets", probed.mkString(","))
      .load(root)
    // the DIRECT witness of dir-level pruning: the pruned table's
    // file list is a strict subset, and every file sits in a probed
    // partition's directory
    val fullFiles = full.inputFiles.toSet
    val prunedFiles = pruned.inputFiles.toSet
    assert(prunedFiles.nonEmpty && prunedFiles.subsetOf(fullFiles))
    assert(prunedFiles.size < fullFiles.size,
      "buckets option did not drop any directory from the file list")
    assert(prunedFiles.forall(f => probed.exists(b => f.contains(s"_p=$b"))),
      s"unprobed directory in pruned file list: ${prunedFiles.take(3)}")
    // content parity with the library's direct bucket read
    val direct = ChunkIndex.searchBuckets(spark, root, probed)
    assert(pruned.where(col("bucket").isin(probed: _*)).count() == direct.count())
    // a probe set with no committed partition still reads (the known
    // schema over no dir) and filters to zero rows
    assert(spark.read.format("graft-index")
      .option("table", "embeddings").option("buckets", "999")
      .load(root).where(col("bucket") === 999L).count() == 0L)
    // buckets on the chunks table is a loud contract error
    intercept[IllegalArgumentException] {
      spark.read.format("graft-index")
        .option("table", "chunks").option("buckets", "3").load(root)
    }
  }

  test("indexSearchDsv2 matches indexSearch row-for-row") {
    val viaDsv2 = graft.sources.ChunkIndex.indexSearchDsv2(spark, sfDir)
      .collect().map(_.toString).toSeq
    val direct = graft.sources.ChunkIndex.indexSearch(spark, sfDir)
      .collect().map(_.toString).toSeq
    assert(viaDsv2.nonEmpty && viaDsv2 == direct)
  }

  test("catalog plugin: SQL over the index, mutation rejected") {
    spark.conf.set("spark.sql.catalog.gidx", classOf[IndexCatalog].getName)
    spark.conf.set("spark.sql.catalog.gidx.root", root)
    val viaSql = spark.sql(
      "SELECT shard, count(*) AS n FROM gidx.chunks GROUP BY shard ORDER BY shard")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val direct = ChunkIndex.readChunks(spark, root)
      .groupBy(col("shard")).agg(count(lit(1)).as("n")).orderBy(col("shard"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(viaSql.sameElements(direct))
    val e = intercept[Exception] {
      spark.sql("DROP TABLE gidx.chunks")
    }
    assert(e.getMessage.toLowerCase.contains("read-only"), e.getMessage)
    // an unknown table is TABLE_OR_VIEW_NOT_FOUND (catalog contract),
    // not a raw IllegalArgumentException out of analysis
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM gidx.typo").collect()
    }
    assert(nf.getMessage.contains("typo"), nf.getMessage)
  }

  test("snapshot isolation: a table resolved before an upsert keeps its file list") {
    import spark.implicits._
    val tmpRoot = java.nio.file.Files.createTempDirectory("gidx_snap").toString
    ChunkIndex.upsert(spark, tmpRoot,
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")).toDF("doc_id", "text"))
    val before = spark.read.format("graft-index").option("table", "chunks").load(tmpRoot)
    val nBefore = before.count()
    ChunkIndex.upsert(spark, tmpRoot,
      Seq((3L, "eta theta iota"), (4L, "kappa lambda mu")).toDF("doc_id", "text"))
    // the pre-upsert frame still reads the old snapshot's dirs
    assert(before.count() == nBefore)
    // a fresh resolution sees the new commit
    val after = spark.read.format("graft-index").option("table", "chunks").load(tmpRoot)
    assert(after.select("doc_id").distinct().count() == 4)

    // time travel: seq 1 still serves the pre-upsert state by option
    val travel = spark.read.format("graft-index")
      .option("table", "chunks").option("snapshot", "1").load(tmpRoot)
    assert(travel.select("doc_id").distinct().count() == 2)
    // vacuum reclaims history: the old snapshot is then loudly gone
    ChunkIndex.vacuum(spark, tmpRoot)
    intercept[java.io.FileNotFoundException] {
      spark.read.format("graft-index")
        .option("table", "chunks").option("snapshot", "1").load(tmpRoot).count()
    }
    assert(spark.read.format("graft-index").option("table", "chunks")
      .load(tmpRoot).select("doc_id").distinct().count() == 4)
  }
}
