package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Ingest
import graft.sources.ChunkIndex

class ChunkIndexSpec extends SparkSpec {

  test("index round-trips and bucket search is partition-pruned") {
    val out = Files.createTempDirectory("graft_index").toString
    ChunkIndex.write(spark, sfDir, out)

    // metadata sidecar round-trips exactly
    val chunksBack = ChunkIndex.readChunks(spark, out)
    assert(chunksBack.count() == Ingest.docChunk(spark, sfDir).count())

    // every embedding row lands in exactly one bucket; content survives
    val embBack = ChunkIndex.readEmbeddings(spark, out)
    assert(embBack.count() == Ingest.docEmbed(spark, sfDir).count())
    val perDoc = embBack.groupBy(col("doc_id"))
      .agg(countDistinct(col("bucket")).as("nb")).collect()
    assert(perDoc.forall(_.getAs[Long]("nb") == 1L))

    // probing two buckets must read ONLY their directories — the
    // manifest turns pruning into explicit path selection, so the
    // scan's input files are the proof
    val probed = ChunkIndex.searchBuckets(spark, out, Seq(0L, 1L))
    probed.collect()
    val dirs = probed.inputFiles.map(f => new java.io.File(f).getParentFile.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf(Set("_p=0", "_p=1")),
      s"probe read outside the probed buckets' dirs: $dirs")
    val allDirs = ChunkIndex.readEmbeddings(spark, out).inputFiles
      .map(f => new java.io.File(f).getParentFile.getName).toSet
    assert(dirs.size < allDirs.size, "probe read the whole table")
    // the bucket key survives as a data column in the selected dirs
    val buckets = probed.select("bucket").distinct().collect()
      .map(_.get(0).toString.toLong).toSet
    assert(buckets.subsetOf(Set(0L, 1L)))
  }

  test("ensureIndex builds once and is idempotent across calls") {
    // isolated staging root: the build path must actually run here,
    // regardless of what previous JVMs left under target/staging
    val root = Files.createTempDirectory("graft_staging").toString
    System.setProperty("graft.staging", root)
    try {
      val p1 = ChunkIndex.ensureIndex(spark, sfDir)
      assert(p1.startsWith(root), "test staging root not honored")
      val done = new java.io.File(p1, "_GRAFT_INDEX_DONE")
      assert(done.exists(), "published index missing completeness marker")
      // a rebuild republishes the whole dir — a planted canary detects
      // it robustly (mtime granularity can hide a same-second rebuild)
      val canary = new java.io.File(p1, "_canary")
      assert(canary.createNewFile())
      val p2 = ChunkIndex.ensureIndex(spark, sfDir)
      assert(p2 == p1, "fingerprinted path changed without input change")
      assert(canary.exists(), "second call rebuilt the index")
      // the published dir must not contain a nested tmp build
      assert(!new java.io.File(p1).listFiles().exists(_.getName.contains(".tmp-")),
        "tmp build nested inside the published index")
      val hits = ChunkIndex.indexSearch(spark, sfDir).collect()
      assert(hits.nonEmpty && hits.length <= 5)
    } finally System.clearProperty("graft.staging")
  }

  test("compact: fragmented partitions rewritten, others byte-identical, search unchanged") {
    val out = Files.createTempDirectory("graft_compact_idx").toString
    ChunkIndex.write(spark, sfDir, out)
    // upserts write each partition they touch already compacted ...
    Seq(1000001L, 1000009L, 1000017L).foreach { id =>   // all shard 1
      val batch = spark.createDataFrame(Seq((id, s"fresh crawl doc $id text")))
        .toDF("doc_id", "text")
      ChunkIndex.upsert(spark, out, batch)
    }
    // ... so fragment live partitions the way a writer that does not
    // size its output would: one shard and one bucket as several files
    ChunkIndexSpec.fragment(spark, out, "chunks", "1", 3)
    ChunkIndexSpec.fragment(spark, out, "embeddings",
      ChunkIndex.partitionDirs(spark, out, "embeddings").keys.min, 3)

    def fileCount(dir: String): Int = ChunkIndexSpec.fileCount(spark, dir)
    val dirsBefore = Seq("chunks", "embeddings")
      .map(t => t -> ChunkIndex.partitionDirs(spark, out, t)).toMap
    val countsBefore = dirsBefore.map { case (t, m) =>
      t -> m.map { case (p, d) => p -> fileCount(d) } }

    // a no-op threshold: nothing rewritten, no new manifest
    assert(ChunkIndex.compact(spark, out, maxFilesPerPartition = 10000) === 0)
    assert(Seq("chunks", "embeddings").forall(t =>
      ChunkIndex.partitionDirs(spark, out, t) === dirsBefore(t)))

    val searchBefore = ChunkIndex.search(spark, out, "spark batch join", 2, 5).collect()
    val chunksBefore = ChunkIndex.readChunks(spark, out).collect()
      .map(_.toString).sorted
    val embBefore = ChunkIndex.readEmbeddings(spark, out).collect()
      .map(_.toString).sorted

    // real pass: every partition with > 1 data file is rewritten
    val expected = countsBefore.values.map(_.count(_._2 > 1)).sum
    assert(expected > 0, s"test corpus wrote no fragmented partition: $countsBefore")
    val n = ChunkIndex.compact(spark, out, maxFilesPerPartition = 1)
    assert(n === expected)

    Seq("chunks", "embeddings").foreach { t =>
      val after = ChunkIndex.partitionDirs(spark, out, t)
      assert(after.keySet === dirsBefore(t).keySet)   // pure layout: same partitions
      after.foreach { case (p, d) =>
        if (countsBefore(t)(p) <= 1)
          assert(d === dirsBefore(t)(p), s"untouched $t/$p was rewritten")
        else {
          assert(d !== dirsBefore(t)(p), s"fragmented $t/$p not rewritten")
          assert(fileCount(d) === 1, s"compacted $t/$p still fragmented")
        }
      }
    }
    // row content and search results are bit-identical
    assert(ChunkIndex.readChunks(spark, out).collect().map(_.toString).sorted
      .sameElements(chunksBefore))
    assert(ChunkIndex.readEmbeddings(spark, out).collect().map(_.toString).sorted
      .sameElements(embBefore))
    val searchAfter = ChunkIndex.search(spark, out, "spark batch join", 2, 5).collect()
    assert(searchAfter.map(_.toString).toSeq === searchBefore.map(_.toString).toSeq)

    // idempotent; and vacuum after compact keeps everything readable
    assert(ChunkIndex.compact(spark, out, maxFilesPerPartition = 1) === 0)
    ChunkIndex.vacuum(spark, out)
    assert(ChunkIndex.readChunks(spark, out).collect().map(_.toString).sorted
      .sameElements(chunksBefore))
  }

  test("vacuum after upsert + compact leaves only manifest-referenced data, results unchanged") {
    import graft.sources.ManifestStore
    val out = Files.createTempDirectory("graft_vacuum_idx").toString
    ChunkIndex.write(spark, sfDir, out)
    // each upsert supersedes the touched partitions of the build's write
    // dir, which stays live through every partition it still serves
    Seq(1000001L, 1000009L).foreach { id =>
      ChunkIndex.upsert(spark, out, spark.createDataFrame(
        Seq((id, s"fresh crawl doc $id text"))).toDF("doc_id", "text"))
    }
    ChunkIndex.compact(spark, out, maxFilesPerPartition = 1)

    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(root).toUri
    def parquetRels(): Seq[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) b += rootUri.relativize(p.toUri).getPath
      }
      b.result()
    }
    def unreferenced(): Seq[String] = {
      val live = ManifestStore.current(spark, out).get.tables.values.flatMap(_.values)
      parquetRels().filterNot(f => live.exists(rel => f.startsWith(rel + "/")))
    }
    val liveWriteIds = ManifestStore.current(spark, out).get.tables.values
      .flatMap(_.values).map(_.split("/")(1)).toSet
    assert(unreferenced().exists(f => liveWriteIds.contains(f.split("/")(1))),
      "fixture left no superseded partition inside a live write dir")

    val chunksBefore = ChunkIndex.readChunks(spark, out).collect().map(_.toString).sorted
    val embBefore = ChunkIndex.readEmbeddings(spark, out).collect().map(_.toString).sorted
    val searchBefore = ChunkIndex.search(spark, out, "spark batch join", 2, 5).collect()
    ChunkIndex.vacuum(spark, out)
    assert(unreferenced().isEmpty, s"vacuum left dead data: ${unreferenced()}")
    assert(ChunkIndex.readChunks(spark, out).collect().map(_.toString).sorted
      .sameElements(chunksBefore))
    assert(ChunkIndex.readEmbeddings(spark, out).collect().map(_.toString).sorted
      .sameElements(embBefore))
    assert(ChunkIndex.search(spark, out, "spark batch join", 2, 5).collect()
      .map(_.toString).toSeq === searchBefore.map(_.toString).toSeq)
  }

  test("compact commit aborts when a concurrent upsert advanced the manifest") {
    import graft.sources.ManifestStore
    val out = Files.createTempDirectory("graft_compact_race").toString
    ChunkIndex.write(spark, sfDir, out)
    // compact's view of the store, captured BEFORE the racing writer
    val stale = ManifestStore.current(spark, out).get
    // a streaming/daily upsert lands while the (long) rewrite phase runs
    ChunkIndex.upsert(spark, out,
      spark.createDataFrame(Seq((2000001L, "racing crawl doc text")))
        .toDF("doc_id", "text"))
    val live = ManifestStore.current(spark, out).get
    assert(live.seq === stale.seq + 1)
    // the seq re-check refuses the stale-based maintenance commit —
    // last-writer-wins can no longer drop the upsert's rows
    assert(!ManifestStore.commitIfCurrent(spark, out,
      ManifestStore.Manifest(stale.seq + 1, stale.tables, stale.params)))
    assert(ManifestStore.current(spark, out).get.tables === live.tables)
    // residual window: a data commit landing at the SAME seq after the
    // re-check still outranks the maintenance name — readers resolve
    // the data manifest, the compaction is merely lost
    assert(ManifestStore.commitIfCurrent(spark, out,
      ManifestStore.Manifest(live.seq + 1, stale.tables, live.params)))
    ManifestStore.commit(spark, out,
      ManifestStore.Manifest(live.seq + 1, live.tables, live.params))
    val resolved = ManifestStore.current(spark, out).get
    assert(resolved.seq === live.seq + 1)
    assert(resolved.tables === live.tables,
      "maintenance manifest shadowed a same-seq data commit")
    // the upsert's row is still readable through the resolved state
    assert(ChunkIndex.readChunks(spark, out)
      .where(col("doc_id") === 2000001L).count() > 0)
  }
}

object ChunkIndexSpec {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.SparkSession
  import graft.sources.ManifestStore

  /** Data files (writer markers excluded) in one partition dir. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .count(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
  }

  /** Fragment one live partition: rewrite its rows as `n` files under
    * a fresh write dir and commit a manifest that points the partition
    * there — the layout an unsized writer leaves behind.
    */
  def fragment(spark: SparkSession, root: String, table: String, part: String,
      n: Int): Unit = {
    val m = ManifestStore.current(spark, root).get
    val rel = s"data/w-frag-${ManifestStore.newId()}/$table/_p=$part"
    spark.read.parquet(s"$root/${m.table(table)(part)}")
      .repartition(n).write.parquet(s"$root/$rel")
    ManifestStore.commit(spark, root, m.copy(seq = m.seq + 1,
      tables = m.tables.updated(table, m.table(table).updated(part, rel))))
    assert(fileCount(spark, s"$root/$rel") == n, s"$table/$part: fewer than $n rows")
  }
}
