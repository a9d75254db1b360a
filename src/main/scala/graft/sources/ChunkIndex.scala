package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{functions, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Ingest

/** The persisted index — graft's analog of FAISS `save_index` /
  * `load_index` + metadata.json (reference: core/utils.py:137-:192).
  *
  * Instead of a binary blob on one node, the index is two parquet
  * tables: `chunks` (the metadata sidecar) and `embeddings` in long
  * form, the latter partitioned by a coarse quantizer bucket — the
  * hashed-BoW dimension with the largest |weight|. A search that
  * probes buckets reads ONLY the probed partitions' files: on a
  * 100 TB corpus only probed directories are touched at all.
  *
  * == Commit protocol (MANIFEST, not in-place mutation) ==
  *
  * Plain parquet has no atomic multi-table commit, and the previous
  * design's dynamic partition overwrite left a documented crash
  * window between the chunks and embeddings writes. This layout
  * closes it the way table formats do (cf. Iceberg's manifest lists):
  *
  * {{{
  *   root/
  *     manifests/m-<seq>-<uuid>.txt   # partition -> data dir, BOTH tables
  *     data/w-<uuid>/chunks/_p=3/…    # immutable once written
  *     data/w-<uuid>/embeddings/_p=7/…
  * }}}
  *
  * A write lands new partition directories under a fresh `data/w-*`
  * prefix (copy-on-write — existing files are NEVER modified or
  * overwritten), then publishes ONE manifest naming the current data
  * dir of every partition of both tables. The manifest is written to
  * a tmp name and renamed to its final unique name — rename onto a
  * fresh path is atomic on every real filesystem — and readers
  * resolve the HIGHEST-sequence manifest, so a crash anywhere before
  * the rename leaves readers on the previous fully-consistent
  * two-table state. There is no pointer file to corrupt and no
  * in-progress marker to honor; partitions an upsert vacates are
  * simply not referenced by the new manifest. Superseded manifests /
  * unreferenced data dirs are snapshots until [[vacuum]] reclaims
  * them.
  *
  * The partition key is kept as a DATA column too (the directory key
  * is a duplicated `_p` column): manifest-selected directories read
  * back with their full schema with no dependence on Spark partition
  * discovery.
  */
object ChunkIndex {

  val ChunkShards = 8

  private val PartDirCol = "_p"

  /** The data-file schema of each index table, exactly as [[upsert]]
    * lays it out (DenseSearchSpec pins it against the written files).
    * Every read of the index names it, so no read runs a parquet
    * schema-inference job, and a table with no manifest entry (empty,
    * or vacated by an upsert) reads as zero rows of this schema.
    *
    * A manifest written by an earlier version may still name a
    * `__flat__` dir for an empty table: it holds 0 rows, a whole-table
    * read reads it, and nothing else selects it.
    */
  private[sources] val TableSchemas: Map[String, StructType] = Map(
    "chunks" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("chunk_index", LongType),
      StructField("chunk_text", StringType), StructField("chunk_chars", LongType),
      StructField("shard", IntegerType))),
    "embeddings" -> StructType(Seq(
      StructField("doc_id", LongType), StructField("dim", LongType),
      StructField("weight", DoubleType), StructField("bucket", IntegerType))))

  /** Read data dirs of one index table with its known schema; no dir
    * gives an empty local frame of that schema.
    */
  private def readDirs(spark: SparkSession, table: String, paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), TableSchemas(table))
    else spark.read.schema(TableSchemas(table)).parquet(paths: _*)

  private def withShard(chunks: DataFrame): DataFrame =
    chunks.withColumn("shard", pmod(col("doc_id"), lit(ChunkShards.toLong)).cast("int"))

  private def withBucket(emb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(abs(col("weight")).desc, col("dim"))
    emb.withColumn("bucket", first(col("dim")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).cast("int"))
  }

  // ----------------------------------------------------------------
  // Manifest IO — the shared single-manifest protocol (ManifestStore)
  // ----------------------------------------------------------------

  private type Manifest = ManifestStore.Manifest
  private def Manifest(seq: Long, tables: Map[String, Map[String, String]],
      params: Map[String, String] = Map.empty): Manifest =
    ManifestStore.Manifest(seq, tables, params)

  /** The index's FAISS-style factory identity, stamped into every
    * manifest at write time (`param factory …`): the coarse quantizer
    * is the dominant hashed-BoW dimension — [[Ingest.EmbedDim]]
    * possible buckets over flat (unquantized) sparse weights. A
    * loader asking for different parameters fails fast
    * (operators.IndexFactory.searchPersisted), exactly as a FAISS
    * index file fixes its own nlist/M at train time.
    */
  val FactoryString: String = s"IVF${Ingest.EmbedDim},Flat"

  private def indexParamDefaults: Map[String, String] = Map(
    "factory" -> FactoryString,
    "chunk_shards" -> ChunkShards.toString)

  /** The parameter block of the committed manifest: None for a
    * never-committed root (no index at all), Some(empty) for a
    * pre-parameter manifest — the two need different error messages
    * downstream.
    */
  private[graft] def indexParams(spark: SparkSession, root: String): Option[Map[String, String]] =
    currentManifest(spark, root).map(_.params)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    ManifestStore.fsOf(spark, p)

  private def newId(): String = ManifestStore.newId()

  private def currentManifest(spark: SparkSession, root: String): Option[Manifest] =
    ManifestStore.current(spark, root)

  private def commit(spark: SparkSession, root: String, m: Manifest): Unit =
    ManifestStore.commit(spark, root, m)

  /** Reclaim storage a long-lived index no longer needs — see
    * [[ManifestStore.vacuum]].
    */
  def vacuum(spark: SparkSession, root: String): Unit =
    ManifestStore.vacuum(spark, root)

  /** Write `df`'s partitions (copy-on-write) under
    * `data/<writeId>/<table>` and return the partition → relative-dir
    * mapping the manifest should carry. The partition key is
    * duplicated into the throwaway [[PartDirCol]] for the directory
    * layout, so the real column stays in the data files.
    *
    * The [[Sized]] layout clusters the rows first, so each partition
    * comes out of one write task, or out of [[targetFileCount]] tasks
    * (by a `doc_id` hash slot) when it spans several target files,
    * and lands already compacted; the write runs one task per target
    * file of the partitions' total bytes. An empty `df` writes no
    * partition dir and maps to nothing.
    */
  private def writeTablePartitions(spark: SparkSession, df: DataFrame,
      partCol: String, root: String, writeId: String, table: String,
      sized: Sized): Map[String, String] = {
    val rel = s"data/$writeId/$table"
    val abs = new Path(s"$root/$rel")
    val slots = sized.bytes.map { case (p, b) => p.toInt -> targetFileCount(b, sized.targetBytes) }
      .filter(_._2 > 1)
    val key =
      if (slots.isEmpty) Seq(col(partCol))
      else Seq(col(partCol), pmod(xxhash64(col("doc_id")),
        coalesce(try_element_at(typedLit(slots), col(partCol)), lit(1)).cast("long")))
    df.repartition(targetFileCount(sized.bytes.values.sum, sized.targetBytes), key: _*)
      .withColumn(PartDirCol, col(partCol))
      .write.mode(SaveMode.Overwrite).partitionBy(PartDirCol).parquet(abs.toString)
    fsOf(spark, abs).listStatus(abs).map(_.getPath.getName)
      .filter(_.startsWith(PartDirCol + "="))
      .map(n => n.stripPrefix(PartDirCol + "=") -> s"$rel/$n")
      .toMap
  }

  /** A write's layout: the estimated bytes of every partition it writes
    * (its current dir's bytes, 0 for a new partition, plus an estimate
    * of its fresh rows) and the target data-file size.
    */
  private final case class Sized(bytes: Map[String, Long], targetBytes: Long)

  /** Fresh rows' bytes per unit the write already counts, kept below
    * what the data files take (on the test corpora a chunk partition
    * stores 0.49–0.62 bytes per byte of incoming text, an embedding row
    * 3.5–118 bytes): an estimate under the written bytes only makes
    * larger files, one over them would leave the next [[compact]] work.
    */
  private val TextBytesPerChunkByte = 4L
  private val EmbeddingRowBytes = 2L

  /** The data files of one partition dir (writer markers excluded). */
  private def dataFiles(spark: SparkSession, dir: Path): Array[FileStatus] =
    fsOf(spark, dir).listStatus(dir).filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))

  /** The one layout rule [[compact]] and the upsert write share: a
    * partition of `bytes` is held in ⌈bytes / `targetBytes`⌉ data
    * files, at least one.
    */
  private[sources] def targetFileCount(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** Build and persist the index tables (embed_pdfs.py:220
    * `build_and_save_index`) as the root's first commit: an [[upsert]]
    * of every document into a root with no commit, so the build takes
    * the one merge, layout and commit every later batch takes. Both
    * tables are partitioned — `chunks` by a doc_id shard, `embeddings`
    * by the quantizer bucket — so incremental upserts rewrite only
    * touched partitions. The documents are read as they are, not
    * spread ([[Tables.documentsSpread]]): each of the build's three
    * reads would pay the spread's shuffle as a job of its own, and at
    * sf0.1 the build takes about as long without it.
    *
    * A root that already has a commit is refused before any data is
    * written: readers resolve the highest seq, so a second build
    * committed as seq 1 would be hidden behind any later commit. Change
    * an existing index with [[upsert]].
    */
  def write(spark: SparkSession, dir: String, outPath: String): Unit = {
    currentManifest(spark, outPath).foreach { m =>
      throw new IllegalStateException(s"index at $outPath already has commit " +
        s"seq ${m.seq}: write builds a new index; upsert to change this one")
    }
    upsert(spark, outPath, Tables.documents(spark, dir).select(col("doc_id"), col("text")))
  }

  /** MERGE-style upsert of an incoming (doc_id, text) batch into the
    * persisted index — the reference's write-back flows
    * (core/supabase_utils.py:400 `update_contribution_status`,
    * core/views.py:1065 `admin_reindex_documents`). Copy-on-write
    * MERGE: fresh versions of exactly the partitions that hold an old
    * or new version of an incoming doc (old and new may differ —
    * re-embedding can move a doc to another bucket, so both sides'
    * partitions are collected) land under a new write dir; every
    * other partition's files are untouched and carried forward by
    * reference in the new manifest.
    *
    * A root with no commit merges against an empty base (seq 0, no
    * tables, no parameters): nothing is read or dropped, and the
    * commit is seq 1 — the first batch creates the index, and
    * [[write]] is exactly this call over every document.
    *
    * Each rewritten partition is written in its compacted layout —
    * ⌈bytes / [[CompactTargetBytes]]⌉ files ([[Sized]]) for the bytes
    * of its current dir plus an estimate of its fresh rows — so
    * [[compact]] finds nothing to rewrite in it (unless the merge
    * shrank it by more than a whole target file).
    *
    * The `chunks` side's shard is doc_id % [[ChunkShards]] — derivable
    * arithmetically from the incoming ids, and the fresh rows' shards
    * are a subset of the same set — so one aggregate of the incoming
    * text names its partitions and sizes them, and only the
    * `embeddings` side (whose bucket depends on vector content, old and
    * new) pays an existence scan and a per-partition count of its fresh
    * rows; the scan is manifest-pruned to the two id columns.
    *
    * ATOMICITY: both tables' new partitions are fully written before
    * the single manifest commit makes any of them visible, so the
    * former crash window between the two table mutations is gone —
    * a crash at ANY point leaves readers on the previous consistent
    * two-table state, and re-delivering the batch (the streaming
    * path's natural behavior; the upsert is idempotent) completes it.
    */
  def upsert(spark: SparkSession, outPath: String, incoming: DataFrame): Unit =
    upsert(spark, outPath, incoming, CompactTargetBytes)

  /** [[upsert]] with the target file size as a parameter (tests). */
  private[sources] def upsert(spark: SparkSession, outPath: String, incoming: DataFrame,
      targetBytes: Long): Unit = {
    val m = currentManifest(spark, outPath).getOrElse(Manifest(0L, Map.empty))
    val writeId = s"w-${newId()}"
    val ids = incoming.select(col("doc_id")).distinct()
    // the index's recorded identity must match THIS writer's
    // parameters BEFORE any merge work runs: merging rows bucketed
    // by a different embedding dimension (or shard count) into the
    // old layout would silently corrupt the very identity
    // searchPersisted validates against. Iterated over the
    // WRITER'S keys (not the manifest's), so a recorded-but-
    // unknown key carries forward untouched while a key the
    // manifest is missing gets back-filled below instead of
    // escaping validation forever. A pre-parameter manifest
    // (graft's own earlier format — there is no foreign writer)
    // gets stamped with the writer's parameters on this commit.
    indexParamDefaults.foreach { case (k, mine) =>
      m.params.get(k).foreach { v =>
        if (mine != v) throw new IllegalStateException(
          s"index at $outPath records $k=$v but this writer is built " +
            s"with $k=$mine — refusing to mix layouts; rebuild the index")
      }
    }
    // every shard an incoming doc can occupy, old or new, is a pure
    // function of the ids — no table scan; the same collect sums each
    // shard's incoming text for the write's size estimate
    val chunkParts = Some(withShard(incoming).groupBy(col("shard"))
      .agg(coalesce(sum(octet_length(col("text"))), lit(0L)))
      .collect().map(r => r.get(0).toString -> r.getLong(1) / TextBytesPerChunkByte).toMap)
    val ch = upsertTable(spark, outPath, m.table("chunks"), "shard",
      ids, withShard(Ingest.chunksOf(incoming)), chunkParts, writeId, "chunks",
      targetBytes)
    val em = upsertTable(spark, outPath, m.table("embeddings"), "bucket",
      ids, withBucket(Ingest.embedOf(incoming)), None, writeId, "embeddings",
      targetBytes)
    // defaults-then-recorded: validated keys keep their recorded
    // value, missing writer keys are back-filled, unknown recorded
    // keys carry forward
    commit(spark, outPath,
      Manifest(m.seq + 1, Map("chunks" -> ch, "embeddings" -> em),
        indexParamDefaults ++ m.params))
  }

  /** One table's copy-on-write merge: read ONLY the affected
    * partitions' current files (manifest-selected paths — the scan
    * is pruned by construction), drop the old versions of incoming
    * docs, write survivors + fresh rows under the new write dir, and
    * return the updated mapping. A partition the merge vacates is
    * simply absent from it; a table the merge vacates maps to nothing.
    *
    * `touched` maps every partition holding an old or a new version of
    * an incoming doc to its fresh rows' estimated bytes when the caller
    * can derive it without reading data; None finds it by scanning the
    * old versions and counting the fresh rows per partition.
    *
    * The write is [[Sized]] by each affected partition's current dir
    * plus its fresh estimate: it gets [[targetFileCount]] of those
    * bytes in files, the count [[compact]] accepts as compacted.
    */
  private def upsertTable(spark: SparkSession, root: String,
      mapping: Map[String, String], partCol: String, ids: DataFrame,
      fresh: DataFrame, touched: Option[Map[String, Long]], writeId: String,
      table: String, targetBytes: Long): Map[String, String] = {
    val (freshRows, freshBytes, olds) = touched match {
      case Some(ps) => (fresh, ps, Set.empty[String])
      case None =>
        // fresh feeds two jobs (per-partition count + merged write): materialize once
        val freshCk = fresh.localCheckpoint()
        val counts = freshCk.groupBy(col(partCol)).count().collect()
          .map(r => r.get(0).toString -> r.getLong(1) * EmbeddingRowBytes).toMap
        val olds = readDirs(spark, table, mapping.values.toSeq.map(r => s"$root/$r"))
          .join(functions.broadcast(ids), Seq("doc_id"), "left_semi")
          .select(col(partCol)).distinct().collect().map(_.get(0).toString).toSet
        (freshCk, counts, olds)
    }
    val parts = olds ++ freshBytes.keySet
    val keepDirs = mapping.filter(kv => parts(kv._1))
    val bytes = parts.map { p =>
      p -> (freshBytes.getOrElse(p, 0L) +
        keepDirs.get(p).fold(0L)(r => dataFiles(spark, new Path(s"$root/$r")).map(_.getLen).sum))
    }.toMap
    val keep = readDirs(spark, table, keepDirs.values.toSeq.map(r => s"$root/$r"))
      .join(functions.broadcast(ids), Seq("doc_id"), "left_anti")
    // copy-on-write: keep is read from the OLD dirs and written to NEW
    // ones — no lineage-severing checkpoint needed, nothing overwrites
    // the files it reads
    (mapping -- parts) ++ writeTablePartitions(spark,
      keep.unionByName(freshRows.select(keep.columns.map(col).toIndexedSeq: _*)),
      partCol, root, writeId, table, Sized(bytes, targetBytes))
  }

  /** Live incremental indexing: a Structured Streaming sink that
    * upserts each micro-batch of (doc_id, text) into the persisted
    * index via [[upsert]] — the streaming form of the reference's
    * ingest/reindex flow (documents become searchable as they
    * arrive, and only the touched partitions are rewritten per
    * batch, each already in its compacted layout, so a long-running
    * stream does not fragment the index). `foreachBatch` is the
    * standard exactly-once-per-batch seam for sinks without native
    * streaming support; each batch is one manifest commit.
    */
  def streamingUpsert(docs: DataFrame, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) upsert(batch.sparkSession, outPath, batch)
      }

  /** Target data-file size [[compact]] and the [[upsert]] write aim
    * for — a partition is held in ⌈bytes / this⌉ files (≥ 1,
    * [[targetFileCount]]), the standard lake compaction contract, so
    * a 100 TB index compacts to executor-friendly reads instead of a
    * single giant file per partition.
    */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  /** Compact OVER-FRAGMENTED partitions of the persisted index — the
    * maintenance pass for partitions whose file count crept upward:
    * dirs written by an earlier writer, by any path that does not size
    * its output (a year of such micro-batches is the classic
    * small-files death: every search probing that bucket opens them
    * all), or by an upsert whose fresh-size estimate ran over. [[write]]
    * and [[upsert]] already write each partition in the layout this
    * pass produces, so a build or an upsert cycle leaves it nothing to
    * rewrite.
    *
    * Manifest-aware and copy-on-write, like [[upsert]]: for each
    * table, a LIVE partition is rewritten only when it holds more
    * data files than both `maxFilesPerPartition` and its target count
    * ⌈bytes / [[CompactTargetBytes]]⌉ ([[targetFileCount]]) — a
    * partition already at or under its target gains nothing, and
    * rewriting it would make the pass non-idempotent. A rewritten
    * partition is re-read (that dir only — explicit path selection,
    * no discovery) and written under a fresh write id into its target
    * count of files; every other partition is carried forward BY
    * REFERENCE — its files are not read, copied, or renamed
    * (IncrementalSpec-style byte-identical). One manifest commit
    * publishes the result; a crash at any point leaves readers on the
    * previous consistent state, and [[vacuum]] later reclaims the
    * superseded dirs. Row content is untouched by construction —
    * compaction is pure layout; ChunkIndexSpec pins search-result
    * identity pre/post.
    *
    * Returns the number of partitions rewritten (0 = no commit —
    * including the case where a concurrent writer advanced the
    * manifest during the rewrite and the commit was ABORTED via
    * [[ManifestStore.commitIfCurrent]]: compact never publishes a
    * state built from a superseded snapshot).
    */
  def compact(spark: SparkSession, root: String,
              maxFilesPerPartition: Int = 8): Int =
    compact(spark, root, maxFilesPerPartition, CompactTargetBytes)

  /** [[compact]] with the target file size as a parameter (tests). */
  private[sources] def compact(spark: SparkSession, root: String,
      maxFilesPerPartition: Int, targetBytes: Long): Int = {
    require(maxFilesPerPartition > 0,
      s"maxFilesPerPartition must be positive, got $maxFilesPerPartition")
    currentManifest(spark, root) match {
      case None => 0
      case Some(m) =>
        val writeId = s"w-${newId()}"
        var rewritten = 0
        val newTables = m.tables.map { case (table, mapping) =>
          val compacted = mapping.map { case (part, rel) =>
            val dir = new Path(s"$root/$rel")
            val files = dataFiles(spark, dir)
            val nFiles = targetFileCount(files.map(_.getLen).sum, targetBytes)
            if (files.length <= math.max(maxFilesPerPartition, nFiles))
              part -> rel   // carried forward by reference, untouched
            else {
              rewritten += 1
              val outRel = s"data/$writeId/$table/$PartDirCol=$part"
              readDirs(spark, table, Seq(dir.toString))
                .coalesce(nFiles)
                .write.mode(SaveMode.Overwrite).parquet(s"$root/$outRel")
              part -> outRel
            }
          }
          table -> compacted
        }
        // optimistic commit: if a streaming/daily upsert advanced the
        // store while we rewrote, ABORT rather than publish a manifest
        // built from the pre-upsert state (last-writer-wins would
        // silently drop the upsert's rows — data loss, not a lost
        // optimization). The rewritten dirs stay orphaned for vacuum;
        // the caller sees 0 and may simply compact again.
        if (rewritten > 0 &&
            ManifestStore.commitIfCurrent(spark, root,
              Manifest(m.seq + 1, newTables, m.params))) rewritten
        else 0
    }
  }

  /** Build the persisted index for `dir` once per machine (not once
    * per session): the index lands under the fingerprinted staging
    * path, so a fresh JVM — or the correctness/bench driver — reuses
    * the on-disk tables, and regenerated input data rebuilds them.
    * A `_GRAFT_INDEX_DONE` marker distinguishes a complete build
    * from a crashed partial one (the manifest protocol already makes
    * partial states invisible; the marker just short-circuits the
    * rebuild decision). Published through DfCache.publishStaged, so
    * a superseded fingerprint's index is swept like any staged table.
    */
  def ensureIndex(spark: SparkSession, dir: String): String =
    graft.DfCache.publishStaged(spark, s"chunk_index:$dir",
      graft.DfCache.inputFingerprint(spark, s"$dir/documents.parquet"),
      "_GRAFT_INDEX_DONE") { tmp =>
        write(spark, dir, tmp)
      }

  /** Search over the PERSISTED index as an oracle-checked query: build
    * (or reuse) the on-disk index, then run the manifest-pruned
    * [[search]] against it — the full save_index → load_index →
    * search_similar_chunks flow (core/utils.py:137/:150/:194) under
    * the DuckDB gate rather than ScalaTest only.
    */
  def indexSearch(spark: SparkSession, dir: String): DataFrame =
    search(spark, ensureIndex(spark, dir), "hash join", nProbe = 2, k = 5)

  /** The same persisted search with the probed buckets read THROUGH
    * the DSv2 connector (`spark.read.format("graft-index")` with the
    * `buckets` option) instead of [[searchBuckets]]' direct path
    * selection — identical semantics (same query prep and scoring
    * spelling via [[searchImpl]]), so the connector's manifest
    * resolution + bucket pruning sits under the DuckDB gate rather
    * than under IndexSourceSpec only.
    */
  def indexSearchDsv2(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureIndex(spark, dir)
    searchImpl(spark, root, "hash join", nProbe = 2, k = 5, buckets =>
      spark.read.format("graft-index")
        .option("table", "embeddings")
        .option("buckets", buckets.mkString(","))
        .load(root))
  }

  /** Load the persisted index (core/utils.py:150 `load_index` /
    * :178 `load_metadata`): every partition dir the current manifest
    * references.
    */
  def readChunks(spark: SparkSession, outPath: String): DataFrame =
    readTable(spark, outPath, "chunks")

  def readEmbeddings(spark: SparkSession, outPath: String): DataFrame =
    readTable(spark, outPath, "embeddings")

  /** Ops/test visibility: the committed partition → absolute-dir
    * mapping of one table (empty if the root was never committed).
    */
  private[graft] def partitionDirs(spark: SparkSession, root: String,
      table: String, snapshot: Option[Long] = None): Map[String, String] =
    ManifestStore.at(spark, root, snapshot)
      .map(_.table(table).map { case (p, rel) => p -> s"$root/$rel" })
      .getOrElse(Map.empty)

  private def readTable(spark: SparkSession, root: String, table: String): DataFrame = {
    val m = currentManifest(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed index at $root"))
    readDirs(spark, table, m.table(table).values.toSeq.sorted.map(r => s"$root/$r"))
  }

  /** Probe-pruned search over the persisted index: ONLY the probed
    * buckets' directories are read at all — the manifest maps bucket
    * → dir, so pruning is explicit path selection, no partition
    * discovery or scan-time filtering involved.
    */
  def searchBuckets(spark: SparkSession, outPath: String,
      queryBuckets: Seq[Long]): DataFrame = {
    val m = currentManifest(spark, outPath).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed index at $outPath"))
    val mapping = m.table("embeddings")
    // no probed bucket exists: an empty frame, read from no dir at all
    readDirs(spark, "embeddings",
      queryBuckets.map(_.toString).flatMap(mapping.get).map(r => s"$outPath/$r"))
  }

  /** End-to-end text search against the PERSISTED index: embed the
    * query (hashed BoW), probe its `nProbe` dominant buckets (read
    * only their directories), sparse-dot-rank the docs inside — the
    * full `search_similar_chunks` flow (core/utils.py:194) over the
    * saved index rather than the in-session one.
    */
  def search(spark: SparkSession, outPath: String, queryText: String,
      nProbe: Int, k: Int): DataFrame =
    searchImpl(spark, outPath, queryText, nProbe, k,
      searchBuckets(spark, outPath, _))

  /** The search body with the probed-bucket read as a seam — ONE
    * spelling of query prep and scoring serves both the direct
    * manifest path and the DSv2 connector path, so the two cannot
    * drift.
    *
    * The query is embedded with no Spark job ([[queryVector]]), its
    * `nProbe` dominant dims (|weight| desc, then dim) name the probed
    * buckets, and scoring is a filter to the query's dims with `qw`
    * looked up in a literal map — no join, no broadcast. A warm call
    * runs two jobs: the probed scan's partial aggregate (shuffle map
    * stage) and the final aggregate's top-k.
    */
  private def searchImpl(spark: SparkSession, outPath: String, queryText: String,
      nProbe: Int, k: Int, probedOf: Seq[Long] => DataFrame): DataFrame = {
    val q = queryVector(spark, queryText)
    val buckets = q.sortBy { case (d, w) => (-math.abs(w), d) }.take(nProbe).map(_._1)
    val qw = try_element_at(typedLit(q.toMap), col("dim"))
    probedOf(buckets)
      .where(col("dim").isin(q.map(_._1): _*))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Par.round4(sum(qw * col("weight"))).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** A query text's (dim, weight) pairs, sorted by dim:
    * [[Ingest.embedVector]] selected over a local one-row frame, which
    * the optimizer evaluates in place (no Spark job). A null text
    * embeds to no dims, so it probes no bucket and scores no row.
    */
  private[sources] def queryVector(spark: SparkSession, text: String): Seq[(Long, Double)] = {
    val v = spark.createDataFrame(java.util.List.of(Row(text)),
        StructType(Seq(StructField("q_text", StringType))))
      .select(Ingest.embedVector(col("q_text"))).collect().head
    if (v.isNullAt(0)) Seq.empty
    else v.getSeq[Row](0).map(e => (e.getLong(0), e.getDouble(1)))
  }
}
