package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators._
import graft.sources.{ChunkIndex, Tables}

/** Collected rows of one call, with the order-sensitive hash the
  * benchmark keeps for every operation.
  */
final case class Out(columns: Seq[String], rows: Array[Row]) {
  lazy val hash: Int = MurmurHash3.orderedHash(rows.iterator.map(_.toString))
}

object Out {
  def apply(tr: Tracer, name: String)(build: => DataFrame): Out = {
    var cols: Seq[String] = Nil
    val rows = tr.rows(name) { val df = build; cols = df.columns.toSeq; df }
    Out(cols, rows)
  }
}

object Dense {
  val NProbe = 2
  val K = 5
  def search(c: Ctx, root: String, text: String): Out =
    Out(c.tr, "ChunkIndex.search")(ChunkIndex.search(c.spark, root, text, NProbe, K))
}

/** `ask`: one closed-loop client against a resident index that is kept
  * current. Each round of six requests holds four questions (dense
  * ChunkIndex.search, then lexical KeywordSearch.bm25), one admin
  * dashboard query and one upsert of a batch of new and rewritten
  * documents, read back by a search, after which the index is
  * compacted and vacuumed.
  */
final class Ask(c: Ctx) extends Workload {
  import c.spark.implicits._
  // every partition an upsert rewrote in several files is compacted, so
  // each round does the same compaction work
  val MaxFilesPerPartition = 1
  private val reqs = Files.tsv(new File(c.inDir, "requests.tsv"))
  private val probes = Files.tsv(new File(c.inDir, "probes.tsv")).map(_(0)).toSeq
  private var root = ""
  private lazy val docs = Tables.documents(c.spark, c.inDir)
  // checks' data: the index version each search saw, and every version's rows
  private var version = 0
  private val snapshots = mutable.ArrayBuffer[Array[Row]]()
  private val dense = mutable.ArrayBuffer[(Int, Int, Out)]()
  private val lexical = mutable.ArrayBuffer[(Int, Out)]()
  private val admin = mutable.LinkedHashMap[String, (Out, mutable.Set[Int])]()
  private val applied = mutable.ArrayBuffer[Int]()
  private val readback = mutable.ArrayBuffer[(Int, Long, Out)]()
  private val probeRuns = mutable.ArrayBuffer[(Int, Int, Seq[Out], Seq[Out])]()
  private var textBytes = c.textBytes

  private val adminCalls: Map[String, (String, (SparkSession, String) => DataFrame)] = Map(
    "dashboard_stats" -> ("Analytics.dashboardStats", Analytics.dashboardStats _),
    "session_stats" -> ("Analytics.sessionStats", (s, d) => Analytics.sessionStats(s, d)),
    "live_users" -> ("Analytics.liveUsers", (s, d) => Analytics.liveUsers(s, d)),
    "activity_summary" -> ("Analytics.activitySummary", (s, d) => Analytics.activitySummary(s, d)),
    "contribution_analytics" -> ("Analytics.contributionAnalytics", Analytics.contributionAnalytics _))

  def build(): Unit = {
    root = c.tr.call("ChunkIndex.ensureIndex")(ChunkIndex.ensureIndex(c.spark, c.inDir))
    snapshots += c.untimed(snapshot())
  }
  val warmupOps: Int = reqs.count(_(0) == "-1")
  val roundOps = 6
  val rounds: Int = (reqs.length - warmupOps) / roundOps
  override def indexRoot: Option[String] = Some(root)

  private def snapshot(): Array[Row] =
    ChunkIndex.readEmbeddings(c.spark, root).select("doc_id", "dim", "weight", "bucket").collect()

  def op(i: Int, clock: Clock): Unit = {
    val r = reqs(i)
    r(1) match {
      case "q" => clock.time {
        dense += ((i, version, Dense.search(c, root, r(2))))
        lexical += i -> Out(c.tr, "KeywordSearch.bm25")(KeywordSearch.bm25(
          docs, "doc_id", "text", Seq((0L, r(2))).toDF("q_id", "q_text"),
          "q_id", "q_text", Dense.K))
      }
      case "admin" =>
        val (layer, f) = adminCalls(r(2))
        val o = clock.time(Out(c.tr, layer)(f(c.spark, c.inDir)))
        admin.getOrElseUpdate(r(2), (o, mutable.Set[Int]()))._2 += o.hash
      case "upsert" =>
        val b = r(2).toInt
        clock.time {
          val batch = c.spark.read.parquet(new File(c.inDir, f"batches/b$b%04d.parquet").getPath)
          c.tr.call("ChunkIndex.upsert")(ChunkIndex.upsert(c.spark, root, batch))
          readback += ((b, r(3).toLong, Dense.search(c, root, r(4))))
        }
        applied += b
        textBytes = r(5).toLong
        // the probe set is searched around the timed compactions only
        val probed = i >= warmupOps
        val before = c.untimed {
          version += 1
          snapshots += snapshot()
          if (probed) probes.map(Dense.search(c, root, _)) else Nil
        }
        val n = clock.time {
          val n = c.tr.call("ChunkIndex.compact")(ChunkIndex.compact(c.spark, root, MaxFilesPerPartition))
          c.tr.call("ChunkIndex.vacuum")(ChunkIndex.vacuum(c.spark, root))
          n
        }
        if (probed) probeRuns += ((i, n, before, c.untimed(probes.map(Dense.search(c, root, _)))))
    }
  }

  /** The index and staging directories, with whatever vacuum leaves
    * behind in them, per byte of current corpus text.
    */
  def diskRatio(): Double = {
    val staging = c.stagingRoot.getCanonicalPath
    val index = new File(root).getCanonicalPath
    val outside = if (index.startsWith(staging + File.separator)) 0L else Files.size(new File(index))
    (Files.size(c.stagingRoot) + outside).toDouble / textBytes
  }

  override def extraLayers: Seq[(String, Any)] = {
    if (probeRuns.isEmpty) Nil
    else Seq("ChunkIndex.compact_rewritten" -> probeRuns.map(_._2).sum.toDouble / probeRuns.size)
  }

  def dump(out: File): Unit = {
    Dumps.lines(new File(out, "dense.jsonl"), dense.map { case (i, v, o) =>
      Json.obj(Seq("req" -> i, "version" -> v, "rows" -> o.rows.toSeq)) })
    Dumps.lines(new File(out, "lexical.jsonl"), lexical.map { case (i, o) =>
      Json.obj(Seq("req" -> i, "rows" -> o.rows.toSeq)) })
    Dumps.lines(new File(out, "admin.jsonl"), admin.toSeq.map { case (q, (o, hashes)) =>
      Json.obj(Seq("query" -> q, "columns" -> o.columns, "rows" -> o.rows.toSeq,
        "distinct_hashes" -> hashes.size, "sql" -> SparkEntry.oracleSql(q))) })
    Dumps.lines(new File(out, "snapshots.jsonl"), snapshots.map(rows => Json.value(rows)))
    Files.write(new File(out, "applied.json"), Json.arr(applied.toSeq))
    Dumps.lines(new File(out, "readback.jsonl"), readback.map { case (b, doc, o) =>
      Json.obj(Seq("batch" -> b, "doc" -> doc, "rows" -> o.rows.toSeq)) })
    Dumps.lines(new File(out, "probes.jsonl"), probeRuns.map { case (i, n, bf, af) =>
      Json.obj(Seq("op" -> i, "rewritten" -> n, "before" -> bf.map(_.rows.toSeq),
        "after" -> af.map(_.rows.toSeq))) })
    Dumps.lines(new File(out, "chunks.jsonl"),
      ChunkIndex.readChunks(c.spark, root).select("doc_id", "chunk_index", "chunk_text")
        .collect().toSeq.map(r => Json.value(r)))
  }
}

/** `curate`: batch curation, one fresh corpus shard per operation. */
final class CurateW(c: Ctx) extends Workload {
  private val shards = Files.tsv(new File(c.inDir, "shards.tsv"))
  private val outs = mutable.ArrayBuffer[(Int, String, Out)]()
  private var doneBytes = 0L
  private val family: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("corpus_curate", "Curate.corpusCurate", (s, d) => Curate.corpusCurate(s, d)),
    ("dedup_minhash", "Dedup.dedupMinhash", (s, d) => Dedup.dedupMinhash(s, d)),
    ("dedup_exact", "Dedup.dedupExact", Dedup.dedupExact _),
    ("gopher_filter", "TextAnalysis.gopherFilter", (s, d) => TextAnalysis.gopherFilter(s, d)),
    ("quality_perplexity", "Perplexity.qualityPerplexity", (s, d) => Perplexity.qualityPerplexity(s, d)),
    ("sequence_pack", "Pack.seqPack", (s, d) => Pack.seqPack(s, d)))

  def build(): Unit = ()
  val warmupOps = 1
  val roundOps = 1
  val rounds: Int = (shards.length - warmupOps) / roundOps

  def op(i: Int, clock: Clock): Unit = {
    val dir = shards(i)(1)
    clock.time {
      family.foreach { case (q, layer, f) => outs += ((i, q, Out(c.tr, layer)(f(c.spark, dir)))) }
    }
    doneBytes += shards(i)(2).toLong
  }

  def diskRatio(): Double = Files.size(c.stagingRoot).toDouble / doneBytes

  def dump(out: File): Unit =
    Dumps.lines(new File(out, "curate.jsonl"), outs.map { case (i, q, o) =>
      Json.obj(Seq("shard" -> i, "query" -> q, "columns" -> o.columns,
        "rows" -> o.rows.toSeq, "sql" -> SparkEntry.oracleSql(q))) })
}

object Dumps {
  def lines(f: File, xs: Iterable[String]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try xs.foreach(w.println) finally w.close()
  }
}
