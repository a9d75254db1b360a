package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The single-manifest commit protocol shared by every multi-table
  * parquet store in the engine (the persisted [[ChunkIndex]] and the
  * streaming-curation state of [[graft.streaming.CurateStream]]).
  *
  * Layout under a store root:
  * {{{
  *   root/
  *     manifests/m-<seq>-<uuid>.txt   # the committed state
  *     data/<writeId>/…               # immutable once written
  * }}}
  *
  * A writer lands new data dirs under a fresh `data/<writeId>` prefix
  * (copy-on-write — existing files are NEVER modified), then publishes
  * ONE manifest naming every table's current dirs. The manifest is
  * written complete under a tmp name and renamed to its final unique
  * name — rename onto a fresh path is atomic on every real filesystem
  * — and readers resolve the HIGHEST-sequence manifest, so a crash
  * anywhere before the rename leaves readers on the previous
  * fully-consistent multi-table state (cf. Iceberg's manifest lists).
  * Superseded manifests / unreferenced data dirs are snapshots until
  * [[vacuum]] reclaims them.
  *
  * Manifest line grammar (space-separated):
  * {{{
  *   seq <n>
  *   param <key> <value>
  *   <table> <entryKey> <relative/data/dir>
  * }}}
  * `entryKey` is store-defined: a partition value for the partitioned
  * index tables, a segment id for append-log tables.
  */
private[graft] object ManifestStore {

  final case class Manifest(seq: Long, tables: Map[String, Map[String, String]],
      params: Map[String, String] = Map.empty) {
    def table(name: String): Map[String, String] = tables.getOrElse(name, Map.empty)
  }

  def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def newId(): String = java.util.UUID.randomUUID().toString.take(8)

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def manifestDir(root: Path) = new Path(root, "manifests")

  /** The committed state: the complete manifest with the highest
    * (seq, uuid) name, or None for a never-committed root. Name order
    * is commit order — seq is zero-padded; the uuid breaks ties
    * between racing writers deterministically (last wins).
    */
  def current(spark: SparkSession, root: String): Option[Manifest] =
    at(spark, root, None)

  /** The committed state at a given sequence — time travel over the
    * snapshot history ([[vacuum]] reclaims old snapshots, after which
    * they are genuinely gone and this throws). `None` = latest.
    */
  def at(spark: SparkSession, root: String, wantSeq: Option[Long]): Option[Manifest] = {
    val fs = fsOf(spark, new Path(root))
    val dir = manifestDir(new Path(root))
    if (!fs.exists(dir)) return None
    val all = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("m-") && n.endsWith(".txt"))
    val names = wantSeq match {
      case None => all
      case Some(s) =>
        val want = all.filter(_.startsWith(f"m-$s%09d-"))
        if (want.isEmpty && all.nonEmpty)
          throw new java.io.FileNotFoundException(
            s"no snapshot with seq=$s at $root (vacuumed, or never committed)")
        want
    }
    if (names.isEmpty) return None
    val latest = names.max
    val lines = readSmallFile(fs, new Path(dir, latest)).split("\n")
    var seq = 0L
    val tabs = scala.collection.mutable.Map[String, Map[String, String]]()
      .withDefaultValue(Map.empty)
    val params = scala.collection.mutable.Map[String, String]()
    lines.filter(_.nonEmpty).foreach { l =>
      l.split(" ", 3) match {
        case Array("seq", n)       => seq = n.toLong
        case Array("param", k, v)  => params(k) = v
        case Array(t, part, rel)   => tabs(t) = tabs(t) + (part -> rel)
        case _                     => ()
      }
    }
    Some(Manifest(seq, tabs.toMap, params.toMap))
  }

  /** Publish a manifest: write complete under a tmp name, then one
    * rename to the final (fresh, unique) name — the commit point.
    */
  def commit(spark: SparkSession, root: String, m: Manifest): Unit =
    writeManifest(spark, root, m, newId())

  /** The uuid slot every maintenance (read-rewrite) commit carries:
    * all zeros sorts at or below every random [[newId]], so at an
    * equal seq the name tiebreak ALWAYS resolves against the
    * maintenance writer — a data-bearing commit can never be shadowed
    * by a maintenance manifest built from the pre-commit state.
    */
  private val MaintenanceId = "00000000"

  /** Optimistic maintenance commit — [[ChunkIndex.compact]]'s guard
    * against the lost-update race with a concurrent upsert: commit
    * `m` only if the store is still at `m.seq - 1`. Returns false
    * (nothing published; the caller's rewritten dirs stay orphaned
    * until [[vacuum]]) when another writer advanced the store past
    * the state `m` was built from — the seq re-check that catches a
    * commit landing anywhere in the long rewrite phase.
    * The residual window — a data writer reading seq-1 and renaming
    * AFTER our re-check — is closed by the name order itself: its
    * random uuid sorts above [[MaintenanceId]] at the same seq, so
    * readers resolve the data commit and the compaction is merely
    * lost, never the upsert. Two racing MAINTENANCE writers collide
    * on the same name (rename is last-writer-wins on POSIX); both
    * states are pure layout over the same base, so either surviving
    * is consistent and the loser's dirs are vacuum fodder.
    */
  def commitIfCurrent(spark: SparkSession, root: String, m: Manifest): Boolean = {
    val liveSeq = current(spark, root).map(_.seq).getOrElse(-1L)
    if (liveSeq != m.seq - 1) return false
    try { writeManifest(spark, root, m, MaintenanceId); true }
    catch { case _: java.io.IOException => false }
  }

  private def writeManifest(spark: SparkSession, root: String, m: Manifest,
      id: String): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    fs.mkdirs(manifestDir(rootP))
    val content = (Seq(s"seq ${m.seq}") ++
      m.params.toSeq.sorted.map { case (k, v) => s"param $k $v" } ++
      m.tables.toSeq.sortBy(_._1).flatMap { case (t, mp) =>
        mp.toSeq.sortBy(_._1).map { case (p, rel) => s"$t $p $rel" }
      }).mkString("\n")
    val name = f"m-${m.seq}%09d-$id.txt"
    val tmp = new Path(manifestDir(rootP), s".tmp-$name")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(manifestDir(rootP), name)))
      throw new java.io.IOException(s"manifest commit failed at $root/$name")
  }

  /** Reclaim storage a long-lived store no longer needs: every
    * manifest below the current one and every entry under `data/`
    * that is neither a dir the current manifest references nor on the
    * path to one. A write dir that still holds one live partition or
    * segment keeps only that: its superseded siblings (a partition
    * compaction rewrote elsewhere, a segment folded into a `__c`
    * segment) and its writer's `_SUCCESS` markers go too. NOT called
    * automatically — superseded manifests are consistent snapshots a
    * concurrent reader may still hold; run vacuum when no reader can
    * be older than the current commit.
    */
  def vacuum(spark: SparkSession, root: String): Unit = {
    val rootP = new Path(root)
    val fs = fsOf(spark, rootP)
    current(spark, root).foreach { m =>
      val mDir = manifestDir(rootP)
      val names = fs.listStatus(mDir).map(_.getPath.getName)
        .filter(n => n.startsWith("m-") && n.endsWith(".txt"))
      names.sorted.dropRight(1).foreach(n => fs.delete(new Path(mDir, n), false))
      fs.listStatus(mDir).map(_.getPath)
        .filter(_.getName.startsWith(".tmp-")).foreach(fs.delete(_, false))
      val live = m.tables.values.flatMap(_.values).toSet
      // every proper ancestor of a live dir: descend, never delete
      val onPath = live.flatMap { rel =>
        val parts = rel.split("/")
        (1 until parts.length).map(i => parts.take(i).mkString("/"))
      }
      def sweep(dir: Path, rel: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val r = s"$rel/${st.getPath.getName}"
          if (live.contains(r)) ()
          else if (onPath.contains(r)) sweep(st.getPath, r)
          else fs.delete(st.getPath, true)
        }
      val dataDir = new Path(rootP, "data")
      if (fs.exists(dataDir)) sweep(dataDir, "data")
    }
  }
}
