package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 surface over the ChunkIndex manifest: the committed
  * snapshot as a first-class Spark table.
  *
  * {{{
  *   spark.read.format("graft-index")
  *     .option("table", "embeddings").load(root)
  *   // time travel: any not-yet-vacuumed commit by sequence number
  *   spark.read.format("graft-index")
  *     .option("snapshot", "3").load(root)
  *   // probe-pruned: only the named quantizer buckets' dirs are read
  *   spark.read.format("graft-index")
  *     .option("table", "embeddings").option("buckets", "3,7").load(root)
  * }}}
  *
  * Resolution happens at the MANIFEST layer — the table's file list
  * is exactly the highest-sequence manifest's partition dirs, so a
  * reader never sees a half-committed upsert (ChunkIndex.scala:20,
  * commit protocol) — and scanning delegates to Spark's own parquet
  * DSv2 ([[ParquetTable]]): vectorized reads, filter pushdown,
  * column pruning, row-group skipping all come from the engine, not
  * a re-implementation. This is the table-format pattern (Iceberg /
  * Delta): the library owns snapshot resolution, Spark owns bytes.
  *
  * The snapshot is pinned when the Table object is materialized
  * (getTable); a concurrent upsert committing a new manifest is
  * invisible to an already-planned query (read-your-snapshot, same
  * as readChunks). No read infers a schema from parquet footers: the
  * table's schema is the index's known one (ChunkIndex.TableSchemas)
  * unless the caller passes its own.
  */
class IndexSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-index"

  private def resolve(options: CaseInsensitiveStringMap,
      knownSchema: Option[StructType]): ParquetTable = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-index needs the index root: .load(<root>) or .option(\"path\", <root>)"))
    val table = Option(options.get("table")).getOrElse(IndexSource.DefaultTable)
    val snapshot = Option(options.get("snapshot")).map(_.toLong)
    IndexSource.parquetTable(SparkSession.active, root, table, options,
      snapshot, knownSchema)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options, None).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties), Option(schema))
}

object IndexSource {
  val Tables: Set[String] = Set("chunks", "embeddings")
  val DefaultTable = "chunks"

  private[sources] def parquetTable(spark: SparkSession, root: String,
      table: String, options: CaseInsensitiveStringMap,
      snapshot: Option[Long] = None,
      knownSchema: Option[StructType] = None): ParquetTable = {
    require(Tables(table),
      s"unknown index table '$table' (expected one of ${Tables.mkString(", ")})")
    // a committed table with no entry (empty, or vacated) is no dir
    val all = ManifestStore.at(spark, root, snapshot).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed index at $root"))
      .table(table).map { case (p, rel) => p -> s"$root/$rel" }
    // manifest-level partition pruning: option("buckets", "3,7")
    // restricts the table's FILE LIST to the named partitions' dirs —
    // the connector twin of ChunkIndex.searchBuckets, so probing
    // through the DSv2 path never lists or reads unprobed directories
    val dirs = Option(options.get("buckets")) match {
      case None => all
      case Some(bs) =>
        require(table == "embeddings",
          "option 'buckets' prunes the embeddings table's quantizer partitions")
        val want = bs.split(",").map(_.trim).filter(_.nonEmpty).toSet
        // no probed partition exists: no dir at all — the table's
        // schema is known, so an empty file list reads as zero rows
        // (searchBuckets' contract)
        all.filter { case (k, _) => want(k) }
    }
    val at = snapshot.map(s => s"@$s").getOrElse("")
    ParquetTable(s"graft-index($root$at).$table", spark, options,
      dirs.values.toSeq.sorted, knownSchema.orElse(ChunkIndex.TableSchemas.get(table)),
      classOf[ParquetFileFormat])
  }
}

/** Catalog plugin exposing a persisted index to plain SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gidx", classOf[IndexCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.gidx.root", <index root>)
  *   spark.sql("SELECT * FROM gidx.chunks WHERE shard = 3")
  * }}}
  *
  * Read-only by design: mutation goes through ChunkIndex.upsert /
  * streamingUpsert, whose copy-on-write MERGE + single-manifest
  * commit is the index's whole consistency story — a SQL INSERT
  * writing parquet behind the manifest's back would corrupt nothing
  * but be invisible, so it's rejected loudly instead.
  */
class IndexCatalog extends TableCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.root must point at the index root"))
  }

  override def name(): String = catalogName

  // the catalog is flat: a non-empty namespace holds no tables, and
  // listing any would advertise identifiers loadTable rejects
  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else IndexSource.Tables.toArray.sorted.map(Identifier.of(namespace, _))

  /** The catalog is flat: both tables live at the catalog root. An
    * unknown name or a namespaced identifier must surface as
    * NoSuchTableException — Spark's resolution paths (temp-view
    * fallback, DROP TABLE IF EXISTS) catch that and fall through; a
    * raw IllegalArgumentException would abort analysis instead.
    */
  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    IndexSource.parquetTable(SparkSession.active, root, ident.name(),
      CaseInsensitiveStringMap.empty())
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && IndexSource.Tables(ident.name())

  override def invalidateTable(ident: Identifier): Unit = ()

  private def readOnly = new UnsupportedOperationException(
    s"$catalogName is read-only: mutate via ChunkIndex.upsert/streamingUpsert")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw readOnly

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw readOnly

  override def dropTable(ident: Identifier): Boolean = throw readOnly

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw readOnly
}
