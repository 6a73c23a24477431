package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-addressable topics: a DSv2 `TableCatalog` that maps
  * `graft.<topic>` to the topic log directory, so plain SQL —
  * `SELECT * FROM graft.clicks WHERE offset = 5` — consumes a topic
  * with full parquet pushdown (the offset predicate prunes row groups,
  * exactly like `Topic.consume`). Registration is one conf pair:
  *
  *   spark.sql.catalog.graft      = graft.sources.TopicCatalog
  *   spark.sql.catalog.graft.root = /path/to/topics
  *
  * This completes the topic connector surface: `graft-push` (DSv2
  * streaming read), `graft-topic` (batch write via Topic.publish), and
  * now the catalog (batch SQL read + SHOW TABLES discovery). Reads
  * delegate to Spark's own ParquetTable (the engine's parquet DSv2
  * implementation — scan, pushdown, vectorized read all inherited);
  * the catalog's own work is name→path mapping plus serving the
  * MERGED schema through Topic's fingerprint cache, so a widened
  * topic's SQL readers see every column without an all-footers pass.
  *
  * Writes through the catalog are deliberately rejected: a topic is an
  * append-only log with single-writer offset assignment — SQL INSERT
  * has no way to carry the publish lock/ordinal contract, so the
  * error points at the write paths that do (`Topic.publish`,
  * `df.write.format("graft-topic")`). `DROP TABLE` is supported and
  * is `Cascade.dropTopic`'s semantics: topic retirement is an
  * administrative act the catalog can express safely.
  */
class TopicCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.root = <topics base dir>"))
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active

  private def dirFor(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"topic catalog '$catalogName' has a flat namespace; got ${ident.namespace.mkString(".")}")
    // a topic name is a single path segment — reject traversal outright
    require(!ident.name.contains("/") && !ident.name.contains(".."),
      s"invalid topic name '${ident.name}'")
    s"$root/${ident.name}"
  }

  /** The topics `Cascade.topics` lists: control-plane dirs (`_groups`,
    * `_txns`) are not tables. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty, "topic catalog has a flat namespace")
    new graft.Cascade(spark, root).topics().map(Identifier.of(Array.empty, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (hfs, p) = graft.Topic.fs(spark, dirFor(ident))
    hfs.exists(p)
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    // merged schema via the fingerprint cache: widened topics read
    // whole, no per-query footer pass, no AnalysisException surprises
    val schema = graft.Topic.mergedSchema(spark, dir).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))
    // ParquetTable alone would also be a SupportsWrite — SQL INSERT
    // would append files with no lock and no offsets, silently
    // corrupting the log. The facade exposes the read half only.
    new ReadOnlyTopicTable(ParquetTable(s"$catalogName.${ident.name}", spark,
      CaseInsensitiveStringMap.empty(), Seq(dir), Some(schema),
      classOf[ParquetFileFormat]))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "topics are created by publishing: use Topic.publish / " +
        "df.write.format(\"graft-topic\") — SQL CREATE/INSERT cannot carry " +
        "the publish lock + ordinal assignment contract")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "topic schemas evolve through publishes (additive widening); " +
        "ALTER TABLE is not a topic operation")

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && { new graft.Cascade(spark, root).dropTopic(ident.name); true }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "topics are not renameable in place (consumers address them by path); " +
        "republish to a new topic and retire the old one")
}

/** The read-only view of a topic's parquet log: delegates scan
  * construction (pushdown, vectorization — everything ParquetTable
  * gives) but deliberately does NOT implement SupportsWrite, so the
  * analyzer rejects INSERT/overwrite at resolution time with the
  * pointer at the real publish paths. */
private[sources] class ReadOnlyTopicTable(delegate: ParquetTable)
    extends Table with SupportsRead {
  override def name(): String = delegate.name
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[Transform] = delegate.partitioning
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap) =
    delegate.newScanBuilder(options)
}
