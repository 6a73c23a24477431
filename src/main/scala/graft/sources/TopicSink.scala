package graft.sources

import graft.Topic
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType

/** Write-side connector for topic logs: `df.write.format("graft-topic")
  * .option("path", dir).save()` — the DataFrameWriter front door to
  * [[graft.Topic.publish]], completing the connector pair with the
  * `graft-push` read source (PushSource.scala).
  *
  * Deliberately a V1 `CreatableRelationProvider`, not a DSv2
  * `BatchWrite`: publish semantics (single-writer lease lock, global
  * ordinal assignment off the high-water mark, parquet append) live in
  * `Topic.publish` and operate on the WHOLE batch — a DSv2 DataWriter
  * commit protocol would have to re-derive the global offset base across
  * tasks, duplicating the one piece of code whose correctness the
  * TxnSpec/IdempotentPublishSpec family already pins. The V1 hook hands
  * this provider the assembled DataFrame, so the connector is a mode
  * gate + delegation and publish stays the single source of truth.
  *
  * Save-mode contract (append-only log discipline):
  *  - Append      → publish (offsets continue from the high-water mark)
  *  - ErrorIfExists → publish only if the topic is empty, else error
  *  - Ignore      → publish only if the topic is empty, else no-op
  *  - Overwrite   → always an error: a topic is an append-only log;
  *                  truncation is an administrative act (`Topic.retain`
  *                  / `Topic.compact`), not a write mode.
  */
class TopicSink extends CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-topic"

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-topic sink requires .option(\"path\", <topicDir>) or save(<topicDir>)"))
    // the mode checks are gates; publish reads its base under the lock
    val hwm = Topic.highWaterMark(data.sparkSession, path)
    mode match {
      case SaveMode.Append => Topic.publish(data, path)
      case SaveMode.ErrorIfExists =>
        if (hwm >= 0L) throw new IllegalStateException(
          s"topic '$path' already holds offsets 0..$hwm (mode ErrorIfExists)")
        Topic.publish(data, path)
      case SaveMode.Ignore =>
        if (hwm < 0L) Topic.publish(data, path)
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          "graft-topic is an append-only log: Overwrite is not a write mode; " +
          "use Topic.retain/Topic.compact for administrative truncation")
    }
    val outer = sqlContext // the anonymous class's own `sqlContext` member would shadow
    new BaseRelation {
      override def sqlContext: SQLContext = outer
      override def schema: StructType = data.schema
    }
  }
}
