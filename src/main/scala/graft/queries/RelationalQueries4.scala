package graft.queries

import graft.{Q, Tables}
import graft.operators.TopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Batch 4: typed custom aggregation (Aggregator UDAF) and schema-based
  * JSON parsing — the last §2.B machinery families (UDAF, from_json).
  */
object RelationalQueries4 {

  def defs: Map[String, Q] = Map(

    // Top-3 orders per customer through the typed TopK Aggregator — the
    // k-bounded map-side-combine formulation of q08's window top-k; the
    // oracle is the window SQL, proving result equivalence.
    "q36_topk_aggregator" -> Q(
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val ds = Tables.orders(s, d)
        .select("o_custkey", "o_totalprice", "o_orderkey")
        .as[(Long, Double, Long)]
      ds.groupByKey(_._1)
        .agg(new TopK(3).toColumn.name("top"))
        .flatMap { case (ck, items) =>
          items.zipWithIndex.map { case ((price, ok), i) => (ck, ok, price, i + 1) }
        }
        .toDF("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // Schema-based JSON parsing of the props column (from_json → struct
    // field), the structured twin of q17's regexp extraction.
    "q37_from_json" -> Q(
      """SELECT event_id,
        |       CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k,
        |       event_type
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val schema = StructType(Seq(StructField("k", IntegerType)))
      // sort first, parse after (the q61 move): the ORDER BY's range
      // sampler executes its child twice, so parsing below the sort
      // paid the JSON parse 2x. It extracts a single field, so, unlike
      // q61 and q62, it needs no Generate barrier: there is no second
      // field for projection collapsing to re-inline the parse into
      Tables.events(s, d)
        .orderBy("event_id")
        .select(col("event_id"),
                from_json(col("props"), schema).getField("k").as("k"),
                col("event_type"))
    }
  )
}
