package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Semi-structured parsing surfaces Spark 4 ships that the engine must
  * expose to be a drop-in warehouse: XML extraction (`from_xml` /
  * `xpath_*`) and the VARIANT type (`parse_json` / `variant_get`), next
  * to the JSON-string functions q17/q37 already cover.
  *
  * The oracle discipline for parsers: DuckDB has no XML and no variant,
  * so both queries are ROUND-TRIP INVERSIONS — the document is BUILT
  * in-query from base columns, parsed back with the operator under
  * test, and the oracle supplies the expected values straight from the
  * same base columns. What the hash-compare then proves is that the
  * parser exactly inverts the construction (including the
  * double→string→double round trip, lossless under shortest-repr
  * casting). Both queries are pure row-local codegen expressions — no
  * shuffle anywhere, the orderBy is presentation only.
  */
object SemiStructuredQueries {

  def defs: Map[String, Q] = Map(

    // XML extraction: attributes via xpath + from_xml's attribute
    // mapping (default prefix "_"), elements via typed from_xml fields.
    "q61_xml_extract" -> Q(
      s"""SELECT o_orderkey, o_orderkey AS xml_id,
         |       o_orderstatus AS status,
         |       ${graft.functions.Portable.duckCents("o_totalprice")} AS total_cents,
         |       o_orderpriority AS prio
         |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val xml = concat(
        lit("<order id=\""), col("o_orderkey"),
        lit("\" status=\""), col("o_orderstatus"),
        lit("\"><total>"), col("o_totalprice").cast("string"),
        lit("</total><prio>"), col("o_orderpriority"),
        lit("</prio></order>"))
      // ONE parse per row (round 10): both attributes and both elements
      // come out of a single from_xml (attributePrefix "_" maps @id and
      // @status into the struct). The first form ALSO ran
      // xpath_string(x, '/order/@status') per row — a second, DOM-
      // building parse of the same document that the count()-actioned
      // bench never executed (status fed no aggregate); the round-10
      // noop action priced it at 347 s of 2186 s at sf10 — 16% of the
      // whole suite for a redundant parse. xpath_* stays covered:
      // XmlPathSpec pins xpath_string ≡ from_xml's _status on real
      // corpus rows plus quoting/empty edges.
      // SORT FIRST, PARSE AFTER (OPTIMIZATION_r10.md §A): a global
      // ORDER BY is a range exchange whose boundary-sampling pass
      // EXECUTES THE CHILD A SECOND TIME — with the parse below the
      // sort the suite paid the DOM parse twice (35.6 s vs 11.3 s
      // parse-only at sf10).
      // Sorting the narrow scan first makes the sampling pass a column
      // read, and the parse runs once, above the sort, inside a
      // Generate barrier (explode of a 1-element array) so projection
      // collapsing can never re-inline it per extracted field. The
      // projection is 1:1 and exchange-free, so the declared ordering
      // is preserved.
      Tables.orders(s, d)
        .orderBy("o_orderkey")
        .withColumn("x", xml)
        .select(
          col("o_orderkey"),
          explode(array(
            expr("from_xml(x, '_id BIGINT, _status STRING, total DOUBLE, prio STRING')")))
            .as("st"))
        .select(
          col("o_orderkey"),
          col("st._id").as("xml_id"),
          col("st._status").as("status"),
          graft.functions.Portable.cents(col("st.total")).as("total_cents"),
          col("st.prio").as("prio"))
    },

    // VARIANT: build a nested document per event, parse to variant, and
    // extract typed paths (object field, array index, string leaf, and
    // a missing path through try_variant_get's NULL contract).
    "q62_variant_path" -> Q(
      """SELECT event_id,
        |       CAST(props->>'$.k' AS BIGINT) AS k,
        |       user_id AS a1,
        |       event_type AS t,
        |       CAST(NULL AS BIGINT) AS missing
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      // sort first, parse after (the q61 move — the range sampler runs
      // the child twice), with the parse once per row behind a Generate
      // barrier
      Tables.events(s, d)
        .orderBy("event_id")
        .withColumn("j", to_json(struct(
          col("user_id").as("u"),
          struct(col("event_type").as("t"),
                 get_json_object(col("props"), "$.k").cast("long").as("k")).as("m"),
          array(col("event_id"), col("user_id")).as("a"))))
        .select(col("event_id"), explode(array(parse_json(col("j")))).as("v"))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.m.k', 'bigint')").as("k"),
          expr("variant_get(v, '$.a[1]', 'bigint')").as("a1"),
          expr("variant_get(v, '$.m.t', 'string')").as("t"),
          expr("try_variant_get(v, '$.missing', 'bigint')").as("missing"))
    }
  )
}
