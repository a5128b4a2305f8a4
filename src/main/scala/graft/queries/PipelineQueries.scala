package graft.queries

import org.apache.spark.sql.functions._
import graft.pipeline.FoodPipeline

/** SURVEY §2 A12 — the end-to-end normalization pipeline, exercised through
  * FoodPipeline so the driver's gate covers the composed path, not just the
  * individual operators.
  */
object PipelineQueries {

  val all: Seq[QueryDef] = Seq(

    // A12a — a normalized output table from the pipeline ('details').
    QueryDef.sql("q_normalize_snowflake",
      """SELECT c_custkey AS permit, c_name AS applicant, c_mktsegment AS facilitytype
        |FROM customer ORDER BY permit""".stripMargin) { (s, d) =>
      StagedTables.pipelineDetails(s, d).orderBy("permit")
    },

    // A12b — the flagship analysis run over the pipeline's outputs
    // (reference query1 through the normalized schema).
    QueryDef.sql("q_pipeline_topk",
      """SELECT applicant, count(schedule_id) AS schedule_count
        |FROM (SELECT c_custkey AS permit, c_name AS applicant FROM customer) dt
        |LEFT JOIN (SELECT (row_number() OVER (ORDER BY o_orderkey)) - 1 AS schedule_id,
        |                  o_custkey AS permit FROM orders) br USING (permit)
        |GROUP BY applicant
        |ORDER BY schedule_count DESC, applicant LIMIT 5""".stripMargin) { (s, d) =>
      FoodPipeline.topBusinesses(Map(
        "details" -> StagedTables.pipelineDetails(s, d),
        "premitted_biz_details" -> StagedTables.pipelineBridge(s, d)))
    },

    // A19 — FK-integrity check on load (reference DDL PK/FK graph,
    // airflow.py:263-460): every snowflake edge of the analog schema, plus
    // one edge checked against a TRUNCATED parent (suppliers in the lower
    // half of the key range — both sides apply the same truncation), which
    // models the partial-dim-load failure this check exists to catch and
    // proves nonzero orphan counting against the oracle.
    QueryDef.sql("q_fk_check", {
      def edge(c: String, fk: String, p: String, pk: String, pSql: String) =
        s"""SELECT '$c' AS child_table, '$fk' AS fk_col,
           |  '$p' AS parent_table, '$pk' AS pk_col,
           |  CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(count(*) - count(pr.__pk) AS BIGINT) AS n_orphans
           |FROM (SELECT $fk AS __k FROM $c WHERE $fk IS NOT NULL) ch
           |LEFT JOIN (SELECT DISTINCT $pk AS __pk FROM $pSql) pr ON ch.__k = pr.__pk""".stripMargin
      Seq(
        edge("orders", "o_custkey", "customer", "c_custkey", "customer"),
        edge("customer", "c_nationkey", "nation", "n_nationkey", "nation"),
        edge("nation", "n_regionkey", "region", "r_regionkey", "region"),
        edge("lineitem", "l_orderkey", "orders", "o_orderkey", "orders"),
        edge("lineitem", "l_suppkey", "supplier_half", "s_suppkey",
          "(SELECT * FROM supplier WHERE s_suppkey <= (SELECT max(s_suppkey) / 2 FROM supplier)) t"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY child_table, fk_col")
    }) { (s, d) =>
      import graft.operators.Integrity, Integrity.FkEdge
      import graft.sources.Tables
      val supplier = Tables.supplier(s, d)
      val half = supplier.agg(max("s_suppkey")).head().getLong(0) / 2
      val tables = Map(
        "orders" -> Tables.orders(s, d), "customer" -> Tables.customer(s, d),
        "nation" -> Tables.nation(s, d), "region" -> Tables.region(s, d),
        "lineitem" -> Tables.lineitem(s, d),
        "supplier_half" -> supplier.filter(col("s_suppkey") <= half))
      Integrity.checkFk(tables, Seq(
          FkEdge("orders", "o_custkey", "customer", "c_custkey"),
          FkEdge("customer", "c_nationkey", "nation", "n_nationkey"),
          FkEdge("nation", "n_regionkey", "region", "r_regionkey"),
          FkEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          FkEdge("lineitem", "l_suppkey", "supplier_half", "s_suppkey")))
        .orderBy("child_table", "fk_col")
    }
  )
}
