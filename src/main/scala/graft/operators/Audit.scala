package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-audit surface: the pre-publish gate a 100 TB ingest runs before a
  * snapshot goes live — column profiling (the stats a human or an optimizer
  * reads first) and declared-constraint validation over the FK STAR (the
  * dbt-test/Deequ shape: PK uniqueness, every declared FK edge, domain and
  * non-null rules as violation COUNTS, so the gate is "all zeros or no
  * publish"). [[Relational.constraintReport]] is the per-rule REPORT shape
  * (n_checked/passed, one FK edge); this is the multi-edge star audit that
  * complements it.
  *
  * Both are audit PASSES, not row transforms, and both are LAZY single
  * DAGs: profile is ONE aggregation over the table (all columns in a
  * single scan — never one job per column), constraints union one
  * conditional-sum aggregate per table with one anti-join COUNT AGGREGATE
  * per FK edge — no eager action fires until the caller runs the frame
  * (an eager `.count()` per check at plan-build time would run a corpus
  * job per rule before any row is asked for). At 100 TB
  * that is the floor: every check needs the rows it checks, each FK
  * mismatch set is an AQE-broadcast anti join, and nothing shuffles more
  * than the 1-row aggregates.
  */
object Audit {

  /** Numeric column profile as ONE aggregation: per column — row count,
    * nulls, distinct count, min/max, and a DECIMAL-exact sum (the four
    * doubles are 2-decimal money/rate values, so the decimal sum is exact
    * and order-independent — hash-gateable). The multi-column distinct
    * counts plan as one Expand aggregation: a constant fan-out factor per
    * row, one shuffle total, not a job per column.
    * Output: (col_name, n_rows, n_null, n_distinct, min_val, max_val,
    * sum_val) — one row per profiled column.
    */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).as(s"${c}__min"),
        max(col(c)).as(s"${c}__max"),
        sum(col(c).cast("decimal(28,6)")).cast("double").as(s"${c}__sum"))
    }
    // ONE aggregated row, pivoted to one OUTPUT row per column by a
    // constant-size explode over structs — still a single scan/aggregate
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${c}__nn")).as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").cast("double").as("min_val"),
        col(s"${c}__max").cast("double").as("max_val"),
        col(s"${c}__sum").as("sum_val"))
    }
    row.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** The lineitem money/rate/quantity profile — the registered audit entry. */
  def lineitemProfile(spark: SparkSession, dir: String): DataFrame =
    numericProfile(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  private def rule(name: String, n: Column): Column =
    struct(lit(name).as("constraint"), n.cast("long").as("n_violations"))

  /** One FK edge as a LAZY 1-row aggregate: anti join leaves only the
    * orphaned fact rows, the count aggregate reduces them to one number in
    * the same DAG (AQE broadcasts the dim side when it fits). */
  private def fkViolations(name: String, fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame =
    fact.join(dim, fact(factKey) === dim(dimKey), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(rule(name, col("n")).as("r"))

  /** Declared-constraint validation over the star schema, as violation
    * counts: PK uniqueness (rows − distinct keys), FK integrity on every
    * declared edge (anti-join mismatch COUNT AGGREGATES, in-DAG), and
    * domain/non-null rules (conditional sums — ALL of a table's row-local
    * rules ride one scan). A clean snapshot is all zeros; AuditSpec proves
    * each rule fires on deliberately dirtied data. Output: (constraint,
    * n_violations), one row per declared rule, ordered by name.
    */
  def constraintViolationsFor(li: DataFrame, ord: DataFrame, cust: DataFrame,
      part: DataFrame): DataFrame = {
    // row-local rules: one conditional-sum scan per table, exploded to
    // one row per rule
    val liRules = li.agg(
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L).otherwise(0L))
        .as("dom_discount_in_unit_range"),
      sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("dom_quantity_positive"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nn_shipdate_not_null"))
      .select(explode(array(
        rule("dom_discount_in_unit_range", col("dom_discount_in_unit_range")),
        rule("dom_quantity_positive", col("dom_quantity_positive")),
        rule("nn_shipdate_not_null", col("nn_shipdate_not_null")))).as("r"))
    val ordRules = ord.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("pk_orders_unique"),
      sum(when(col("o_totalprice") < 0.0, 1L).otherwise(0L)).as("dom_totalprice_nonnegative"))
      .select(explode(array(
        rule("pk_orders_unique", col("pk_orders_unique")),
        rule("dom_totalprice_nonnegative", col("dom_totalprice_nonnegative")))).as("r"))
    Seq(
      liRules,
      ordRules,
      fkViolations("fk_lineitem_orderkey", li, "l_orderkey", ord, "o_orderkey"),
      fkViolations("fk_lineitem_partkey", li, "l_partkey", part, "p_partkey"),
      fkViolations("fk_orders_custkey", ord, "o_custkey", cust, "c_custkey"))
      .reduce(_ unionByName _)
      .select(col("r.constraint").as("constraint"), col("r.n_violations").as("n_violations"))
      .orderBy(col("constraint"))
  }

  /** The registered star-schema audit over the fixture tables. */
  def constraintViolations(spark: SparkSession, dir: String): DataFrame =
    constraintViolationsFor(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.part(spark, dir))
}
