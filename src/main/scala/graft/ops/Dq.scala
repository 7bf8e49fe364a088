package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The data-contract check kernels: the scan-aggregate expectations
  * behind `dq_expectations` (queries.Relational) — completeness,
  * domain-range, and accepted-values violations over a lineitem-schema
  * frame, as named CONDITIONAL-SUM aggregate columns, every one a
  * commutative, combinable sum that folds map-side in one HashAggregate
  * — and the per-relationship referential-integrity card.
  */
object Dq {

  /** The scan-aggregate expectations (everything except the keyed
    * dup-ledger and the referential probe, which need their own shapes).
    */
  def checkAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_rows"),
    sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
      .as("n_null_quantity"),
    sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
      .otherwise(0L)).as("n_range_quantity"),
    sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
      .otherwise(0L)).as("n_range_discount"),
    sum(when(year(col("l_shipdate")) < 1995 ||
      year(col("l_shipdate")) > 2001, 1L).otherwise(0L))
      .as("n_range_shipdate"),
    sum(when(col("l_returnflag").isNull ||
      !col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
      .as("n_bad_returnflag"))

  /** One referential-integrity card row for a child.fk → parent.pk
    * relationship: orphaned child rows/keys (FK violations) AND childless
    * parent keys (coverage — the direction a training-data join silently
    * drops). Shape: BOTH sides collapse to per-key counts first (two
    * combinable aggregates whose shuffles carry only the key), then one
    * key-keyed full-outer join and a 1-row fold — the exchange never
    * carries a payload column, and a duplicated parent key (the very
    * defect a DQ card exists to catch) is COUNTED once, not allowed to
    * multiply child rows the way a raw row-level join would. NULL child
    * FKs are orphan rows by definition (they reference nothing) and are
    * counted under the null key. Consumed by dq_referential (4 fixture
    * relationships) and DqCardsSpec's planted-violation corpus.
    */
  def referentialCard(label: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame = {
    val c = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c_rows"))
    val p = parent.groupBy(col(pk).as("k")).agg(count(lit(1)).as("p_rows"))
    c.join(p, Seq("k"), "full_outer")
      .agg(
        sum(coalesce(col("c_rows"), lit(0L))).as("n_child"),
        sum(when(col("p_rows").isNotNull, 1L).otherwise(0L))
          .as("n_parent"),
        sum(when(col("p_rows").isNull, col("c_rows")).otherwise(lit(0L)))
          .as("orphan_rows"),
        sum(when(col("p_rows").isNull, 1L).otherwise(0L))
          .as("orphan_keys"),
        sum(when(col("c_rows").isNull && col("p_rows").isNotNull, 1L)
          .otherwise(0L)).as("childless_parents"))
      .select(lit(label).as("relationship"), col("n_child"),
        col("n_parent"), col("orphan_rows"), col("orphan_keys"),
        col("childless_parents"),
        expr("((n_parent - childless_parents) * 1000) div " +
          "greatest(n_parent, 1)").as("coverage_pm"))
  }
}
