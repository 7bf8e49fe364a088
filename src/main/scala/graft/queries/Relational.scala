package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator surface over the TPC-H-ish fixture tables.
  *
  * The reference pipeline itself contains only filter/project/group-list
  * operators (SURVEY.md §2.1); these queries extend the engine to the full
  * relational algebra a Spark user expects — aggregation, multi-way joins,
  * window functions, top-k, semi/anti joins, rollup — each written the way
  * it should run on 100 TB: filters ahead of joins so they push to the scan,
  * small dimensions broadcast, aggregates map-side combinable, no
  * driver-side collection.
  */
object Relational {
  import Q.{fxsum, fxsumSql}

  /** The 2D Pareto skyline (minimize `p_retailprice`, maximize `p_size`)
    * of any frame carrying those columns, decomposed for distribution
    * via skyline(S) = skyline(∪ skyline(Sᵢ)) on a price-domain bucket:
    * per-price combinable max → per-bucket running-max window →
    * |price-domain / bucketWidth|-row cross-bucket carry → output-sized
    * frontier broadcast back. The base frame never shuffles and no step
    * is quadratic. Package-visible so the 1M-row scale smoke
    * (SkylineScaleSpec) drives the SAME lineage the q26 oracle gates.
    */
  private[graft] def paretoSkyline(part: org.apache.spark.sql.DataFrame,
      bucketWidth: Int): org.apache.spark.sql.DataFrame = {
    val pp = part
      .groupBy(col("p_retailprice").as("price"),
        floor(col("p_retailprice") / bucketWidth).as("bucket"))
      .agg(max(col("p_size")).as("best_size"))
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val loc = pp.withColumn("prev_local", max(col("best_size")).over(wLocal))
    val wCarry = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = pp.groupBy(col("bucket")).agg(max(col("best_size")).as("bmax"))
      .withColumn("carry_in", max(col("bmax")).over(wCarry))
      .select(col("bucket"), col("carry_in"))
    val sky = loc.join(broadcast(carry), "bucket")
      .filter(col("best_size") > greatest(
        coalesce(col("prev_local"), lit(-1)),
        coalesce(col("carry_in"), lit(-1))))
      .select(col("price"), col("best_size"))
    part.join(broadcast(sky),
      col("p_retailprice") === col("price") &&
        col("p_size") === col("best_size"))
  }

  val qs: Seq[Q] = Seq(

    // ---- q1: scan + filter + hash aggregate (TPC-H Q1 shape) -------------
    // Partial aggregation happens map-side; the shuffle carries only
    // (2-key, 5-value) rows per partition, independent of input size.
    Q("q1_agg",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            fxsum(col("l_extendedprice"), 2).as("sum_base_price"),
            fxsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("sum_disc_price"),
            (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
      },
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               ${fxsumSql("l_extendedprice", 2)} AS sum_base_price,
               ${fxsumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
               sum(l_quantity) / count(*) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus""")),

    // ---- q2: multi-way join, small dims broadcast (TPC-H Q5 shape) -------
    // lineitem⋈orders⋈customer shuffle on their keys; nation/region are
    // broadcast so the big side never moves for them.
    Q("q2_join_revenue",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            fxsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""
        SELECT r_name, n_name,
               ${fxsumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name""")),

    // ---- q3: window function (ranked top-N per group) ---------------------
    // One shuffle on o_custkey; per-partition sort only. Deterministic
    // tiebreak on o_orderkey so the oracle agrees.
    Q("q3_window_rank",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3""")),

    // ---- q4: join + aggregate + global top-k ------------------------------
    // The final orderBy/limit is a TakeOrderedAndProject: each partition
    // keeps 10 rows, the driver merges k*numPartitions rows — no global sort.
    Q("q4_topk_parts",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_partkey"), col("p_name"))
          .agg(fxsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("p_partkey").asc)
          .limit(10)
      },
      Some(s"""
        SELECT p_partkey, p_name,
               ${fxsumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey, p_name
        ORDER BY revenue DESC, p_partkey LIMIT 10""")),

    // ---- q5: distinct aggregation ----------------------------------------
    Q("q5_distinct_agg",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        c.groupBy(col("c_mktsegment"))
          .agg(
            countDistinct(col("c_nationkey")).as("n_nations"),
            count(lit(1)).as("n_cust"),
            fxsum(col("c_acctbal"), 2).as("sum_bal"))
      },
      Some(s"""
        SELECT c_mktsegment,
               count(DISTINCT c_nationkey) AS n_nations,
               count(*) AS n_cust,
               ${fxsumSql("c_acctbal", 2)} AS sum_bal
        FROM customer GROUP BY c_mktsegment""")),

    // ---- q6: semi + anti join (EXISTS / NOT EXISTS) ------------------------
    // left_semi/left_anti never materialize the right payload — at scale the
    // orders side reduces to a distinct-key set before the join.
    Q("q6_semi_anti",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        val key = col("c_custkey") === col("o_custkey")
        val has = c.join(o, key, "left_semi")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("has_orders"))
        val non = c.join(o, key, "left_anti")
          .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
          .withColumn("kind", lit("no_orders"))
        has.unionByName(non).select("c_mktsegment", "kind", "n")
      },
      Some("""
        SELECT c_mktsegment, 'has_orders' AS kind, count(*) AS n
        FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT c_mktsegment, 'no_orders' AS kind, count(*) AS n
        FROM customer WHERE NOT EXISTS
          (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment""")),

    // ---- q8: supplier-side join (every fixture table now exercised) --------
    // lineitem⋈supplier shuffle on suppkey; nation broadcast. Same textbook
    // shape as q2 from the other side of the star.
    Q("q8_supplier_revenue",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val sup = Tables(s, dir, "supplier")
        val n = Tables(s, dir, "nation")
        li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            fxsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"),
            countDistinct(col("s_suppkey")).as("n_suppliers"))
      },
      Some(s"""
        SELECT n_name,
               ${fxsumSql("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
               count(DISTINCT s_suppkey) AS n_suppliers
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name""")),

    // ---- q9: date bucketing (calendar aggregation) --------------------------
    // year/month extraction + aggregation: integer date parts, so the
    // grouping is engine-exact; one combinable aggregate.
    Q("q9_monthly_revenue",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.groupBy(
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("n_orders"),
            fxsum(col("o_totalprice"), 2).as("revenue"))
      },
      Some(s"""
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mo,
               count(*) AS n_orders,
               ${fxsumSql("o_totalprice", 2)} AS revenue
        FROM orders GROUP BY 1, 2""")),

    // ---- q10: window frames (moving aggregate) ------------------------------
    // Per-customer 3-order moving sum over order history: one shuffle on
    // o_custkey, per-partition sort, ROWS frame — no global sort. Sum is
    // fixed-point over the framed values for engine-exact arithmetic.
    Q("q10_moving_sum",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(-2, 0)
        o.select(col("o_custkey"), col("o_orderkey"),
          (sum(round(col("o_totalprice") * 100).cast("long")).over(w) / 100.0)
            .as("moving_rev"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0
                 AS moving_rev
        FROM orders""")),

    // ---- q11: set operations (INTERSECT / EXCEPT) ---------------------------
    // Customers active in both 1995 and 1996 vs only 1995; Spark's
    // intersect/except are set-semantics (distinct), same as SQL.
    Q("q11_setops",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        def custsIn(yr: Int) =
          o.filter(year(col("o_orderdate")) === yr).select("o_custkey")
        val both = custsIn(1995).intersect(custsIn(1996))
          .withColumn("kind", lit("both_years"))
        val only94 = custsIn(1995).except(custsIn(1996))
          .withColumn("kind", lit("only_first"))
        both.unionByName(only94)
          .groupBy(col("kind")).agg(count(lit(1)).as("n_custs"))
      },
      Some("""
        WITH y1 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
             y2 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        SELECT 'both_years' AS kind, count(*) AS n_custs
        FROM (SELECT * FROM y1 INTERSECT SELECT * FROM y2)
        UNION ALL
        SELECT 'only_first' AS kind, count(*) AS n_custs
        FROM (SELECT * FROM y1 EXCEPT SELECT * FROM y2)""")),

    // ---- q12: pivot (rows → columns) ----------------------------------------
    // groupBy().pivot() with an explicit value list: the explicit list
    // keeps the plan one pass (no extra distinct-values job) — required at
    // scale, and exactly mirrorable as conditional aggregates.
    Q("q12_pivot_status",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.groupBy(year(col("o_orderdate")).as("yr"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("yr"), col("F").as("n_f"), col("O").as("n_o"),
            col("P").as("n_p"))
      },
      Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        FROM orders GROUP BY 1""")),

    // ---- q13: histogram (fixed-width binning) -------------------------------
    // Integer cents → integer floor-division bins: engine-exact, one
    // combinable aggregate; bin_lo is an exact double (multiple of 25000).
    Q("q13_histogram",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.select((round(col("o_totalprice") * 100).cast("long") / lit(2500000L))
            .cast("long").as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_orders"))
          .select(col("bin"), (col("bin") * 25000.0).as("bin_lo"),
            col("n_orders"))
      },
      Some("""
        SELECT bin, bin * 25000.0 AS bin_lo, count(*) AS n_orders
        FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 2500000
                AS bin FROM orders)
        GROUP BY bin""")),

    // ---- q14: correlated subquery, decorrelated -----------------------------
    // "Orders above their customer's average": the oracle states the
    // correlated form; the engine runs the decorrelated plan — one
    // aggregate over the same table joined back on the key (shuffle on
    // o_custkey both sides, map-side combinable agg). The comparison is
    // integer cross-multiplied (cents × count > sum) so no division
    // enters the predicate.
    Q("q14_above_avg",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        val avgs = o.groupBy(col("o_custkey"))
          .agg(sum(col("cents")).as("sum_c"), count(lit(1)).as("n_c"))
        o.join(avgs, "o_custkey")
          .filter(col("cents") * col("n_c") > col("sum_c"))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders o1
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) *
                (SELECT count(*) FROM orders o2
                 WHERE o2.o_custkey = o1.o_custkey)
              > (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)""")),

    // ---- q15: cube (full grouping-sets lattice) -----------------------------
    Q("q15_cube",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), fxsum(col("o_totalprice"), 2).as("rev"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("n"), col("rev"))
      },
      Some(s"""
        SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
               coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n, ${fxsumSql("o_totalprice", 2)} AS rev
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // ---- q16: ntile (within-partition quantile buckets) ---------------------
    // Partitioned by market segment so no global sort exists: each
    // segment sorts on its own reducer (the inherent cost of ntile —
    // a total order per partition key; salting cannot apply because
    // bucket boundaries are global per key). Deterministic tiebreak on
    // c_custkey.
    Q("q16_ntile",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        c.select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"))
      },
      Some("""
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS quartile
        FROM customer""")),

    // ---- q17: exact percentiles ---------------------------------------------
    // Exact (sort-based) quantiles over integer cents at q ∈ {.25,.5,.75}:
    // the interpolation fraction is then a power-of-two multiple, so
    // lo + (hi-lo)*f is exact in double and both engines agree bit-wise.
    // (percentile_approx exists for the sketch path but is not
    // cross-engine checkable.) Grouped by status: the sort is per-group,
    // never global.
    Q("q17_percentiles",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        o.groupBy(col("o_orderstatus"))
          .agg(
            expr("percentile(cents, 0.25)").as("p25_cents"),
            expr("percentile(cents, 0.5)").as("p50_cents"),
            expr("percentile(cents, 0.75)").as("p75_cents"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT o_orderstatus,
               quantile_cont(cents, 0.25) AS p25_cents,
               quantile_cont(cents, 0.5) AS p50_cents,
               quantile_cont(cents, 0.75) AS p75_cents,
               count(*) AS n
        FROM (SELECT o_orderstatus,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders)
        GROUP BY o_orderstatus""")),

    // ---- q17b: sketch percentiles, rank-error-checked ------------------------
    // The scale-safe twin of q17: approx_percentile's GK sketch is a
    // combinable partial aggregate — only fixed-size sketches cross the
    // shuffle, vs q17's exact `percentile` which concentrates every value
    // of the table into 3 ObjectHashAggregate buffers. The sketch value
    // itself is not cross-engine reproducible, so (sim_recall pattern) the
    // query emits the VERDICT: each returned value's true rank interval
    // [count(<v)+1, count(<=v)] must intersect the documented bound
    // (q ± 1/accuracy)·n. Rank measurement is a second combinable agg over
    // a 3-row broadcast join — nothing wide, nothing driver-side.
    Q("q17b_percentiles_approx",
      (s, dir) => {
        val acc = 1000 // GK guarantee: rank error ≤ n/acc
        val eps = 1.0 / acc
        val o = Tables(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        val approx = o.groupBy(col("o_orderstatus"))
          .agg(expr(
            s"approx_percentile(cents, array(0.25, 0.5, 0.75), $acc)")
            .as("ap"))
          .select(col("o_orderstatus"),
            col("ap")(0).as("a25"), col("ap")(1).as("a50"),
            col("ap")(2).as("a75"))
        def okFlag(q: Double, le: Column, lt: Column): Column =
          (le.cast("double") >= (lit(q) - eps) * col("n") - 1.0 &&
            lt.cast("double") <= (lit(q) + eps) * col("n") + 1.0)
            .cast("long")
        o.join(broadcast(approx), Seq("o_orderstatus"))
          .groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("cents") <= col("a25"), 1L).otherwise(0L)).as("le25"),
            sum(when(col("cents") < col("a25"), 1L).otherwise(0L)).as("lt25"),
            sum(when(col("cents") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("cents") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("cents") <= col("a75"), 1L).otherwise(0L)).as("le75"),
            sum(when(col("cents") < col("a75"), 1L).otherwise(0L)).as("lt75"))
          .select(col("o_orderstatus"), col("n"),
            okFlag(0.25, col("le25"), col("lt25")).as("p25_ok"),
            okFlag(0.50, col("le50"), col("lt50")).as("p50_ok"),
            okFlag(0.75, col("le75"), col("lt75")).as("p75_ok"))
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n,
               CAST(1 AS BIGINT) AS p25_ok, CAST(1 AS BIGINT) AS p50_ok,
               CAST(1 AS BIGINT) AS p75_ok
        FROM orders
        GROUP BY o_orderstatus""")),

    // ---- q18: analytic rank metrics -----------------------------------------
    // percent_rank / cume_dist / rank over a unique ordering (tiebreak on
    // c_custkey ⇒ rank = row_number, divisions of small exact ints ⇒
    // bit-identical doubles). Same per-segment sort as q16 — no global
    // sort exists.
    Q("q18_rank_metrics",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        c.select(col("c_mktsegment"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          rank().over(w).as("rnk"))
      },
      Some("""
        SELECT c_mktsegment, c_custkey,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               rank() OVER w AS rnk
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey)""")),

    // ---- q19: statistical aggregates, scale-exactly -------------------------
    // Variance and correlation from EXACT integer power sums (Σx, Σx²,
    // Σxy fit in longs for these columns), with the textbook formulas
    // applied once in double at the end. Built-in stddev/corr use
    // streaming (Welford-style) updates whose fp error differs by
    // partitioning AND engine; the power-sum form is one combinable
    // aggregate and bit-identical everywhere.
    Q("q19_stats_exact",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("q"),
            round(col("l_discount") * 100).cast("long").as("d"))
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd"),
            sum(col("q") * col("d")).as("sqd"))
          .select(col("l_returnflag"), col("n"),
            (col("sq").cast("double") / col("n")).as("mean_qty"),
            ((col("n") * col("sqq") - col("sq") * col("sq")).cast("double") /
              (col("n") * (col("n") - 1)).cast("double")).as("var_qty"),
            ((col("n") * col("sqd") - col("sq") * col("sd")).cast("double") /
              (sqrt((col("n") * col("sqq") - col("sq") * col("sq"))
                .cast("double")) *
               sqrt((col("n") * col("sdd") - col("sd") * col("sd"))
                 .cast("double")))).as("corr_qty_disc"))
      },
      Some("""
        WITH t AS (
          SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                 CAST(round(l_discount * 100) AS BIGINT) AS d
          FROM lineitem),
        a AS (
          SELECT l_returnflag, count(*) AS n,
                 CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q*q) AS BIGINT) AS sqq,
                 CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d*d) AS BIGINT) AS sdd,
                 CAST(sum(q*d) AS BIGINT) AS sqd
          FROM t GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               CAST(sq AS DOUBLE) / n AS mean_qty,
               CAST(n*sqq - sq*sq AS DOUBLE) / CAST(n*(n-1) AS DOUBLE)
                 AS var_qty,
               CAST(n*sqd - sq*sd AS DOUBLE) /
                 (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) *
                  sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) AS corr_qty_disc
        FROM a""")),

    // ---- q20: full outer join -----------------------------------------------
    // Per-nation customer vs supplier accounting where either side may be
    // absent — completes the join-type surface (inner, semi, anti, left
    // via as-of, broadcast variants are all gated elsewhere). Aggregate
    // first, then join: the outer join sees one row per nation per side.
    Q("q20_full_outer",
      (s, dir) => {
        val c = Tables(s, dir, "customer").groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val sup = Tables(s, dir, "supplier").groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      },
      Some("""
        WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                   FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                   FROM supplier GROUP BY 1)
        SELECT coalesce(c.nk, s.nk) AS nationkey,
               coalesce(c.n_cust, 0) AS n_cust,
               coalesce(s.n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nk = s.nk""")),

    // ---- q7: rollup (grouping sets) ----------------------------------------
    Q("q7_rollup",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
            col("sum_qty"), col("n"))
      },
      Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // ---- q21: histogram-quantile sketch vs exact ----------------------------
    // The at-scale quantile pattern: exact percentiles (q17) buffer every
    // value per group; a bounded equi-width histogram (buckets of $10k of
    // cents) is one map-side-combinable aggregation whose state is the
    // FIXED grid, then the quantile is read off the tiny histogram with a
    // running sum — the shuffle carries (status, bucket, count), never
    // values. est = lower edge of the first bucket whose cumulative count
    // reaches ⌈n/2⌉, reported next to the exact interpolated median; the
    // error is bounded by the bucket width by construction.
    Q("q21_histogram_quantiles",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        val hist = o.groupBy(col("o_orderstatus"),
            expr("cents div 1000000").as("b"))
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy(col("o_orderstatus")).orderBy(col("b"))
        val wAll = Window.partitionBy(col("o_orderstatus"))
        val est = hist
          .select(col("o_orderstatus"), col("b"),
            sum(col("c")).over(wCum).as("cum"),
            sum(col("c")).over(wAll).as("n"))
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .groupBy(col("o_orderstatus"))
          .agg(min(col("b")).as("bmin"), max(col("n")).as("n"))
          .select(col("o_orderstatus"), col("n"),
            (col("bmin") * 1000000L).as("p50_est_cents"))
        val exact = o.groupBy(col("o_orderstatus"))
          .agg(expr("percentile(cents, 0.5)").as("p50_exact_cents"))
        est.join(exact, "o_orderstatus")
          .select(col("o_orderstatus"), col("n"),
            col("p50_est_cents"), col("p50_exact_cents"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        hist AS (
          SELECT o_orderstatus, cents // 1000000 AS b, count(*) AS c
          FROM o GROUP BY 1, 2),
        cum AS (
          SELECT o_orderstatus, b,
                 sum(c) OVER (PARTITION BY o_orderstatus ORDER BY b) AS cum,
                 sum(c) OVER (PARTITION BY o_orderstatus) AS n
          FROM hist),
        est AS (
          SELECT o_orderstatus, CAST(max(n) AS BIGINT) AS n,
                 min(b) * 1000000 AS p50_est_cents
          FROM cum WHERE cum >= (n + 1) // 2
          GROUP BY 1),
        ex AS (
          SELECT o_orderstatus, quantile_cont(cents, 0.5) AS p50_exact_cents
          FROM o GROUP BY 1)
        SELECT e.o_orderstatus, e.n, e.p50_est_cents, ex.p50_exact_cents
        FROM est e JOIN ex ON ex.o_orderstatus = e.o_orderstatus""")),

    // ---- q22: explicit GROUPING SETS ---------------------------------------
    // The third member of the multi-aggregation family: q7 ROLLUP
    // (hierarchical prefixes) and q15 CUBE (all combinations) can't
    // express two NON-nested side-by-side breakdowns; GROUPING SETS
    // ((status), (priority)) computes both in ONE pass over orders —
    // Catalyst expands to a single Expand + hash aggregate, so the input
    // is read once where two separate groupBys would scan twice.
    // grouping() disambiguates which set a row belongs to (a NULL key
    // value vs a rolled-up column).
    Q("q22_grouping_sets",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.groupingSets(
            Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
            col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), fxsum(col("o_totalprice"), 2).as("rev"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("n"), col("rev"))
      },
      Some(s"""
        SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
               coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n, ${fxsumSql("o_totalprice", 2)} AS rev
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")),

    // ---- q23: Z-order (Morton) clustering keys ------------------------------
    // The data-LAYOUT operator (ops/ZOrder): interleave two filter
    // columns' bucket bits into one clustering key so a range-partitioned,
    // z-sorted table prunes parquet min/max stats on EITHER column
    // (Delta/Iceberg OPTIMIZE ZORDER). The key is constant-unrolled shift/
    // mask arithmetic fused by codegen — this query gates the key math
    // cross-engine; ZOrderSpec proves the layout's pruning claim
    // (bounded per-partition boxes in both dims vs a single-column sort).
    Q("q23_zorder",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(col("c_custkey"),
            pmod(col("c_custkey"), lit(256L)).as("bx"),
            // abs() first: acctbal can be negative, and Spark's pmod vs
            // SQL's % disagree there — abs-then-mod agrees everywhere
            pmod(abs(round(col("c_acctbal") * 100).cast("long")), lit(256L))
              .as("by"))
        c.withColumn("z", graft.ops.ZOrder.zValue(col("bx"), col("by"), 8))
      },
      Some(s"""
        SELECT c_custkey, bx, by, ${graft.ops.ZOrder.zValueSql("bx", "by", 8)} AS z
        FROM (
          SELECT c_custkey, c_custkey % 256 AS bx,
                 abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 256 AS by
          FROM customer)""")),

    // ---- sketch-based self-join size estimation (AMS via count-min) ---------
    // The optimizer's question before any big join: how large is
    // |A ⋈ B|? For a self-join on o_custkey that is the second frequency
    // moment F2 = Σ_c n_c², and the count-min grid answers it WITHOUT
    // the per-key groupBy: est = min over depths of Σ_w grid[j][w]² (the
    // AMS/CM inner-product identity — collisions only ever inflate, so
    // it is an overestimate whose per-depth error has EXPECTATION
    // ≤ N²/width — Markov, concentrated by the min over depths, not a
    // deterministic bound — and width is sized ≥ N²/F2 to keep that
    // below the signal). One fixed 4×2048
    // grid crosses the shuffle (64 KB — bounded regardless of key
    // cardinality); the exact F2 runs alongside so the evaluation is
    // oracle-checked too, and the two single-row sides combine by
    // union + max — joins on constant keys fold to the forbidden
    // BNLJ/Cartesian nodes, a union never plans a join at all.
    Q("q24_selfjoin_estimate",
      (s, dir) => {
        val d = 4; val w = 2048
        val cm = udaf(new graft.functions.CountMinSketch(d, w))
        val keys = Tables(s, dir, "orders")
          .select(col("o_custkey").cast("string").as("k"))
        val sk = keys
          .select(graft.functions.CountMinSketch
            .bucketCols(col("k"), d, w).as("b"))
          .agg(cm(col("b")).as("grid"), count(lit(1)).as("n_rows"))
        val est = (0 until d).map(j =>
          aggregate(slice(col("grid"), j * w + 1, w), lit(0L),
            (acc, v) => acc + v * v))
          .reduce(least(_, _))
        val exact = keys.groupBy(col("k")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * col("n")).as("exact_selfjoin"))
        // combine the two single-row sides by union + max, not a join: a
        // constant-key join folds to the forbidden BNLJ under constant
        // propagation
        sk.select(col("n_rows"), est.as("est_selfjoin"),
            lit(null).cast("long").as("exact_selfjoin"))
          .unionByName(exact.select(
            lit(null).cast("long").as("n_rows"),
            lit(null).cast("long").as("est_selfjoin"),
            col("exact_selfjoin")))
          .agg(max(col("n_rows")).as("n_rows"),
            max(col("est_selfjoin")).as("est_selfjoin"),
            max(col("exact_selfjoin")).as("exact_selfjoin"))
      },
      Some {
        val d = 4; val w = 2048
        def bucketSql(j: Int) =
          s"CAST(('0x' || substr(md5('$j|' || k), 1, 15)) AS BIGINT) % $w"
        val grids = (0 until d).map(j =>
          s"g$j AS (SELECT ${bucketSql(j)} AS b, count(*) AS c FROM k GROUP BY 1)")
          .mkString(",\n        ")
        val f2s = (0 until d)
          .map(j => s"(SELECT CAST(sum(c * c) AS BIGINT) FROM g$j)")
          .mkString(", ")
        s"""
        WITH k AS (
          SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
        $grids,
        ex AS (
          SELECT CAST(sum(n * n) AS BIGINT) AS exact_selfjoin
          FROM (SELECT count(*) AS n FROM k GROUP BY k))
        SELECT (SELECT count(*) FROM k) AS n_rows,
               least($f2s) AS est_selfjoin,
               ex.exact_selfjoin
        FROM ex"""
      }),

    // ---- q25: one-pass column profiling (the lake-onboarding operator) ---
    // What an engineer runs FIRST against an unknown 100 TB table: per
    // column — null count, exact distinct count, numeric/temporal min and
    // max — computed in ONE scan. The multi-column distinct agg rewrites
    // to a single Expand(×cols+1) + two-phase HashAggregate, so the input
    // is read once regardless of how many columns are profiled; the final
    // stack() unpivot to one-row-per-column is a projection over the
    // single aggregate row. Strings profile null/distinct only (numeric
    // bounds are NULL); timestamps profile as epoch ms. Scale swap:
    // approx_count_distinct replaces the exact distinct (and the Expand
    // collapses away) when ±2% is acceptable — same plan otherwise.
    Q("q25_profile",
      (s, dir) => {
        // widened: the Expand(×7)+partial-agg stage fuses onto the scan
        // and is the whole cost of this query — serial on the fixture's
        // single-row-group file (guide §2.6 starved-scan shape; measured
        // 2.9 → 1.8 s at sf0.1, no-op on a real lake)
        val li = Tables.widened(s, dir, "lineitem", "l_orderkey")
        // one spec row per profiled column — (name, numeric-bound expr or
        // None for strings) — drives BOTH the aggregate list and the
        // stack() unpivot, so a label can never transpose onto another
        // column's stats
        val specs: Seq[(String, Option[Column])] = Seq(
          "l_orderkey" -> Some(col("l_orderkey")),
          "l_quantity" -> Some(col("l_quantity")),
          "l_extendedprice" -> Some(col("l_extendedprice")),
          "l_returnflag" -> None,
          "l_linestatus" -> None,
          "l_shipdate" ->
            Some(unix_millis(col("l_shipdate").cast("timestamp"))))
        val aggs = specs.zipWithIndex.flatMap { case ((c, num), i) =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn$i"),
            countDistinct(col(c)).as(s"nd$i")) ++
            num.toSeq.flatMap(b => Seq(min(b).cast("double").as(s"mn$i"),
              max(b).cast("double").as(s"mx$i")))
        }
        val stackRows = specs.zipWithIndex.map { case ((c, num), i) =>
          val bounds =
            if (num.isDefined) s"mn$i, mx$i"
            else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
          s"'$c', nn$i, nd$i, $bounds"
        }.mkString(",\n            ")
        li.agg(count(lit(1)).as("n_rows"), aggs: _*)
          .selectExpr("n_rows", s"""stack(${specs.size},
            $stackRows)
            AS (col_name, n_nulls, n_distinct, min_num, max_num)""")
      },
      Some("""
        WITH s AS (SELECT
          count(*) AS n_rows,
          CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
          count(DISTINCT l_orderkey) AS nd1,
          CAST(min(l_orderkey) AS DOUBLE) AS mn1, CAST(max(l_orderkey) AS DOUBLE) AS mx1,
          CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
          count(DISTINCT l_quantity) AS nd2,
          CAST(min(l_quantity) AS DOUBLE) AS mn2, CAST(max(l_quantity) AS DOUBLE) AS mx2,
          CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
          count(DISTINCT l_extendedprice) AS nd3,
          CAST(min(l_extendedprice) AS DOUBLE) AS mn3, CAST(max(l_extendedprice) AS DOUBLE) AS mx3,
          CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
          count(DISTINCT l_returnflag) AS nd4,
          CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn5,
          count(DISTINCT l_linestatus) AS nd5,
          CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn6,
          count(DISTINCT l_shipdate) AS nd6,
          CAST(min(epoch_ms(l_shipdate)) AS DOUBLE) AS mn6,
          CAST(max(epoch_ms(l_shipdate)) AS DOUBLE) AS mx6
          FROM lineitem)
        SELECT * FROM (
          SELECT 'l_orderkey' AS col_name, n_rows, nn1 AS n_nulls, nd1 AS n_distinct,
                 mn1 AS min_num, mx1 AS max_num FROM s
          UNION ALL SELECT 'l_quantity', n_rows, nn2, nd2, mn2, mx2 FROM s
          UNION ALL SELECT 'l_extendedprice', n_rows, nn3, nd3, mn3, mx3 FROM s
          UNION ALL SELECT 'l_returnflag', n_rows, nn4, nd4, NULL, NULL FROM s
          UNION ALL SELECT 'l_linestatus', n_rows, nn5, nd5, NULL, NULL FROM s
          UNION ALL SELECT 'l_shipdate', n_rows, nn6, nd6, mn6, mx6 FROM s)""")),

    // ---- q26: Pareto skyline, decomposed for distribution ------------------
    // The classic preference operator Spark has no node for: parts no
    // other part beats on BOTH axes (lower p_retailprice, higher p_size).
    // The naive form is a NOT EXISTS self-join — quadratic and
    // unshippable. This plan uses the skyline's distributivity,
    // skyline(S) = skyline(∪ skyline(Sᵢ)), split on a VALUE-domain
    // bucket: (1) collapse to one row per distinct price (combinable
    // max), (2) a per-bucket running max over prices settles dominance
    // within each bucket in parallel, (3) a second running max over the
    // |buckets|-row per-bucket maxima (bounded by the price DOMAIN / 10,
    // never by row count — the allowlisted model-sized global window)
    // carries dominance across buckets, (4) the surviving (price, size)
    // frontier — output-sized — broadcasts back against the base table.
    // No self-join, no corpus-sized single-partition sort at any step.
    Q("q26_skyline",
      (s, dir) => paretoSkyline(Tables(s, dir, "part"), bucketWidth = 10)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
          col("p_size")),
      Some("""
        WITH pp AS (
          SELECT p_retailprice AS price,
                 CAST(floor(p_retailprice / 10) AS BIGINT) AS bucket,
                 max(p_size) AS best_size
          FROM part GROUP BY 1, 2),
        loc AS (
          SELECT *, max(best_size) OVER (PARTITION BY bucket ORDER BY price
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prev_local
          FROM pp),
        bk AS (SELECT bucket, max(best_size) AS bmax FROM pp GROUP BY 1),
        carry AS (
          SELECT bucket, max(bmax) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS carry_in
          FROM bk),
        sky AS (
          SELECT l.price, l.best_size
          FROM loc l JOIN carry c ON c.bucket = l.bucket
          WHERE l.best_size > greatest(coalesce(l.prev_local, -1),
                                       coalesce(c.carry_in, -1)))
        SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
        FROM part p JOIN sky
          ON sky.price = p.p_retailprice AND sky.best_size = p.p_size""")),

    // ---- data-quality expectations gate (the deequ/Great-Expectations op) --
    // The contract check a 100 TB ingest runs BEFORE anything downstream
    // trusts a drop: completeness (nulls), domain ranges, accepted
    // values, key uniqueness, and referential integrity — compiled into
    // ONE combinable scan aggregate over lineitem plus two keyed checks
    // (a count-per-key duplicate ledger and an anti-join orphan probe
    // against orders, both shuffling only the key columns), joined as
    // 1-row broadcasts into a single verdict row. This is the round-8
    // fixture-drift lesson as an OPERATOR: the same shape that guards
    // this repo's fixtures (FixtureSchemaSpec) exposed as a reusable
    // data-contract query.
    Q("dq_expectations",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val ord = Tables(s, dir, "orders").select(col("o_orderkey"))
        val orphans = li.select(col("l_orderkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        // primary-key uniqueness on the parent table (this lake's lineitem
        // deliberately has non-unique line numbers, so the PK contract
        // lives where the data actually declares one)
        val dups = ord.groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n_dup_keys"))
        // the scan-aggregate checks are ops.Dq.checkAggs: named,
        // combinable conditional sums over the one lineitem scan
        val checkAggs = graft.ops.Dq.checkAggs
        val checks = li.agg(checkAggs.head, checkAggs.tail: _*)
        checks.crossJoin(broadcast(dups)).crossJoin(broadcast(orphans))
          .withColumn("passed",
            col("n_null_quantity") === 0 && col("n_range_quantity") === 0 &&
              col("n_range_discount") === 0 && col("n_range_shipdate") === 0 &&
              col("n_bad_returnflag") === 0 && col("n_dup_keys") === 0 &&
              col("n_orphans") === 0)
      },
      Some("""
        WITH c AS (
          SELECT count(*) AS n_rows,
            CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_null_quantity,
            CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
              THEN 1 ELSE 0 END) AS BIGINT) AS n_range_quantity,
            CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
              THEN 1 ELSE 0 END) AS BIGINT) AS n_range_discount,
            CAST(sum(CASE WHEN year(l_shipdate) < 1995
              OR year(l_shipdate) > 2001 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_range_shipdate,
            CAST(sum(CASE WHEN l_returnflag IS NULL
              OR l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bad_returnflag
          FROM lineitem),
        d AS (
          SELECT coalesce(CAST(sum(cnt - 1) AS BIGINT), 0) AS n_dup_keys
          FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey)
          WHERE cnt > 1),
        o AS (
          SELECT count(*) AS n_orphans FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
        SELECT c.*, d.n_dup_keys, o.n_orphans,
               (n_null_quantity = 0 AND n_range_quantity = 0
                AND n_range_discount = 0 AND n_range_shipdate = 0
                AND n_bad_returnflag = 0 AND n_dup_keys = 0
                AND n_orphans = 0) AS passed
        FROM c CROSS JOIN d CROSS JOIN o""")),

    // ---- Bloom-runtime-filter join (semi-join reduction, explicit) ---------
    // The shuffle-reduction play behind every engine's "runtime filter"
    // / sideways information passing, as a first-class operator: a
    // selective dimension predicate (one order quarter ≈ 1/26 of keys)
    // builds a Bloom filter of qualifying keys (ONE combinable bitset
    // aggregate, 2^16 bits), which ships to the fact scan as a 1-row
    // broadcast and prunes lineitem BEFORE its join exchange — at 100 TB
    // the exchange this elides is the dominant cost, and Spark's own
    // InSubquery runtime filters cap out where an explicit Bloom does
    // not. The ORACLE IS THE PLAIN JOIN: no false negatives means the
    // exact join after the filter returns identical rows, so the gate
    // proves the Bloom invisible (the ops/Salt discipline); the spec
    // measures that the filter actually prunes.
    Q("q27_bloom_join",
      (s, dir) => {
        import graft.functions.BloomSketch
        val k = 4; val bits = 1 << 16
        val qual = Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
        val bl = udaf(new BloomSketch(bits / 64))
        val bloom = qual
          .select(BloomSketch.fastPositions(
            col("o_orderkey"), k, bits).as("pos"))
          .agg(bl(col("pos")).as("bloom"))
        val pruned = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"))
          .crossJoin(broadcast(bloom))
          .filter(BloomSketch.fastMightContain(col("bloom"),
            col("l_orderkey"), k, bits))
          .drop("bloom")
        pruned.join(qual.select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            fxsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
      },
      Some(s"""
        SELECT o.o_orderpriority, count(*) AS n_items,
               ${fxsumSql("l.l_extendedprice * (1 - l.l_discount)", 4)}
                 AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY 1"""))
  ,

    // ---- k-anonymity / l-diversity card (the privacy gate) -----------------
    // What a release review asks before customer-derived data ships to
    // training: how re-identifiable are rows under their quasi-
    // identifiers (nation × market segment — the attacker-observable
    // columns), and does any equivalence class leak its sensitive
    // attribute (the balance magnitude) by being internally uniform.
    // k_min = the smallest class (k-anonymity), rows_at_risk/risk_pm =
    // population inside sub-k=5 classes, l_div_min = the least diverse
    // class's distinct sensitive values (l-diversity). ONE combinable
    // (QID) aggregate then a class-table fold — nothing row-sized after
    // the first exchange; bucketing is floor over one mirrored IEEE
    // division so the class structure is bit-identical cross-engine.
    Q("dq_kanon",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / lit(1000.0)).as("bal_bucket"))
        c.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("bal_bucket")).as("ldiv"))
          .agg(sum(col("n")).as("n_rows"),
            count(lit(1)).as("n_classes"),
            min(col("n")).as("k_min"),
            sum(when(col("n") < 5, col("n")).otherwise(0L))
              .as("rows_at_risk"),
            min(col("ldiv")).as("l_div_min"))
          .select(col("n_rows"), col("n_classes"), col("k_min"),
            col("rows_at_risk"),
            expr("(rows_at_risk * 1000) div n_rows").as("risk_pm"),
            col("l_div_min"),
            (col("k_min") >= 5).cast("long").as("k_anon_ok"))
      },
      Some("""
        WITH cls AS (
          SELECT c_nationkey, c_mktsegment, count(*) AS n,
                 count(DISTINCT floor(c_acctbal / 1000e0)) AS ldiv
          FROM customer GROUP BY 1, 2),
        card AS (
          SELECT CAST(sum(n) AS BIGINT) AS n_rows,
                 count(*) AS n_classes, min(n) AS k_min,
                 CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                   AS rows_at_risk,
                 min(ldiv) AS l_div_min
          FROM cls)
        SELECT n_rows, n_classes, k_min, rows_at_risk,
               (rows_at_risk * 1000) // n_rows AS risk_pm, l_div_min,
               CAST(k_min >= 5 AS BIGINT) AS k_anon_ok
        FROM card""")),

    // ---- Benford first-digit integrity card ---------------------------------
    // The classic numeric-integrity screen over a monetary column: the
    // first significant digit's distribution vs Benford's law. The
    // digit derives through EXACT integer cents (round(bal·100) → BIGINT
    // → VARCHAR → first char): double→string formatting differs between
    // engines, but integer→string does not — that detour is what makes
    // a digit-of-a-double hash-gateable. Benford per-mille shares are
    // round(log10(1+1/d)·1000) literals (they sum to exactly 1000), so
    // no transcendental runs at query time. One combinable digit
    // aggregate + a 1-row total cross (the allowlisted dq shape);
    // TPC-H's uniform balances fail the screen loudly — which is the
    // point of a card whose verdict column is the deviation itself.
    Q("dq_benford",
      (s, dir) => {
        val cents = expr("CAST(round(c_acctbal * 100) AS BIGINT)")
        val digits = Tables(s, dir, "customer")
          .select(cents.as("cents"))
          .filter(col("cents") =!= 0)
          .select(substring(abs(col("cents")).cast("string"), 1, 1)
            .cast("long").as("digit"))
          .groupBy(col("digit"))
          .agg(count(lit(1)).as("n_obs"))
        val total = digits.agg(sum(col("n_obs")).as("n_total"))
        val benfordPm = typedLit(Map(1L -> 301L, 2L -> 176L, 3L -> 125L,
          4L -> 97L, 5L -> 79L, 6L -> 67L, 7L -> 58L, 8L -> 51L,
          9L -> 46L))
        digits.crossJoin(broadcast(total))
          .select(col("digit"), col("n_obs"),
            expr("(n_obs * 1000) div n_total").as("obs_pm"),
            element_at(benfordPm, col("digit")).as("benford_pm"))
          .withColumn("dev_pm", abs(col("obs_pm") - col("benford_pm")))
      },
      Some("""
        WITH digs AS (
          SELECT CAST(substr(CAST(abs(cents) AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit, count(*) AS n_obs
          FROM (SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer)
          WHERE cents <> 0 GROUP BY 1),
        tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM digs),
        bf AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
                      unnest([301,176,125,97,79,67,58,51,46]) AS pm)
        SELECT d.digit, d.n_obs,
               (d.n_obs * 1000) // t.n_total AS obs_pm,
               CAST(bf.pm AS BIGINT) AS benford_pm,
               abs((d.n_obs * 1000) // t.n_total - bf.pm) AS dev_pm
        FROM digs d CROSS JOIN tot t JOIN bf ON bf.digit = d.digit""")),

    // ---- ε-differentially-private histogram (seeded, deterministic) --------
    // The release shape for sharing aggregate statistics about a
    // training corpus: per-type event counts + Laplace(b = 1/ε) noise,
    // ε = 0.5. Real DP draws fresh randomness; a HASH-GATED pipeline
    // needs the noise DETERMINISTIC and cross-engine, so the uniform
    // draw is the salted-md5 numeric prefix (the house sampling rule: a
    // keyed, replayable pseudo-draw — the seeded-noise discipline of
    // reproducible-DP releases) pushed through the exact Laplace
    // inverse CDF x = −b·sign(u−½)·ln(1−2|u−½|). Everything stays
    // integer-exact: h ∈ [0, 2⁶⁰) from 15 hex digits, the centered
    // magnitude m = max(2⁵⁹ − |h − 2⁵⁹|, 1) is an exact BIGINT, ln runs
    // ONCE over that integer and micro-quantizes at source (the
    // txt_bm25/q28 rule), ln(2⁵⁹)·10⁶ is the literal 40895684. One
    // combinable aggregate; |types| rows.
    Q("dq_dp_hist",
      (s, dir) => {
        val two59 = 576460752303423488L
        Tables.events(s, dir)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .withColumn("h", expr("CAST(conv(substring(md5(concat(" +
            "'dpseed', event_type)), 1, 15), 16, 10) AS BIGINT)"))
          .withColumn("d", col("h") - lit(two59))
          .withColumn("m", greatest(lit(two59) - abs(col("d")), lit(1L)))
          .withColumn("noise_micro",
            when(col("d") < 0, lit(-1L)).otherwise(lit(1L)) * lit(2L) *
              (lit(40895684L) -
                expr("CAST(round(ln(m) * 1000000) AS BIGINT)")))
          .select(col("event_type"), col("n"),
            lit(500000L).as("epsilon_micro"), col("noise_micro"),
            (col("n") * lit(1000000L) + col("noise_micro"))
              .as("dp_n_micro"))
      },
      Some("""
        WITH g AS (
          SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        hn AS (
          SELECT event_type, n,
                 CAST('0x' || substr(md5('dpseed' || event_type), 1, 15)
                   AS BIGINT) - 576460752303423488 AS d
          FROM g),
        nz AS (
          SELECT event_type, n, d,
                 GREATEST(576460752303423488 - abs(d), 1) AS m
          FROM hn)
        SELECT event_type, n, CAST(500000 AS BIGINT) AS epsilon_micro,
               (CASE WHEN d < 0 THEN -1 ELSE 1 END) * 2 *
                 (40895684 - CAST(round(ln(m) * 1000000) AS BIGINT))
                 AS noise_micro,
               n * 1000000 +
                 (CASE WHEN d < 0 THEN -1 ELSE 1 END) * 2 *
                 (40895684 - CAST(round(ln(m) * 1000000) AS BIGINT))
                 AS dp_n_micro
        FROM nz""")),

    // ---- freshness SLA card --------------------------------------------------
    // Per event type: volume, last-seen time, and the lag behind the
    // corpus frontier — the staleness screen a scheduled ingest runs
    // before training on "yesterday's" data (a type whose feed died
    // shows up as a growing lag long before a row-count alarm fires).
    // Exact epoch-ms integers on both engines (unix_millis ↔ epoch_ms,
    // the ev_* precedent); one combinable aggregate + the 1-row
    // frontier cross (the allowlisted dq card shape).
    Q("dq_freshness",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val byType = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            max(unix_millis(col("ts"))).as("last_ms"))
        val frontier = e.agg(max(unix_millis(col("ts")))
          .as("corpus_last_ms"))
        byType.crossJoin(broadcast(frontier))
          .select(col("event_type"), col("n"), col("last_ms"),
            (col("corpus_last_ms") - col("last_ms")).as("lag_ms"),
            (col("corpus_last_ms") - col("last_ms") > 86400000L)
              .cast("long").as("stale_1d"))
      },
      Some("""
        WITH t AS (
          SELECT event_type, count(*) AS n, max(epoch_ms(ts)) AS last_ms
          FROM events GROUP BY 1),
        f AS (SELECT max(epoch_ms(ts)) AS corpus_last_ms FROM events)
        SELECT event_type, n, last_ms,
               corpus_last_ms - last_ms AS lag_ms,
               CAST(corpus_last_ms - last_ms > 86400000 AS BIGINT)
                 AS stale_1d
        FROM t CROSS JOIN f""")),

    // ---- completeness card ---------------------------------------------------
    // Null/blank rates per column over the documents table — the
    // field-level twin of dq_expectations' row-level gate (a corpus can
    // pass every row predicate while a source quietly ships empty lang
    // tags). ONE pass computes every column's null count (and the
    // trimmed-blank count for text); the per-column rows unfold from
    // the 1-row aggregate via a 4-element explode — |columns| output
    // rows, nothing row-sized after the scan.
    Q("dq_completeness",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val agg = d.agg(
          count(lit(1)).as("n_rows"),
          sum(col("text").isNull.cast("long")).as("null_text"),
          sum((col("text").isNotNull && trim(col("text")) === "")
            .cast("long")).as("blank_text"),
          sum(col("lang").isNull.cast("long")).as("null_lang"),
          sum(col("source").isNull.cast("long")).as("null_source"),
          sum(col("n_chars").isNull.cast("long")).as("null_n_chars"))
        agg.select(col("n_rows"), explode(array(
            struct(lit("text").as("column_name"),
              col("null_text").as("n_null"),
              col("blank_text").as("n_blank")),
            struct(lit("lang").as("column_name"),
              col("null_lang").as("n_null"), lit(0L).as("n_blank")),
            struct(lit("source").as("column_name"),
              col("null_source").as("n_null"), lit(0L).as("n_blank")),
            struct(lit("n_chars").as("column_name"),
              col("null_n_chars").as("n_null"), lit(0L).as("n_blank"))))
            .as("c"))
          .select(col("c.column_name").as("column_name"), col("n_rows"),
            col("c.n_null").as("n_null"), col("c.n_blank").as("n_blank"),
            expr("((n_rows - c.n_null - c.n_blank) * 1000) div n_rows")
              .as("complete_pm"))
      },
      Some("""
        WITH a AS (
          SELECT count(*) AS n_rows,
            CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS null_text,
            CAST(sum(CASE WHEN text IS NOT NULL AND trim(text) = ''
              THEN 1 ELSE 0 END) AS BIGINT) AS blank_text,
            CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS null_lang,
            CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_source,
            CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_n_chars
          FROM documents)
        SELECT column_name, n_rows, n_null, n_blank,
               ((n_rows - n_null - n_blank) * 1000) // n_rows
                 AS complete_pm
        FROM (
          SELECT 'text' AS column_name, n_rows, null_text AS n_null,
                 blank_text AS n_blank FROM a
          UNION ALL SELECT 'lang', n_rows, null_lang,
                 CAST(0 AS BIGINT) FROM a
          UNION ALL SELECT 'source', n_rows, null_source,
                 CAST(0 AS BIGINT) FROM a
          UNION ALL SELECT 'n_chars', n_rows, null_n_chars,
                 CAST(0 AS BIGINT) FROM a)""")),

    // ---- join-key skew card (the "when to salt" measurement) ---------------
    // Every shuffle in this engine keys on one of a handful of columns;
    // at 100 TB the difference between a clean plan and a melted
    // executor is whether any ONE key owns too large a share of its
    // table. This card measures exactly that for the star schema's
    // join/group keys: rows, distinct keys, the heaviest key's row
    // count, its per-mille share, and its multiple of the mean key
    // (milli) — the number an operator compares against the reducer
    // budget before choosing ops/Salt (two-phase salted aggregation) or
    // AQE skew-join handling. One groupBy + one 1-row fold per
    // relation; only (key, count) pairs ever shuffle, and the heaviest
    // key's IDENTITY is deliberately not reported (max over counts is
    // deterministic; an arg-max tie would not be).
    Q("dq_skew",
      (s, dir) => {
        def card(table: String, key: String) =
          Tables(s, dir, table)
            .groupBy(col(key)).agg(count(lit(1)).as("n"))
            .agg(sum(col("n")).as("n_rows"),
              count(lit(1)).as("n_keys"),
              max(col("n")).as("top1_n"))
            .select(lit(s"$table.$key").as("relation"),
              col("n_rows"), col("n_keys"), col("top1_n"),
              expr("(top1_n * 1000) div n_rows").as("top1_pm"),
              expr("(top1_n * n_keys * 1000) div n_rows")
                .as("skew_x_milli"))
        Seq(
          card("orders", "o_custkey"),
          card("lineitem", "l_orderkey"),
          card("lineitem", "l_partkey"),
          card("lineitem", "l_suppkey"),
          card("events", "user_id"),
          card("events", "event_type"),
          card("documents", "source")).reduce(_.unionByName(_))
      },
      Some {
        def cardSql(table: String, key: String) = s"""
          SELECT '$table.$key' AS relation,
                 CAST(sum(n) AS BIGINT) AS n_rows,
                 count(*) AS n_keys,
                 CAST(max(n) AS BIGINT) AS top1_n,
                 (CAST(max(n) AS BIGINT) * 1000) // CAST(sum(n) AS BIGINT)
                   AS top1_pm,
                 (CAST(max(n) AS BIGINT) * count(*) * 1000) //
                   CAST(sum(n) AS BIGINT) AS skew_x_milli
          FROM (SELECT $key, count(*) AS n FROM $table GROUP BY 1)"""
        Seq(
          cardSql("orders", "o_custkey"),
          cardSql("lineitem", "l_orderkey"),
          cardSql("lineitem", "l_partkey"),
          cardSql("lineitem", "l_suppkey"),
          cardSql("events", "user_id"),
          cardSql("events", "event_type"),
          cardSql("documents", "source")).mkString(" UNION ALL ")
      }),

    // ---- referential-integrity card (FK orphans + parent coverage) ---------
    // The cross-TABLE data-quality gate dq_expectations (row predicates)
    // and dq_completeness (field nulls) cannot express: for each foreign
    // key in the star schema, how many child rows reference a missing
    // parent (orphans — a violated join would silently DROP them in an
    // inner-join pipeline) and how many parents have no children
    // (coverage — the denominator a per-customer aggregate silently
    // loses). Four relationships, one card. Each row is ops.Dq
    // .referentialCard: both sides pre-collapse to per-key counts, so
    // every exchange carries only the key — at 100 TB the lineitem→part
    // probe shuffles |distinct partkey| rows, never line items — and a
    // duplicate parent key is counted, not multiplied through. The
    // fixture is referentially CLEAN (orphans = 0 — that's the gate
    // passing, not a vacuous check: DqCardsSpec proves the same lineage
    // counts planted violations exactly); childless_parents is the
    // live signal (customers without orders exist at every TPC-H scale).
    Q("dq_referential",
      (s, dir) => {
        import graft.ops.Dq
        val rels = Seq(
          ("orders.o_custkey->customer.c_custkey",
            Tables(s, dir, "orders"), "o_custkey",
            Tables(s, dir, "customer"), "c_custkey"),
          ("lineitem.l_orderkey->orders.o_orderkey",
            Tables(s, dir, "lineitem"), "l_orderkey",
            Tables(s, dir, "orders"), "o_orderkey"),
          ("lineitem.l_partkey->part.p_partkey",
            Tables(s, dir, "lineitem"), "l_partkey",
            Tables(s, dir, "part"), "p_partkey"),
          ("lineitem.l_suppkey->supplier.s_suppkey",
            Tables(s, dir, "lineitem"), "l_suppkey",
            Tables(s, dir, "supplier"), "s_suppkey"))
        rels.map { case (label, c, fk, p, pk) =>
          Dq.referentialCard(label, c, fk, p, pk)
        }.reduce(_.unionByName(_))
      },
      Some {
        def rel(label: String, child: String, fk: String,
            parent: String, pk: String) = s"""
          SELECT '$label' AS relationship, n_child, n_parent,
                 orphan_rows, orphan_keys, childless_parents,
                 ((n_parent - childless_parents) * 1000) //
                   greatest(n_parent, 1) AS coverage_pm
          FROM (
            SELECT CAST(sum(coalesce(c_rows, 0)) AS BIGINT) AS n_child,
                   CAST(sum(CASE WHEN p_rows IS NOT NULL THEN 1 ELSE 0
                     END) AS BIGINT) AS n_parent,
                   CAST(sum(CASE WHEN p_rows IS NULL THEN c_rows ELSE 0
                     END) AS BIGINT) AS orphan_rows,
                   CAST(sum(CASE WHEN p_rows IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS orphan_keys,
                   CAST(sum(CASE WHEN c_rows IS NULL AND p_rows IS NOT
                     NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS childless_parents
            FROM (SELECT $fk AS k, count(*) AS c_rows
                  FROM $child GROUP BY 1) c
            FULL OUTER JOIN (SELECT $pk AS k, count(*) AS p_rows
                  FROM $parent GROUP BY 1) p USING (k))"""
        Seq(
          rel("orders.o_custkey->customer.c_custkey",
            "orders", "o_custkey", "customer", "c_custkey"),
          rel("lineitem.l_orderkey->orders.o_orderkey",
            "lineitem", "l_orderkey", "orders", "o_orderkey"),
          rel("lineitem.l_partkey->part.p_partkey",
            "lineitem", "l_partkey", "part", "p_partkey"),
          rel("lineitem.l_suppkey->supplier.s_suppkey",
            "lineitem", "l_suppkey", "supplier", "s_suppkey"))
          .mkString(" UNION ALL ")
      }),

    // ---- primary-key uniqueness card (every table, one row each) -----------
    // The governance card's other half: per table, declared-key
    // cardinality vs row count — a duplicated key is the defect that
    // turns every downstream join into silent row multiplication (the
    // dq_referential card counts parents once precisely because this
    // card might be red). Each row is ONE combinable aggregate —
    // count(*) plus an exact two-phase count(DISTINCT key) whose shuffle
    // carries only the key (the composite lineitem key travels as its
    // two integer columns, never a concatenated string) — and the ten
    // 1-row results union. At 100 TB per-table cost is a keyed
    // distinct-aggregate scan, embarrassingly parallel across tables.
    Q("dq_pk_unique",
      (s, dir) => {
        val tabs: Seq[(String, Seq[String])] = Seq(
          "region" -> Seq("r_regionkey"),
          "nation" -> Seq("n_nationkey"),
          "customer" -> Seq("c_custkey"),
          "supplier" -> Seq("s_suppkey"),
          "part" -> Seq("p_partkey"),
          "orders" -> Seq("o_orderkey"),
          "lineitem" -> Seq("l_orderkey", "l_linenumber"),
          "events" -> Seq("event_id"),
          "documents" -> Seq("doc_id"),
          "embeddings" -> Seq("vec_id"))
        // widened on the three big tables: the countDistinct Expand +
        // partial agg fuses onto the single-row-group scan and runs
        // serially (the q25_profile shape); the small dimension tables
        // are not worth an exchange
        val wideKey = Map("lineitem" -> "l_orderkey",
          "orders" -> "o_orderkey", "events" -> "event_id")
        tabs.map { case (t, pks) =>
          wideKey.get(t).fold(Tables(s, dir, t))(k =>
            Tables.widened(s, dir, t, k))
            .agg(count(lit(1)).as("n_rows"),
              countDistinct(pks.head, pks.tail: _*).as("n_keys"))
            .select(lit(t).as("table_name"),
              lit(pks.mkString(",")).as("pk"),
              col("n_rows"), col("n_keys"),
              (col("n_rows") - col("n_keys")).as("dup_rows"),
              expr("((n_rows - n_keys) * 1000) div greatest(n_rows, 1)")
                .as("dup_pm"))
        }.reduce(_.unionByName(_))
      },
      Some {
        def one(t: String, pks: Seq[String]) = {
          val d = if (pks.size == 1) pks.head
                  else s"(${pks.mkString(", ")})"
          s"""
          SELECT '$t' AS table_name, '${pks.mkString(",")}' AS pk,
                 count(*) AS n_rows,
                 CAST(count(DISTINCT $d) AS BIGINT) AS n_keys,
                 CAST(count(*) - count(DISTINCT $d) AS BIGINT)
                   AS dup_rows,
                 ((count(*) - count(DISTINCT $d)) * 1000) //
                   greatest(count(*), 1) AS dup_pm
          FROM $t"""
        }
        Seq("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
          "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
          "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
          "lineitem" -> Seq("l_orderkey", "l_linenumber"),
          "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
          "embeddings" -> Seq("vec_id"))
          .map { case (t, p) => one(t, p) }.mkString(" UNION ALL ")
      }),

    // ---- DDSketch-layout quantiles: log buckets, bounded RELATIVE error ----
    // The third quantile machine, for the regime the others miss:
    // q17/q17b are exact/approx on raw values, q21's equi-width grid
    // bounds ABSOLUTE error (useless across magnitudes), the moments
    // sketch assumes smooth bodies. Log-width buckets (the DDSketch
    // layout, Masson et al. VLDB'19) give a fixed ±1% RELATIVE error at
    // ANY magnitude from a |buckets| ≈ ln(range)/ln(γ) aggregate —
    // ~1.2k buckets spans 10 orders of magnitude, the mergeable shape a
    // p99-latency/price pipeline ships. bucket = ⌈ln(cents)/ln(γ)⌉ with
    // γ=(1+α)/(1−α), α=1%: ln is micro-quantized at source over EXACT
    // integer cents (the txt_bm25 rule) and ln(γ)·10⁶ is the integer
    // literal 20001, so bucketing is pure integer arithmetic both
    // engines. Rank selection avoids division: cum ≥ ⌈q·n/100⌉ ⟺
    // 100·cum ≥ q·n over exact longs. Windows partition by flag over
    // the |flags|×|buckets| aggregate — model-sized, never row-sized.
    Q("q28_ddsketch",
      (s, dir) => {
        val hist = Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            expr("""CAST(round(ln(CAST(round(l_extendedprice * 100)
                    AS BIGINT)) * 1000000) AS BIGINT)""").as("li"))
          .select(col("flag"), expr("(li + 20000) div 20001").as("bucket"))
          .groupBy(col("flag"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
        val byFlag = Window.partitionBy(col("flag"))
        val cum = hist.select(col("flag"), col("bucket"), col("cnt"),
          sum(col("cnt")).over(byFlag.orderBy(col("bucket"))).as("cum"),
          sum(col("cnt")).over(byFlag).as("n"),
          count(lit(1)).over(byFlag).as("n_buckets"))
        cum.select(col("flag"), col("bucket"), col("cum"), col("n"),
            col("n_buckets"),
            explode(array(lit(50), lit(95), lit(99))).as("q"))
          .filter(col("cum") * 100 >= col("q") * col("n"))
          .groupBy(col("flag"), col("q"))
          .agg(min(col("bucket")).as("est_bucket"), max(col("n")).as("n"),
            max(col("n_buckets")).as("n_buckets"))
      },
      Some("""
        WITH h AS (
          SELECT l_returnflag AS flag,
                 (CAST(round(ln(CAST(round(l_extendedprice * 100)
                    AS BIGINT)) * 1000000) AS BIGINT) + 20000) // 20001
                   AS bucket,
                 count(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        c AS (
          SELECT flag, bucket, cnt,
                 sum(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
                 sum(cnt) OVER (PARTITION BY flag) AS n,
                 count(*) OVER (PARTITION BY flag) AS n_buckets
          FROM h),
        e AS (SELECT c.*, q
              FROM c CROSS JOIN (SELECT unnest([50, 95, 99]) AS q))
        SELECT flag, q, min(bucket) AS est_bucket,
               CAST(max(n) AS BIGINT) AS n, max(n_buckets) AS n_buckets
        FROM e WHERE cum * 100 >= q * n
        GROUP BY 1, 2"""))
  )
}
