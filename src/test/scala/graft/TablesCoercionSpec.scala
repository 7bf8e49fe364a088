package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical-schema load layer: today's fixtures pass through
  * untouched, losslessly-widenable drift coerces silently, and
  * incompatible or missing columns fail with a one-line message naming
  * the column — the round-8 events outage generalized into a contract
  * for every table.
  */
class TablesCoercionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("current fixtures load with canonical types, untouched") {
    val li = Tables(spark, sfDir, "lineitem")
    assert(li.schema("l_orderkey").dataType === LongType)
    assert(li.schema("l_shipdate").dataType === TimestampNTZType)
    val part = Tables(spark, sfDir, "part")
    assert(part.schema("p_size").dataType === IntegerType)
    // untouched = the plan is a bare scan (no Project of casts)
    assert(!part.queryExecution.optimizedPlan.toString.contains("cast("))
  }

  test("narrowed integer ids and DATE dates coerce losslessly") {
    val dir = Files.createTempDirectory("coerce").toString
    Tables(spark, sfDir, "lineitem")
      .withColumn("l_orderkey", col("l_orderkey").cast(IntegerType))
      .withColumn("l_linenumber", col("l_linenumber").cast(ShortType))
      .withColumn("l_shipdate", col("l_shipdate").cast(DateType))
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Tables(spark, dir, "lineitem")
    assert(got.schema("l_orderkey").dataType === LongType)
    assert(got.schema("l_linenumber").dataType === IntegerType)
    assert(got.schema("l_shipdate").dataType === TimestampNTZType)
    // and the engine still computes over it: join back against orders
    Tables(spark, sfDir, "orders").write.parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("dq_expectations")(spark, dir).collect().head
    assert(r.getAs[Long]("n_orphans") === 0L)
  }

  test("DECIMAL-drifted measures coerce to the canonical double") {
    val dir = Files.createTempDirectory("coerce_dec").toString
    Tables(spark, sfDir, "lineitem")
      .withColumn("l_extendedprice",
        col("l_extendedprice").cast(DecimalType(12, 2)))
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Tables(spark, dir, "lineitem")
    assert(got.schema("l_extendedprice").dataType === DoubleType)
    // the decimal→double cast lands on the same nearest-double the
    // original double-typed writer stored (prices have exactly 2dp)
    val want = Tables(spark, sfDir, "lineitem")
      .agg(sum(col("l_extendedprice") * 100).cast(LongType)).collect().head
    val back = got
      .agg(sum(col("l_extendedprice") * 100).cast(LongType)).collect().head
    assert(back === want)
  }

  test("incompatible and missing columns fail with the column named") {
    val dir = Files.createTempDirectory("coerce_bad").toString
    Tables(spark, sfDir, "part")
      .withColumn("p_size", col("p_size").cast(StringType))
      .write.parquet(s"$dir/part.parquet")
    val e = intercept[IllegalArgumentException](Tables(spark, dir, "part"))
    assert(e.getMessage.contains("part.p_size"))

    val dir2 = Files.createTempDirectory("coerce_missing").toString
    Tables(spark, sfDir, "part").drop("p_retailprice")
      .write.parquet(s"$dir2/part.parquet")
    val e2 = intercept[IllegalArgumentException](Tables(spark, dir2, "part"))
    assert(e2.getMessage.contains("part.p_retailprice"))
  }

  test("sharded refuses a table with no spread key, naming it") {
    // only documents and embeddings are sharded; every other table is
    // read through apply, so a sharded call on one is a caller error
    val e = intercept[IllegalArgumentException](
      Tables.sharded(spark, sfDir, "customer"))
    assert(e.getMessage.contains("customer"))
  }
}
