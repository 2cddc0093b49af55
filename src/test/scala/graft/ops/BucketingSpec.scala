package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "target/scratch/warehouse")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to expose exchanges
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("driver row plans exchange-free on bucketed scans and matches the plain decimal join") {
    val df = Bucketing.bucketedOrderRevenueQuery(spark, dir)
    // (string assertions: the plan tree hides under AdaptiveSparkPlanExec)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    // neither join input may shuffle — the only allowed exchange is the
    // final ORDER BY's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed driver row must not shuffle:\n$plan")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val dec = (c: String) => col(c).cast("decimal(12,2)")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev_dec"))
      .select(col("o_orderkey"), round(col("rev_dec").cast("double"), 2).as("revenue"))
      .orderBy(col("o_orderkey")).collect()
    assert(df.collect().toSeq == plain.toSeq)
  }
}
