package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-layout helpers: pre-shuffle fact tables once at write
  * time so every subsequent equi-join/aggregation on the bucket key
  * runs with NO exchange.
  *
  * At 100 TB this is the difference between shuffling the fact table
  * per query and shuffling it once per ingest: a lineitem⋈orders on
  * orderkey over tables bucketed by orderkey is a zero-exchange
  * sort-merge join (BucketingSpec pins the absence of
  * ShuffleExchange in the physical plan). Bucket count is chosen at
  * ingest to keep per-bucket bytes within one task's budget at the
  * target scale.
  */
object Bucketing {

  /** The external table location `target/scratch/<name>`, qualified
    * against the default filesystem's working directory. `saveAsTable`
    * resolves a relative `path` option against the warehouse instead,
    * so the write, the pre-delete or drop, and the scratch sweeps must
    * all use this one absolute value. */
  private[ops] def scratchLocation(s: SparkSession, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"target/scratch/$name")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Write `df` as a bucketed managed table (sorted within buckets so
    * sort-merge joins skip the sort too). Idempotent: drops the table
    * and any orphaned location first (an in-memory catalog forgets
    * tables across sessions but their directories survive). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df
      // ALIGN the write's partitioning with the bucket spec:
      // repartition(buckets, key) IS the bucket hash (both are
      // murmur3(key) mod buckets), so each task holds exactly one
      // bucket — one file per bucket instead of tasks × buckets
      // splinters, and the encode parallelizes across buckets instead
      // of running inside however many partitions the scan happened
      // to produce (guide §6: small files hurt twice; §2.4: share the
      // exchange with the layout you need anyway)
      .repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Bucket the two standard fact tables by order key. */
  def bucketFacts(s: SparkSession, dir: String, buckets: Int = 8): Unit = {
    writeBucketed(graft.Tables(s, dir, "lineitem"), "lineitem_b", "l_orderkey", buckets)
    writeBucketed(graft.Tables(s, dir, "orders"), "orders_b", "o_orderkey", buckets)
  }

  /** The Q3-shape revenue join over the bucketed tables — plans with
    * zero exchanges when both sides share the bucket spec. */
  def bucketedOrderRevenue(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    s.table("lineitem_b")
      .join(s.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderkey"))
  }

  /** Driver row: bucket both fact tables (EXTERNAL, under the repo
    * scratch dir), then run the revenue join over the bucketed
    * layout. The oracle is the PLAIN join SQL — bucketing must be
    * invisible in the output; only the physical plan changes (the
    * zero-exchange pin lives in BucketingSpec). Revenue is an exact
    * DECIMAL sum, so the result is independent of bucket/task order.
    *
    * Table names are FIXED and the previous copy is dropped (table
    * AND orphaned location) before each write — per-invocation
    * suffixes would accumulate a full fact-table copy per Verify/
    * Bench run. Driver rows run serially, so replacing the previous
    * invocation's tables is safe (each row fully materializes before
    * the next starts).
    *
    * At 100 TB the write happens once per ingest, not per query —
    * this row pays it inline to keep the driver check hermetic. */
  def bucketedOrderRevenueQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def write(name: String, key: String): String = {
      val table = s"${name}_bq"
      val loc = scratchLocation(s, s"bucketed_${table}")
      s.sql(s"DROP TABLE IF EXISTS $table")
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      graft.Tables(s, dir, name)
        // bucket-aligned write — see writeBucketed
        .repartition(8, col(key))
        .write
        .mode(SaveMode.Overwrite)
        .bucketBy(8, key)
        .sortBy(key)
        .option("path", loc)
        .format("parquet")
        .saveAsTable(table)
      table
    }
    val li = s.table(write("lineitem", "l_orderkey"))
    val o = s.table(write("orders", "o_orderkey"))
    val dec = (c: String) => col(c).cast("decimal(12,2)")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev_dec"))
      .select(col("o_orderkey"),
        // round the exact decimal THEN cast (matches the oracle's
        // CAST(round(decimal) AS DOUBLE) — not cast-then-round)
        round(col("rev_dec"), 2).cast("double").as("revenue"))
      .orderBy(col("o_orderkey"))
  }

  import graft.QueryDef

  val defs: Map[String, QueryDef] = Map(
    "bucketed_order_revenue" -> QueryDef(bucketedOrderRevenueQuery, Some(
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin)))
}
