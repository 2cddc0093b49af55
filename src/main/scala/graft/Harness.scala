package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session contract of the entry points (Bench, Verify,
  * KdcMain, StreamMain, PlanSnap), and the only place that
  * reads its environment:
  *
  *  - `SPARK_GRAFT_CPUS` (default: the JVM's available processors) sets
  *    `local[cpus]` and the shuffle partition count;
  *  - `SPARK_MASTER` overrides the master;
  *  - `SPARK_GRAFT_BROADCAST_THRESHOLD` (default 64m) sets the
  *    auto-broadcast threshold. The 10 MB default dates to 1 GB
  *    executors; any executor sized for modern batch work holds a 64 MB
  *    hash relation without pressure, and the mid-size dimension/edge
  *    frames here (strong-tie edges, posting sizes, split labels) then
  *    broadcast instead of shuffling both sides (A/B evidence in
  *    OPTIMIZATION_r13.md).
  *
  * Verify runs the same session as Bench, so the oracle checks the
  * exact physical plans the bench times. */
object Harness {

  /** Master and session conf for an environment lookup. */
  private[graft] def contract(env: String => Option[String])
      : (String, Map[String, String]) = {
    val cpus = env("SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    env("SPARK_MASTER").getOrElse(s"local[$cpus]") -> Map(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      // harmless for TIMESTAMP(MICROS) testdata vintages; lets
      // TIMESTAMP(NANOS) vintages (which Spark 4 otherwise rejects)
      // read as long, converted in ops.EventQueries.events
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" ->
        env("SPARK_GRAFT_BROADCAST_THRESHOLD").getOrElse("64m"),
      "spark.ui.enabled" -> "false")
  }

  private lazy val (master, conf) = contract(sys.env.get)

  /** The usage line of the CLI entry points. */
  val usage = "runs on local[SPARK_GRAFT_CPUS] (default: all available cores); " +
    "SPARK_MASTER overrides the master"

  /** The caller's session, if one is active or registered as default. */
  def existing: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The contract session. A session that already exists is returned
    * unchanged: a caller embedding an entry point (a spec calling
    * `KdcMain.main`) keeps its own conf. */
  def session(appName: String): SparkSession = existing.getOrElse {
    val spark = SparkSession.builder().master(master).appName(appName)
      .config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between-queries release, run once a query's results are fully
    * materialized: operators persist() derived frames internally, and
    * the fixpoint loops leave their final round's checkpoint blocks,
    * which clearCache never touches. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    org.apache.spark.sql.graftbridge.CheckpointBridge.sweepLocalCheckpoints(spark)
  }

  /** Builds one query's frame (phase `construct`) and runs its sink
    * (phase `execute`). A failure prints
    * `[tag] name failed in phase: exception-class: message` to stderr
    * and returns false. */
  def attempt(tag: String, name: String)(build: => DataFrame)
      (sink: DataFrame => Unit): Boolean = {
    var phase = "construct"
    try {
      val df = build
      phase = "execute"
      sink(df)
      true
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed in $phase: $e")
      false
    }
  }
}
