package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** CLI entry: continuously tail a directory of raw KDC logs and emit
  * per-user daily auth counts to the console each micro-batch — the
  * Structured Streaming twin of [[graft.kdc.KdcMain]].
  *
  * Usage: StreamMain <log dir> [realm] [runSeconds (default: drain once and exit)]
  *
  * Runs on `local[N]` with N = `SPARK_GRAFT_CPUS`, default all available
  * cores (`SPARK_MASTER` overrides the master), in the
  * [[graft.Harness]] session.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: StreamMain <logdir> [realm] [runSeconds]\n" + graft.Harness.usage)
    val logDir = args(0)
    val realm = args.lift(1).filter(_.nonEmpty)
    val runSeconds = args.lift(2).flatMap(_.toIntOption)
    val spark = graft.Harness.session("kdc-user-time-stream")
    val q = StreamingPipeline.streamingUserAuthCounts(spark, logDir, realm)
      .writeStream.outputMode("complete")
      .format("console").option("truncate", "false")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    runSeconds match {
      case Some(sec) => q.awaitTermination(sec * 1000L); q.stop()
      case None      => q.processAllAvailable(); q.stop()
    }
    spark.stop()
  }
}
