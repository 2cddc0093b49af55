package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** CLI entry: continuously tail a directory of raw KDC logs and emit
  * per-user daily auth counts to the console each micro-batch — the
  * Structured Streaming twin of [[graft.kdc.KdcMain]].
  *
  * Usage: StreamMain <log dir> [realm] [runSeconds (default: drain once and exit)]
  *
  * `runSeconds` must be a whole number of seconds; anything else fails
  * with `IllegalArgumentException` and the usage text before a session
  * exists.
  *
  * Runs on `local[N]` with N = `SPARK_GRAFT_CPUS`, default all available
  * cores (`SPARK_MASTER` overrides the master), in the
  * [[graft.Harness]] session; inside an existing session it runs there
  * and leaves it running. A session it created is stopped however the
  * run ends.
  */
object StreamMain {
  private val Usage =
    "usage: StreamMain <logdir> [realm] [runSeconds]\n" + graft.Harness.usage

  def main(args: Array[String]): Unit = {
    def check(ok: Boolean, why: => String): Unit =
      if (!ok) throw new IllegalArgumentException(s"$why\n$Usage")
    check(args.nonEmpty, "missing <logdir>")
    val logDir = args(0)
    val realm = args.lift(1).filter(_.nonEmpty)
    val runSeconds = args.lift(2).map { s =>
      check(s.toIntOption.isDefined, s"runSeconds must be an integer, got '$s'")
      s.toInt
    }
    val preExisting = graft.Harness.existing.isDefined
    val spark = graft.Harness.session("kdc-user-time-stream")
    try {
      val q = StreamingPipeline.streamingUserAuthCounts(spark, logDir, realm)
        .writeStream.outputMode("complete")
        .format("console").option("truncate", "false")
        .trigger(Trigger.ProcessingTime("2 seconds"))
        .start()
      try runSeconds match {
        case Some(sec) => q.awaitTermination(sec * 1000L)
        case None      => q.processAllAvailable()
      } finally q.stop()
    } finally if (!preExisting) spark.stop()
  }
}
