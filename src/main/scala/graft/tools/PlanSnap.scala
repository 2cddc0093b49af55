package graft.tools

import java.nio.file.{Files, Paths}

/** Per-query plan snapshots for the optimization rounds: writes
  * `plans/<round>/<query>_<tag>.txt` with `explain("formatted")` for
  * each named query — the committed before/after evidence the
  * optimization judge checks plan claims against.
  *
  * Usage: runMain graft.tools.PlanSnap <round> <tag> <query> [query…]
  * e.g.   runMain graft.tools.PlanSnap r13 before embedding_whitening
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <round> <tag> <query>…")
    val (round, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // Bench's session, so the committed plans are the benched plans
    val spark = graft.Harness.session("graft-plansnap")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(s"plans/$round"))
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"plans/$round/${name}_$tag.txt"), plan)
      println(s"plans/$round/${name}_$tag.txt written")
      graft.Harness.release(spark)
    }
    graft.ops.Graph.dropCachedLayouts(spark)
    spark.stop()
  }
}
