package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); the driver never
    // sets it, so its runs always dump the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      Harness.attempt("verify", name)(fn(spark, sfDir))(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      Harness.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ops.Graph.dropCachedLayouts(spark)
    spark.stop()
  }
}
