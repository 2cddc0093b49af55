package graft.kdc

import org.apache.spark.sql.SparkSession

/** CLI entry: raw Heimdal KDC logs → TSV reports, the Spark
  * re-expression of the reference's `UserTimeRunner` job
  * (`/root/reference/.../UserTimeRunner.java:34-48`; default output
  * `user \t firstts \t lastts \t count` per `UserTimeRec.java:128-130`,
  * with the corrected min/max semantics — SURVEY.md §2.4) plus the
  * reports the Perl pipelines produce from the same parse
  * (`perl/kdcmapper.pl` `u:`/`s:` branches,
  * `perl/kdcmapper-with-enctypes.pl` composite keys, README #6 error
  * histogram).
  *
  * Usage: KdcMain <input logs (file/dir/glob)> <output dir> [realm]
  *                [--v2] [--recursive] [--scope=k=v[,k=v…]] [--report=R]
  *
  * Arguments are checked before any session or output exists: an
  * unknown flag, `--recursive` or `--scope` without `--v2`, or an
  * unknown report fails with `IllegalArgumentException` and the usage
  * text. A session that `main` created is stopped however the run
  * ends.
  *
  * Runs on `local[N]` with N = `SPARK_GRAFT_CPUS`, default all available
  * cores (`SPARK_MASTER` overrides the master), in the
  * [[graft.Harness]] session; inside an existing session it runs there,
  * leaving that session's conf as it is.
  *
  * `--recursive` (with `--v2`) descends nested fleet layouts
  * (host=…/day=… trees); without it a nested dir fails loudly, like
  * Hadoop input formats.
  *
  * `--scope=k=v[,k=v…]` (requires `--v2`) scopes the report to the
  * named partition-path values of a `k=v` fleet layout (e.g.
  * `--scope=day=2015-11-22`): each pair becomes an equality filter on
  * the layout-discovered partition column, which the V2 planner
  * evaluates DRIVER-SIDE during split planning — out-of-scope FILES
  * are never opened (a day-scoped report over a year of logs reads
  * 1/365th of the bytes). A key the layout does not expose fails
  * loudly at analysis. Scope values are RAW path-segment strings:
  * they compare byte-for-byte against the directory segment (no
  * URL-decoding or unescaping on either side — a percent-encoded
  * layout is scoped with the encoded form), and a value containing a
  * comma, the pair separator, cannot be expressed — use a path glob
  * for such layouts ([[graft.kdc.v2.KdcFileLayout.parseScope]]).
  *
  * `--report=R` with R ∈ user (default) | service | errors |
  * user-enctypes | service-enctypes.
  * Both sources parse with the same split-aligned session reader
  * ([[KdcSessionInputFormat]], incl. splittable bzip2). The default is
  * the Dataset reader ([[KdcSource.recordsAligned]]); `--v2` reads
  * through the DataSourceV2 table ([[graft.kdc.v2.KdcLogTableProvider]]),
  * where the realm argument's filter PUSHES into the parse scan
  * (foreign-realm sessions are never materialized) — the 100 TB
  * posture for scoped reports. To make that pushdown real the realm
  * filter is applied BEFORE the counters observe node (Catalyst does
  * not push predicates through CollectMetrics), so under `--v2` with a
  * realm the counters count IN-SCOPE sessions only; the default source
  * keeps the reference's all-records counter semantics.
  */
object KdcMain {

  /** The report frame [[main]] writes, factored out so specs can pin
    * the executed plan (pushed filters on the `--v2` path). The realm
    * scopes the dimension the report aggregates — client realm for
    * user reports, service realm for service reports, nothing for the
    * error histogram — matching [[KdcQueries.successfulAuths]]/
    * [[KdcQueries.serviceUses]]; the report functions re-apply the
    * same predicate (idempotent) for the default source.
    *
    * `aligned` no longer selects anything: without `useV2` the source
    * is always [[KdcSource.recordsAligned]]. The parameter stays so
    * that callers which name it keep compiling. */
  def buildReport(spark: SparkSession, in: String, realm: Option[String],
                  report: String, useV2: Boolean, aligned: Boolean,
                  recursive: Boolean = false,
                  scope: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    require(scope.isEmpty || useV2,
      "--scope filters partition-path columns, which only the --v2 fleet layout exposes")
    require(!recursive || useV2, "--recursive descends nested layouts only under --v2")
    val realmPred = realm.flatMap(r => report match {
      case "user" | "user-enctypes" => Some(col("crealm") === r)
      case "service" | "service-enctypes" => Some(col("srealm") === r)
      case _ => None // errors report is unscoped, like the reference's
    })
    val source =
      if (useV2) {
        val df = spark.read.format("kdclog")
          .option("recursive", recursive.toString).load(in)
        // scope filters reference layout-discovered partition columns
        // only, so the V2 planner resolves them to whole-FILE pruning
        // at split planning (an unknown key fails analysis loudly)
        val scoped = scope.foldLeft(df) { case (acc, (k, v)) =>
          acc.filter(col(k) === v)
        }
        realmPred.fold(scoped)(scoped.filter)
          .as(org.apache.spark.sql.Encoders.product[KdcLogRecord])
      } else KdcSource.recordsAligned(spark, in)
    val recs = KdcQueries.withCounters(source)
    report match {
      case "user" =>
        KdcQueries.userAuthStats(recs, realm)
          .select("client", "first_ts", "last_ts", "n_auth")
      case "service" =>
        KdcQueries.serviceUseStats(recs, realm)
          .select("service", "first_ts", "last_ts", "n_req")
      case "errors" =>
        KdcQueries.commonErrors(recs)
      case "user-enctypes" =>
        KdcQueries.userEnctypeStats(recs, realm)
          .select("client", "enctype", "n_auth", "first_ts", "last_ts")
      case "service-enctypes" =>
        KdcQueries.serviceEnctypeStats(recs, realm)
          .select("service", "enctype_key", "n_req", "first_ts", "last_ts")
      case other =>
        throw new IllegalArgumentException(s"unknown --report=$other")
    }
  }

  private val Reports =
    Seq("user", "service", "errors", "user-enctypes", "service-enctypes")

  private val Usage =
    "usage: KdcMain <input> <outdir> [realm] [--v2] [--recursive] " +
      s"[--scope=k=v[,k=v…]] [--report=${Reports.mkString("|")}]\n" +
      "note: under --v2 with a realm the counters count IN-SCOPE sessions only " +
      "(the realm filter pushes into the parse scan); the default source keeps " +
      "the reference's all-records counter semantics\n" + graft.Harness.usage

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    def check(ok: Boolean, why: => String): Unit =
      if (!ok) throw new IllegalArgumentException(s"$why\n$Usage")
    def valueOf(prefix: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(prefix) => f.stripPrefix(prefix) }
    flags.foreach(f => check(f == "--v2" || f == "--recursive" ||
      f.startsWith("--report=") || f.startsWith("--scope="), s"unknown flag $f"))
    check(positional.length >= 2, "missing <input> or <outdir>")
    val useV2 = flags.contains("--v2")
    val recursive = flags.contains("--recursive")
    val report = valueOf("--report=").getOrElse("user")
    check(Reports.contains(report), s"unknown --report=$report")
    check(!recursive || useV2, "--recursive requires --v2")
    val scope: Map[String, String] = valueOf("--scope=")
      .map(graft.kdc.v2.KdcFileLayout.parseScope).getOrElse(Map.empty)
    check(scope.isEmpty || useV2, "--scope requires --v2")
    val Array(in, out) = positional.take(2)
    val realm = positional.lift(2)
    // only stop the session on exit if this invocation created it —
    // callers embedding main() in an existing session keep theirs,
    // conf included
    val preExisting = graft.Harness.existing.isDefined
    val spark = graft.Harness.session(s"kdc-$report")
    try {
      val result = buildReport(spark, in, realm, report, useV2 = useV2,
        aligned = false, recursive = recursive, scope = scope)
      // TSV via the shared formatting expression (oracle-checked through
      // kdc_parse_user_report_tsv) rather than the CSV writer — the
      // reference's reducers emit plain join("\t") lines with no quoting
      KdcQueries.tsvLines(result).write.mode("overwrite").text(out)
    } finally if (!preExisting) spark.stop()
  }
}
