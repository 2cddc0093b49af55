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
  *                [--recursive] [--scope=k=v[,k=v…]] [--report=R]
  *
  * Arguments are checked before any session or output exists: an
  * unknown flag, a fourth positional argument or an unknown report
  * fails with `IllegalArgumentException` and the usage text. A session
  * that `main` created is stopped however the run ends.
  *
  * Runs on `local[N]` with N = `SPARK_GRAFT_CPUS`, default all available
  * cores (`SPARK_MASTER` overrides the master), in the
  * [[graft.Harness]] session; inside an existing session it runs there,
  * leaving that session's conf as it is.
  *
  * The logs are read through the `kdclog` DataSourceV2 table
  * ([[graft.kdc.v2.KdcLogTableProvider]]), which parses with the
  * split-aligned session reader ([[KdcSessionReader]], incl.
  * splittable bzip2). The realm argument's filter PUSHES into the
  * parse scan (foreign-realm sessions are never materialized). To
  * make that pushdown real the realm filter is applied BEFORE the
  * counters observe node (Catalyst does not push predicates through
  * CollectMetrics), so with a realm the counters count IN-SCOPE
  * sessions only.
  *
  * `--recursive` descends nested fleet layouts (host=…/day=… trees);
  * without it a nested dir fails loudly, like Hadoop input formats.
  *
  * `--scope=k=v[,k=v…]` scopes the report to the named partition-path
  * values of a `k=v` fleet layout (e.g. `--scope=day=2015-11-22`):
  * each pair becomes an equality filter on the layout-discovered
  * partition column, which the V2 planner evaluates DRIVER-SIDE during
  * split planning — out-of-scope FILES are never opened (a day-scoped
  * report over a year of logs reads 1/365th of the bytes). A key the
  * layout does not expose fails loudly at analysis. Scope values are
  * RAW path-segment strings: they compare byte-for-byte against the
  * directory segment (no URL-decoding or unescaping on either side — a
  * percent-encoded layout is scoped with the encoded form), and a
  * value containing a comma, the pair separator, cannot be expressed —
  * use a path glob for such layouts ([[KdcMain.parseScope]]).
  *
  * `--report=R` with R ∈ user (default) | service | errors |
  * user-enctypes | service-enctypes.
  */
object KdcMain {

  /** The report frame [[main]] writes, factored out so specs can pin
    * the executed plan (pushed filters). The realm scopes the
    * dimension the report aggregates — client realm for user reports,
    * service realm for service reports, nothing for the error
    * histogram — matching [[KdcQueries.successfulAuths]]/
    * [[KdcQueries.serviceUses]]; the report functions re-apply the
    * same predicate (idempotent).
    *
    * Neither `useV2` nor `aligned` selects anything: every report
    * reads the `kdclog` table. The parameters stay so that callers
    * which name them keep compiling. */
  def buildReport(spark: SparkSession, in: String, realm: Option[String],
                  report: String, useV2: Boolean, aligned: Boolean,
                  recursive: Boolean = false,
                  scope: Map[String, String] = Map.empty)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val realmPred = realm.flatMap(r => report match {
      case "user" | "user-enctypes" => Some(col("crealm") === r)
      case "service" | "service-enctypes" => Some(col("srealm") === r)
      case _ => None // errors report is unscoped, like the reference's
    })
    val df = spark.read.format("kdclog")
      .option("recursive", recursive.toString).load(in)
    // scope filters reference layout-discovered partition columns
    // only, so the V2 planner resolves them to whole-FILE pruning at
    // split planning (an unknown key fails analysis loudly)
    val scoped = scope.foldLeft(df) { case (acc, (k, v)) =>
      acc.filter(col(k) === v)
    }
    val source = realmPred.fold(scoped)(scoped.filter)
      .as(org.apache.spark.sql.Encoders.product[KdcLogRecord])
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

  /** Parse a `--scope=k=v[,k=v…]` value into partition-path equality
    * pairs. Values are RAW path-segment strings (see the object
    * scaladoc), so a value containing a comma, the pair separator,
    * cannot be expressed. */
  private def parseScope(s: String): Map[String, String] =
    s.split(',').toSeq.map { pair =>
      val eq = pair.indexOf('=')
      require(eq > 0 && eq < pair.length - 1,
        s"scope expects k=v[,k=v…], got segment '$pair'")
      pair.substring(0, eq) -> pair.substring(eq + 1)
    }.toMap

  private val Usage =
    "usage: KdcMain <input> <outdir> [realm] [--recursive] " +
      s"[--scope=k=v[,k=v…]] [--report=${Reports.mkString("|")}]\n" +
      "note: with a realm the counters count IN-SCOPE sessions only " +
      "(the realm filter pushes into the parse scan)\n" + graft.Harness.usage

  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    def check(ok: Boolean, why: => String): Unit =
      if (!ok) throw new IllegalArgumentException(s"$why\n$Usage")
    def valueOf(prefix: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(prefix) => f.stripPrefix(prefix) }
    flags.foreach(f => check(f == "--recursive" ||
      f.startsWith("--report=") || f.startsWith("--scope="), s"unknown flag $f"))
    check(positional.length >= 2, "missing <input> or <outdir>")
    check(positional.length <= 3,
      s"unexpected argument ${positional(3)} (at most <input> <outdir> [realm])")
    val recursive = flags.contains("--recursive")
    val report = valueOf("--report=").getOrElse("user")
    check(Reports.contains(report), s"unknown --report=$report")
    val scope: Map[String, String] =
      valueOf("--scope=").map(parseScope).getOrElse(Map.empty)
    val Array(in, out) = positional.take(2)
    val realm = positional.lift(2)
    // only stop the session on exit if this invocation created it —
    // callers embedding main() in an existing session keep theirs,
    // conf included
    val preExisting = graft.Harness.existing.isDefined
    val spark = graft.Harness.session(s"kdc-$report")
    try {
      val result = buildReport(spark, in, realm, report, useV2 = true,
        aligned = false, recursive = recursive, scope = scope)
      // TSV via the shared formatting expression (oracle-checked through
      // kdc_parse_user_report_tsv) rather than the CSV writer — the
      // reference's reducers emit plain join("\t") lines with no quoting
      KdcQueries.tsvLines(result).write.mode("overwrite").text(out)
    } finally if (!preExisting) spark.stop()
  }
}
