package graft.kdc

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** The reference's seven declared queries
  * (`/root/reference/README.md:4-12`), expressed over a parsed
  * `Dataset[KdcLogRecord]`.
  *
  * Semantics follow the working Perl pipeline + README, not the Java
  * job's bugs: first = `min(ts)`, last = `max(ts)`
  * (`/root/reference/perl/kdcreduce.pl:32-33`; the Java
  * `UserTimeRec.merge` is inverted — SURVEY.md §2.4). The realm
  * restriction the Perl mapper hardcodes (`perl/kdcmapper.pl:38,42`) is
  * a parameter here.
  *
  * Every query is a single `groupBy().agg()` — Catalyst plans a
  * map-side partial aggregate before the shuffle automatically, which is
  * exactly the reference's hand-wired Combiner
  * (`UserTimeRunner.java:39`, SURVEY.md §4). The group-key shuffle runs
  * *after* partial aggregation has collapsed each partition to
  * ~|distinct keys| rows, so heavy hitters like `krbtgt` cost memory
  * not network.
  *
  * Every report's final global sort goes through [[sortReport]], which
  * places it by the report's size estimate. A batch report whose
  * optimized-plan `sizeInBytes` is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` sorts in one
  * partition (`coalesce(1)`), so no range exchange is planned: no
  * `RangePartitioner` sampling job (which recomputes the aggregate) and
  * no second shuffle. That threshold is the size AQE already coalesces
  * a shuffle's output to, so a report under it would end in one
  * partition after the range exchange anyway. A streaming report, or a
  * larger estimate (a 100 TB fleet), keeps the range-partitioned
  * `orderBy` and sorts in parallel. The `orderBy(...).limit(n)` reports
  * plan `TakeOrderedAndProject` and need neither.
  */
object KdcQueries {

  /** Successful, non-referral AS-REQ auths — the `UserTimeMapper`
    * filter stack (`UserTimeMapper.java:27-49`: valid, success,
    * AUTH-only, non-referral), realm-parameterized. */
  def successfulAuths(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame = {
    val base = recs
      .filter(col("valid") && col("success") &&
        col("req_type") === ReqType.AUTH && !col("referral"))
    realm.fold(base.toDF())(r => base.filter(col("crealm") === r).toDF())
  }

  /** Confirmed TGS service uses — the Perl `s:` branch
    * (`perl/kdcmapper.pl:42-52`): TGS-REQ whose session ended in a
    * `sending` with no intervening error/referral. */
  def serviceUses(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame = {
    val base = recs
      .filter(col("valid") && col("success") &&
        col("req_type") === ReqType.TGS && !col("referral"))
    realm.fold(base.toDF())(r => base.filter(col("srealm") === r).toDF())
  }

  /** README #1 + #2: per-user auth count and first/last auth ts.
    * (= the whole `UserTimeRunner` job, `UserTimeRunner.java:34-48`.) */
  def userAuthStats(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame =
    sortReport(successfulAuths(recs, realm)
      .groupBy(col("client"))
      .agg(
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        count(lit(1)).as("n_auth")), col("client"))

  /** README #3 + #4: per-service TGS request count and first/last use. */
  def serviceUseStats(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame =
    sortReport(serviceUses(recs, realm)
      .groupBy(col("service"))
      .agg(
        min("ts").as("first_ts"),
        max("ts").as("last_ts"),
        count(lit(1)).as("n_req")), col("service"))

  /** README #5: top-N by request count over any dimension column
    * (hosts = client_ip, users = client, services = service).
    * Plans as `TakeOrderedAndProject` — no full sort at scale. */
  def topN(recs: Dataset[KdcLogRecord], dim: String, n: Int): DataFrame =
    recs.filter(col("valid"))
      .groupBy(col(dim))
      .agg(count(lit(1)).as("n_req"))
      .orderBy(desc("n_req"), col(dim))
      .limit(n)

  /** README #6: most common errors. Failed requests bucketed by error
    * class; AS-REQ failures with no explicit error line are the
    * "Missing Pre-authentication" bucket (`UserTimeMapper.java:36-41`). */
  def commonErrors(recs: Dataset[KdcLogRecord]): DataFrame =
    sortReport(recs.filter(col("valid") && !col("success"))
      .withColumn("error_bucket",
        when(col("error_class") === ErrorClass.NO_ERROR, lit("MISSING_PREAUTH"))
          .otherwise(col("error_class")))
      .groupBy(col("error_bucket"))
      .agg(count(lit(1)).as("n")), desc("n"), col("error_bucket"))

  /** README #6, fine-grained: most common verbatim error lines. */
  def commonErrorLines(recs: Dataset[KdcLogRecord], n: Int = 20): DataFrame =
    recs.filter(col("error").isNotNull)
      .groupBy(col("error"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("error"))
      .limit(n)

  /** README #7: users who use at most `k` distinct services.
    * Exact `countDistinct` (shuffle on client); at 100 TB swap in
    * `approx_count_distinct` for a single-pass HLL sketch. */
  def usersWithFewServices(recs: Dataset[KdcLogRecord], k: Int): DataFrame =
    sortReport(serviceUses(recs)
      .groupBy(col("client"))
      .agg(countDistinct(col("service")).as("n_services"))
      .filter(col("n_services") <= k), col("client"))

  /** Per-group top-N (e.g. each user's most used services) — the
    * windowed flavor of README #5. */
  def topNPerGroup(recs: Dataset[KdcLogRecord], grp: String, dim: String, n: Int): DataFrame = {
    val counts = recs.filter(col("valid"))
      .groupBy(col(grp), col(dim))
      .agg(count(lit(1)).as("n_req"))
    val w = Window.partitionBy(col(grp)).orderBy(desc("n_req"), col(dim))
    sortReport(counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n), col(grp), col("rank"))
  }

  /** Per user × preauth-enctype auth counts — the `u:<user>/<et>` keys
    * of the enctype Perl variant (`perl/kdcmapper-with-enctypes.pl:39-44`;
    * UNK when the preauth line carries no `using` suffix, as there). */
  def userEnctypeStats(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame =
    sortReport(successfulAuths(recs, realm)
      .groupBy(col("client"),
        coalesce(col("preauth_enctype"), lit("UNK")).as("enctype"))
      .agg(count(lit(1)).as("n_auth"),
        min("ts").as("first_ts"), max("ts").as("last_ts")),
      col("client"), col("enctype"))

  /** Per service × enctype-negotiation triple
    * `firstSupported/lastSupported/used` — the `s:<svc>/<ets>` keys
    * (`perl/kdcmapper-with-enctypes.pl:46-57,78-81`; UNK when no
    * enctype line was seen, matching the Perl default). */
  def serviceEnctypeStats(recs: Dataset[KdcLogRecord], realm: Option[String] = None): DataFrame = {
    val ets = filter(split(col("supported_enctypes"), ",\\s*"), x => x =!= "")
    sortReport(serviceUses(recs, realm)
      .withColumn("enctype_key",
        when(col("supported_enctypes").isNull, lit("UNK"))
          .otherwise(concat_ws("/",
            element_at(ets, 1), element_at(ets, -1), col("used_enctype"))))
      .groupBy(col("service"), col("enctype_key"))
      .agg(count(lit(1)).as("n_req"),
        min("ts").as("first_ts"), max("ts").as("last_ts")),
      col("service"), col("enctype_key"))
  }

  /** Side-channel counters of the reference mapper
    * (`UserTimeMapper.java:28-48`, `perl/kdcmapper.pl:11-36`), as a
    * zero-extra-pass `observe`: metrics come back on the listener bus
    * with the action that runs `recs`. */
  def withCounters(recs: Dataset[KdcLogRecord]): Dataset[KdcLogRecord] =
    recs.observe("kdc_counters", counterExprs.head, counterExprs.tail: _*)

  /** Same counters bound to an [[org.apache.spark.sql.Observation]],
    * whose `get` blocks until the next action delivers the metrics —
    * the ergonomic path for callers that want the numbers back. */
  def withCounters(recs: Dataset[KdcLogRecord],
                   obs: org.apache.spark.sql.Observation): Dataset[KdcLogRecord] =
    recs.observe(obs, counterExprs.head, counterExprs.tail: _*)

  /** Report rows → the reference's TSV line format (plain join("\t"),
    * the Perl reducers' semantics — no CSV-style quoting; KDC
    * principals/timestamps cannot contain tabs). One shared expression
    * used by BOTH the [[KdcMain]] sink and the `kdc_parse_user_report_tsv`
    * driver row, so the formatting itself (SURVEY C4) is
    * oracle-checked, not only golden-file-pinned. */
  def tsvLines(df: DataFrame): DataFrame =
    // coalesce each cell: concat_ws SKIPS null arguments, which would
    // silently drop a field (fewer tabs) instead of rendering the
    // empty cell the CSV sink used to emit
    df.select(concat_ws("\t",
      df.columns.map(c => coalesce(col(c).cast("string"), lit(""))): _*).as("line"))

  /** The final global sort of a report (see the class doc). The
    * estimate is the optimizer's: for the `kdclog` table it comes from
    * `KdcScan.estimateStatistics` over the load-time listing, so the
    * check runs no job and walks no directory. `isStreaming` is read
    * first: a streaming frame keeps the plain sort. */
  private def sortReport(df: DataFrame, by: Column*): DataFrame = {
    val onePartition = !df.isStreaming &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    (if (onePartition) df.coalesce(1) else df).orderBy(by: _*)
  }

  private def counterExprs = Seq(
    count(lit(1)).as("records"),
    count(when(!col("valid"), 1)).as("invalid"),
    count(when(col("referral"), 1)).as("referrals"),
    count(when(col("error").isNotNull, 1)).as("errorsfound"),
    count(when(col("error_class") === ErrorClass.BAD_PASSWORD, 1)).as("badpassword"))
}
