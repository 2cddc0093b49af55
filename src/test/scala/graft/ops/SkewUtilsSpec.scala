package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewUtilsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("salted count equals plain groupBy count, incl. a skewed key") {
    import spark.implicits._
    // heavy hitter: one key with 10k rows, tail keys with a few
    val rows = Seq.tabulate(10000)(i => ("krbtgt", i.toLong)) ++
      Seq.tabulate(50)(i => (s"svc_$i", i.toLong))
    val df = rows.toDF("key", "x")
    val salted = SkewUtils.saltedCount(df, "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val plain = df.groupBy("key").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == plain)
    assert(salted("krbtgt") == 10000L)
  }

  test("salted join equals the plain join exactly, incl. a skewed key") {
    import spark.implicits._
    val big = (Seq.tabulate(5000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(60)(i => (s"k_$i", i.toLong))).toDF("key", "x")
    val small = (("hot", 99L) +: Seq.tabulate(60)(i => (s"k_$i", i.toLong)))
      .toDF("key", "tag")
    val salted = SkewUtils.saltedJoin(big, small, "key", nSalts = 8)
      .select("key", "x", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val plain = big.join(small, Seq("key"))
      .select("key", "x", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(salted.length == plain.length && salted.sameElements(plain))
  }

  test("decideSalts: uniform keys never salt, a hot key salts to its excess, capped") {
    // baseline = mean per-reducer load of everything EXCEPT the top key
    assert(SkewUtils.decideSalts(1000, 250, 4) == 1)   // rest 187.5, 250 < 4x
    assert(SkewUtils.decideSalts(1000, 500, 4) == 1)   // rest 125, 500 = 4x exactly
    assert(SkewUtils.decideSalts(1000, 600, 4) == 6)   // rest 100, ceil(600/100)
    assert(SkewUtils.decideSalts(101000, 100000, 4) == 16) // cap
    assert(SkewUtils.decideSalts(0, 0, 4) == 1)        // empty input
  }

  test("adaptive join: planted hot key engages salting, output still exact") {
    import spark.implicits._
    val big = (Seq.tabulate(8000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(60)(i => (s"k_$i", i.toLong))).toDF("key", "x")
    val small = (("hot", 99L) +: Seq.tabulate(60)(i => (s"k_$i", i.toLong)))
      .toDF("key", "tag")
    // 8060 rows / 4 partitions = 2015 mean; hot = 8000 > 4x mean
    val joined = SkewUtils.adaptiveSaltedJoin(big, small, "key")
    assert(joined.queryExecution.analyzed.toString.contains("__salt"),
      "planted hot key did not engage the salted path")
    val got = joined.select("key", "x", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val want = big.join(small, Seq("key")).select("key", "x", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("adaptive join: uniform keys do NOT pay the salt constant") {
    import spark.implicits._
    val big = (0 until 4000).map(i => (s"k_${i % 400}", i.toLong)).toDF("key", "x")
    val small = (0 until 400).map(i => (s"k_$i", i.toLong)).toDF("key", "tag")
    // mean load 1000, max key 10 — far below the 4x threshold
    val joined = SkewUtils.adaptiveSaltedJoin(big, small, "key")
    val plan = joined.queryExecution.analyzed.toString
    assert(!plan.contains("__salt"),
      s"uniform input paid the salt constant:\n$plan")
    assert(!plan.toLowerCase.contains("explode"),
      s"uniform input replicated the small side:\n$plan")
    assert(joined.count() == 4000L)
  }

  test("adaptive join: profile measured once per (plan, key), reused across calls") {
    import spark.implicits._
    SkewUtils.clearProfileCache()
    def mkBig = (Seq.tabulate(8000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(60)(i => (s"k_$i", i.toLong))).toDF("key", "x")
    val small = (("hot", 99L) +: Seq.tabulate(60)(i => (s"k_$i", i.toLong)))
      .toDF("key", "tag")
    val j1 = SkewUtils.adaptiveSaltedJoin(mkBig, small, "key")
    assert(SkewUtils.profileCacheSize == 1)
    // an INDEPENDENTLY CONSTRUCTED but semantically identical frame
    // must hit (semantic plan hash, not object identity) — the
    // production shape where every call re-derives the big side from
    // the same table
    val j2 = SkewUtils.adaptiveSaltedJoin(mkBig, small, "key")
    assert(SkewUtils.profileCacheSize == 1,
      "semantically identical plan missed the profile cache")
    // a different key column is a different profile
    SkewUtils.adaptiveSaltedJoin(mkBig.withColumnRenamed("key", "k2"), small
      .withColumnRenamed("key", "k2"), "k2")
    assert(SkewUtils.profileCacheSize == 2)
    // decision parity: a forced fresh measurement takes the same branch
    val fresh = SkewUtils.adaptiveSaltedJoin(mkBig, small, "key", reuseProfile = false)
    def salted(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("__salt")
    assert(salted(j1) && salted(j2) && salted(fresh))
    SkewUtils.clearProfileCache()
    assert(SkewUtils.profileCacheSize == 0)
  }

  test("profile cache: rewriting a file-backed input invalidates the cached profile") {
    import spark.implicits._
    SkewUtils.clearProfileCache()
    val loc = s"target/scratch/skew_fp_${spark.sparkContext.applicationId}"
    try {
      // v1: uniform keys — profile says don't salt
      (0 until 400).map(i => (s"k_${i % 100}", i.toLong)).toDF("key", "x")
        .write.mode("overwrite").parquet(loc)
      val (n1, mx1) = SkewUtils.profileKeyCached(spark.read.parquet(loc), "key", 1)
      assert(n1 == 400L && mx1 == 4L)
      // overwrite IN PLACE with a skewed distribution: the path-based
      // plan's semanticHash is unchanged, but the part-file fingerprint
      // moved, so the stale uniform profile must NOT be reused
      (Seq.tabulate(4000)(i => ("hot", i.toLong)) ++
        Seq.tabulate(60)(i => (s"k_$i", i.toLong))).toDF("key", "x")
        .write.mode("overwrite").parquet(loc)
      val (n2, mx2) = SkewUtils.profileKeyCached(spark.read.parquet(loc), "key", 1)
      assert(n2 == 4060L && mx2 == 4000L,
        s"stale profile survived an input rewrite: ($n2, $mx2)")
      assert(SkewUtils.profileCacheSize == 2,
        "the rewritten input should occupy a distinct cache entry")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
      SkewUtils.clearProfileCache()
    }
  }

  test("sampled profile preserves a hot key's scaled share") {
    import spark.implicits._
    val big = (Seq.tabulate(8000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(2000)(i => (s"k_${i % 200}", i.toLong))).toDF("key", "x")
    val (n, mx) = SkewUtils.profileKey(big, "key", sampleOneIn = 8)
    // 1-in-8 row sample scaled by 8: totals land near truth (binomial
    // noise ~ sqrt(n)·8), and the hot key keeps its dominant share
    assert(math.abs(n - 10000L) < 2000, s"scaled total off: $n")
    assert(mx > 5000L, s"hot key share lost in the sample: $mx")
  }

  test("salted user-times equals plain min/max/count on real events") {
    val ev = EventQueries.events(spark, dir)
      .withColumn("ms", unix_millis(col("ts"))).select("user_id", "ms")
    val salted = SkewUtils.saltedUserTimes(ev, "user_id", "ms").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val plain = ev.groupBy("user_id")
      .agg(min("ms"), max("ms"), count(lit(1))).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(salted == plain)
  }

  test("approx cardinality within 5% of exact at two scales") {
    // sf0.001 pins the small-cardinality regime (HLL falls back to a
    // near-exact sparse estimator); sf0.1 has 10× the events and 33×
    // the users — closer to where the dense HLL error bound actually
    // binds, so a default-precision regression shows up here
    for (d <- Seq(dir, "/root/testdata/sf0.1")) {
      val approx = EventQueries.approxUserCardinality(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val exact = EventQueries.events(spark, d)
        .groupBy("event_type").agg(countDistinct(col("user_id")).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      for ((k, e) <- exact) {
        val a = approx(k)
        assert(math.abs(a - e).toDouble / e <= 0.05, s"$d $k: approx=$a exact=$e")
      }
    }
  }

  test("approx cardinality holds 5% on the 10x-replicated probe data") {
    // the 10× replication recipe of the scale probes: 10 shifted copies of
    // sf0.1's events → 10× DISTINCT users per type (~50k, squarely in
    // the dense-HLL regime the rsd=0.02 headroom argument targets)
    val ev = EventQueries.events(spark, "/root/testdata/sf0.1")
      .select("event_type", "user_id")
    val big = (0 until 10)
      .map(i => ev.withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val approx = EventQueries.approxUserCardinalityOn(big).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val exact = big.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(exact.values.forall(_ >= 10000), s"replication too small: $exact")
      for ((k, e) <- exact) {
        val a = approx(k)
        assert(math.abs(a - e).toDouble / e <= 0.05, s"10x $k: approx=$a exact=$e")
      }
    } finally big.unpersist()
  }
}
