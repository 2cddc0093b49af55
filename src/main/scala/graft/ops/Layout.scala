package graft.ops

import graft.{OracleSql, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan efficiency at scale: multi-dimensional
  * Z-order clustering (the layout that makes min/max file skipping work
  * on TWO predicates at once) and date-partitioned writes with
  * partition-pruned reads (the standard ingest layout for a time-series
  * fact table).
  *
  * Both queries keep the layout invisible in their RESULTS — the oracle
  * is plain SQL over the unpartitioned table — and surface the layout's
  * effect through plan pins (LayoutSpec) and per-bin span statistics.
  */
object Layout {

  /** Interleave the low `bits` bits of x (odd positions) and y (even
    * positions) into a single Z-value column. Pure integer bit
    * arithmetic — codegen-friendly and engine-exact. */
  private[ops] def zInterleave(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** The same interleave as SQL text for the DuckDB oracle. */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i + 1}) + ((($y >> $i) & 1) << ${2 * i})"
    }.mkString(" + ")

  /** Z-order layout statistics over orders on (o_custkey, order day):
    * normalize both dims to 8 bits, interleave into a 16-bit Z-value,
    * cut the Z-range into 32 equal-width bins (the "files" of a
    * Z-ordered write), and report each bin's row count and min/max
    * span in BOTH dimensions plus the span fractions.
    *
    * The point at 100 TB: a sort by Z-value clusters BOTH custkey and
    * date, so per-file min/max statistics prune scans on either
    * predicate — a single-column sort gives perfect pruning on one dim
    * and none on the other. The emitted span fractions quantify that
    * (≈ 1/sqrt(bins) per dim for uniform data vs 1/bins on the sorted
    * dim and ~1 on the other for a linear sort).
    *
    * Plan: the dim bounds are one scalar aggregate broadcast back via
    * crossJoin (the established scalar-seed pattern); the binning is a
    * single groupBy on a 32-value key. Everything is integer
    * arithmetic — exact on both engines. */
  def zorderLayoutStats(s: SparkSession, dir: String): DataFrame =
    binSpanStats(scaledOrders(s, dir)
      .withColumn("code", zInterleave(col("x8"), col("y8"), 8)))

  /** The Hilbert-curve sibling of [[zorderLayoutStats]] — identical
    * normalization, binning, and span statistics, but cells are laid
    * along the Hilbert curve ([[graft.functions.HilbertIndex]], a
    * native codegen kernel) instead of the Z interleave. Hilbert is
    * what a layout-quality bake-off reaches for next: every pair of
    * curve-adjacent cells is grid-adjacent (Z-order seams jump across
    * the plane at power-of-two boundaries), so bin spans — and
    * therefore min/max file-skipping selectivity — are never worse
    * and usually tighter on at least one dimension. Running both rows
    * on the same table IS the bake-off: compare span fractions bin
    * for bin. */
  def hilbertLayoutStats(s: SparkSession, dir: String): DataFrame =
    binSpanStats(scaledOrders(s, dir)
      .withColumn("code", graft.functions.spatialFunctions.hilbert_index(
        col("x8"), col("y8"), 8)))

  /** File-skipping SIMULATION — the number the span fractions only
    * gesture at: for four layouts of the same orders table (sort by
    * custkey, sort by day, Z-order, Hilbert), how many of the 32
    * "files" (equal-width code bins) must a two-dimensional predicate
    * actually READ under standard min/max pruning, and how many rows
    * ride along? A bin is read iff its per-bin [min, max] box in grid
    * coordinates overlaps the query rectangle (x8, y8 ∈ [64, 96) —
    * 1/64 of the plane); read_amplification = rows_read /
    * matching_rows. A single-dimension sort prunes perfectly on its
    * own dim and not at all on the other (it must read every matching
    * x-stripe in full, ~8× amplification on a 1/8 × 1/8 rect); the
    * space-filling curves read only the bins whose boxes cross the
    * rectangle. This is the decision row a 100 TB table layout is
    * chosen by.
    *
    * Structural invariants (pinned in LayoutSpec): the linear layouts
    * read at most 4 of 32 bins BY CONSTRUCTION (bin = top-5 bits of
    * the leading dim, and the rect covers 4 values of them);
    * rows_read ≥ matching_rows for every layout. All arithmetic is
    * integer except the final guarded ratio. */
  def layoutSkipSimulation(s: SparkSession, dir: String): DataFrame = {
    val sc = scaledOrders(s, dir)
      // four layout passes + the matching count read it; serial
      // drivers clearCache between queries (the module contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val layouts: Seq[(String, Column)] = Seq(
      "hilbert" -> graft.functions.spatialFunctions.hilbert_index(
        col("x8"), col("y8"), 8),
      "linear_cust" -> (col("x8") * 256 + col("y8")),
      "linear_day" -> (col("y8") * 256 + col("x8")),
      "zorder" -> zInterleave(col("x8"), col("y8"), 8))
    val matching = sc
      .filter(col("x8") >= 64 && col("x8") < 96 &&
        col("y8") >= 64 && col("y8") < 96)
      .agg(count(lit(1)).as("matching_rows"))
    val rows = layouts.map { case (name, code) =>
      val bins = sc.withColumn("bin", shiftright(code, 11))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x8")).as("xlo"), max(col("x8")).as("xhi"),
          min(col("y8")).as("ylo"), max(col("y8")).as("yhi"))
      bins
        .filter(col("xhi") >= 64 && col("xlo") < 96 &&
          col("yhi") >= 64 && col("ylo") < 96)
        .agg(count(lit(1)).as("bins_read"),
          coalesce(sum(col("n_rows")), lit(0L)).as("rows_read"))
        .select(lit(name).as("layout"), col("bins_read"), col("rows_read"))
    }.reduce(_ unionAll _)
    rows.crossJoin(broadcast(matching))
      .select(col("layout"), col("bins_read"), col("rows_read"),
        col("matching_rows"),
        when(col("matching_rows") > 0,
          round(col("rows_read").cast("double") / col("matching_rows"), 4))
          .otherwise(lit(0.0)).as("read_amplification"))
      .orderBy(col("layout"))
  }

  /** Per-file BLOOM skipping for point lookups — the half of the
    * file-skipping story [[layoutSkipSimulation]]'s zone maps cannot
    * cover: `o_orderkey` is uncorrelated with the (custkey, day)
    * layout, so every bin's [min, max] orderkey range spans
    * essentially the whole domain and min/max pruning reads ALL bins
    * for a point lookup. A per-bin Bloom filter prunes by content:
    * m = 2^16 bits, 4 probe positions per key taken as 16-bit slices
    * of the library's M61+fmix63 hash (the double-hashing variant;
    * the SAME DuckDB-reproducible family every sketch here uses, so
    * the filter BITS — not just the outcome — are oracle-checked).
    *
    * Probes: the 8 hash-minimal candidates from {okey} ∪ {okey+1} —
    * the KMV-style deterministic pick, landing MID-DOMAIN (a
    * boundary key would let min/max prune trivially and hide the
    * story), a mix of present keys and (on a gappy key domain)
    * absent neighbors. Per probe key: bins read under zone-map
    * pruning (≈ all of them — every bin's okey span covers a
    * mid-domain point), under Bloom pruning (true bins + false
    * positives, expected ≈ bins · fill⁴), and the true bin count.
    *
    * Scale posture: filter construction is one scan + a distinct over
    * (bin, pos) — the per-file build cost any Bloom-indexed layout
    * pays at write time; probes are a bounded local set broadcast
    * everywhere; nothing driver-side beyond the 8 probe keys. */
  def bloomSkipSimulation(s: SparkSession, dir: String): DataFrame = {
    val coded = scaledOrders(s, dir)
      .withColumn("bin",
        shiftright(zInterleave(col("x8"), col("y8"), 8), 11))
      .select(col("okey"), col("bin"))
      // read by zones, bits, truth, and the probe-key min — the
      // module cache contract (serial drivers clearCache between rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def slices(df: DataFrame): DataFrame = df
      .withColumn("h", graft.functions.textFunctions.m61_fmix_hash63(col("okey")))
      .select(df.columns.map(col) :+ posexplode(array(
        (0 until 4).map(i =>
          shiftright(col("h"), 12 * i).bitwiseAND(lit(65535L))): _*)): _*)
      .withColumnRenamed("pos", "slice").withColumnRenamed("col", "bit")
    def hashMin4(df: DataFrame): DataFrame = df
      .withColumn("hm", graft.functions.textFunctions.m61_fmix_hash63(col("okey")))
      .orderBy(col("hm"), col("okey"))
      .limit(4)
      .select(col("okey"))
    val present = hashMin4(coded.select(col("okey")))
    // guaranteed-nonempty absent pool: successors that are not keys
    // themselves (max+1 is always in it)
    val absent = hashMin4(
      coded.select((col("okey") + 1).as("okey")).distinct()
        .join(coded.select(col("okey")), Seq("okey"), "left_anti"))
    val probes = present.unionAll(absent)
    val probeRows = probes.collect()
    val probesDf = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val zones = coded.groupBy(col("bin"))
      .agg(min(col("okey")).as("lo"), max(col("okey")).as("hi"))
    val bits = slices(coded).select(col("bin"), col("bit")).distinct()
    val probeBits = slices(probesDf)
    val zoneCnt = zones.join(broadcast(probesDf),
        col("okey") >= col("lo") && col("okey") <= col("hi"))
      .groupBy(col("okey")).agg(count(lit(1)).as("zone_bins_read"))
    val bloomCnt = bits.join(broadcast(probeBits), Seq("bit"))
      .groupBy(col("okey"), col("bin"))
      .agg(countDistinct(col("slice")).as("nslices"))
      .filter(col("nslices") === 4)
      .groupBy(col("okey")).agg(count(lit(1)).as("bloom_bins_read"))
    val trueCnt = coded.join(broadcast(probesDf), Seq("okey"))
      .groupBy(col("okey"))
      .agg(countDistinct(col("bin")).as("true_bins"))
    probesDf
      .join(zoneCnt, Seq("okey"), "left")
      .join(bloomCnt, Seq("okey"), "left")
      .join(trueCnt, Seq("okey"), "left")
      .select(col("okey").as("probe_key"),
        (coalesce(col("true_bins"), lit(0L)) > 0).as("present"),
        coalesce(col("zone_bins_read"), lit(0L)).as("zone_bins_read"),
        coalesce(col("bloom_bins_read"), lit(0L)).as("bloom_bins_read"),
        coalesce(col("true_bins"), lit(0L)).as("true_bins"))
      .orderBy(col("probe_key"))
  }

  /** Orders normalized to the shared 8-bit-per-dim grid: (custkey,
    * epoch day) → (x8, y8) ∈ [0, 256)², bounds carried for the span
    * fractions. */
  private def scaledOrders(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey").cast("long").as("okey"),
        col("o_custkey").cast("long").as("x"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("y"))
    val bounds = o.agg(min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
      min(col("y")).as("y_lo"), max(col("y")).as("y_hi"))
    o.crossJoin(broadcast(bounds))
      // integral DIV keeps the binning exact at ANY key magnitude
      // (a double divide would round above 2^53)
      .withColumn("x8", expr("((x - x_lo) * 256) DIV (x_hi - x_lo + 1)"))
      .withColumn("y8", expr("((y - y_lo) * 256) DIV (y_hi - y_lo + 1)"))
  }

  /** 32 equal-width bins of a 16-bit curve code → per-bin row count
    * and min/max span (+ fraction) in both original dimensions. */
  private def binSpanStats(coded: DataFrame): DataFrame =
    coded
      .withColumn("bin", shiftright(col("code"), 11))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("x")).as("cust_lo"), max(col("x")).as("cust_hi"),
        min(col("y")).as("day_lo"), max(col("y")).as("day_hi"),
        first(col("x_hi") - col("x_lo") + 1).as("xr"),
        first(col("y_hi") - col("y_lo") + 1).as("yr"))
      .select(col("bin"), col("n_orders"),
        col("cust_lo"), col("cust_hi"), col("day_lo"), col("day_hi"),
        round((col("cust_hi") - col("cust_lo") + 1).cast("double") /
          col("xr").cast("double"), 6).as("cust_span_frac"),
        round((col("day_hi") - col("day_lo") + 1).cast("double") /
          col("yr").cast("double"), 6).as("day_span_frac"))
      .orderBy(col("bin"))

  /** Date-partitioned write + partition-pruned read: land events
    * partitioned by calendar day (the standard time-series ingest
    * layout), then aggregate ONE day read back through the partition
    * filter. The result must equal the plain filtered aggregate over
    * the unpartitioned table — the layout only changes what the scan
    * READS (LayoutSpec pins PartitionFilters and that a single
    * partition directory survives pruning).
    *
    * The target day is min(day)+14 — computed as a 1-row collect
    * (bounded, justified: partition pruning needs a LITERAL at plan
    * time; a subquery-derived filter would scan all partitions). At
    * 100 TB the write happens once per ingest day, not per query; the
    * row pays it inline to keep the driver check hermetic, same as
    * bucketed_order_revenue. */
  def partitionedEventsPrune(s: SparkSession, dir: String): DataFrame = {
    val e = EventQueries.events(s, dir)
      .withColumn("day", to_date(col("ts")))
    val target = e.agg(date_add(min(col("day")), 14).as("t"))
      .collect()(0).getDate(0)
    // per-invocation path, like every other scratch layout in the
    // repo: a FIXED path lets one session's overwrite delete the
    // directory another session's returned lazy plan is still reading
    val loc = graft.Scratch.dir(s, "events_by_day")
    e.write.mode(SaveMode.Overwrite).partitionBy("day").parquet(loc)
    s.read.parquet(loc)
      .filter(col("day") === lit(target))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)")).as("v"))
      .select(col("event_type"), col("n_events"),
        round(col("v"), 2).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** o/b/sc CTE prefix — the DuckDB twin of [[scaledOrders]]. */
  private def scaledOrdersSql: String =
    s"""o AS (SELECT CAST(o_orderkey AS BIGINT) AS okey,
       |    CAST(o_custkey AS BIGINT) AS x,
       |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y FROM orders),
       |b AS (SELECT min(x) AS x_lo, max(x) AS x_hi, min(y) AS y_lo, max(y) AS y_hi FROM o),
       |sc AS (SELECT okey, x, y, x_lo, x_hi, y_lo, y_hi,
       |    ((x - x_lo) * 256) // (x_hi - x_lo + 1) AS x8,
       |    ((y - y_lo) * 256) // (y_hi - y_lo + 1) AS y8 FROM o, b)""".stripMargin

  /** Final per-bin span aggregation over a `zb(…, bin)` CTE — the
    * DuckDB twin of [[binSpanStats]]' aggregate. */
  private def binStatsSelectSql: String =
    s"""SELECT bin, count(*) AS n_orders,
       |  min(x) AS cust_lo, max(x) AS cust_hi, min(y) AS day_lo, max(y) AS day_hi,
       |  ${OracleSql.round("CAST(max(x) - min(x) + 1 AS DOUBLE) / CAST(any_value(x_hi) - any_value(x_lo) + 1 AS DOUBLE)", 6)} AS cust_span_frac,
       |  ${OracleSql.round("CAST(max(y) - min(y) + 1 AS DOUBLE) / CAST(any_value(y_hi) - any_value(y_lo) + 1 AS DOUBLE)", 6)} AS day_span_frac
       |FROM zb GROUP BY bin ORDER BY bin""".stripMargin

  /** Per-level CTE chain hl0..hl`bits` replaying
    * [[graft.functions.HilbertIndex]]'s rotate/reflect walk step for
    * step over the sc frame (exact integers — nothing staged): at each
    * level the quadrant digit lands in d, then the frame reflects and
    * swaps so the next bit is read in curve-local coordinates. */
  private[ops] def hilbertSqlCtes(bits: Int): String = {
    val levels = (0 until bits).map { i =>
      val b = bits - 1 - i
      val sVal = 1L << b
      val ss = sVal * sVal
      s"""hl${i + 1} AS (SELECT x, y, x8, y8, x_lo, x_hi, y_lo, y_hi,
         |  d + $ss * xor(3 * ((hx >> $b) & 1), (hy >> $b) & 1) AS d,
         |  CASE WHEN ((hy >> $b) & 1) = 0
         |       THEN CASE WHEN ((hx >> $b) & 1) = 1 THEN $sVal - 1 - hy ELSE hy END
         |       ELSE hx END AS hx,
         |  CASE WHEN ((hy >> $b) & 1) = 0
         |       THEN CASE WHEN ((hx >> $b) & 1) = 1 THEN $sVal - 1 - hx ELSE hx END
         |       ELSE hy END AS hy
         | FROM hl$i)""".stripMargin
    }.mkString(",\n")
    s"""hl0 AS (SELECT x, y, x8, y8, x_lo, x_hi, y_lo, y_hi, x8 AS hx, y8 AS hy,
       |        CAST(0 AS BIGINT) AS d FROM sc),
       |$levels""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "zorder_layout_stats" -> QueryDef(zorderLayoutStats, Some {
      val z = zInterleaveSql("x8", "y8", 8)
      s"""WITH $scaledOrdersSql,
         |zb AS (SELECT *, ($z) >> 11 AS bin FROM sc)
         |$binStatsSelectSql""".stripMargin
    }),
    "hilbert_layout_stats" -> QueryDef(hilbertLayoutStats, Some(
      s"""WITH $scaledOrdersSql,
         |${hilbertSqlCtes(8)},
         |zb AS (SELECT x, y, x_lo, x_hi, y_lo, y_hi, d >> 11 AS bin FROM hl8)
         |$binStatsSelectSql""".stripMargin)),
    // The filter BITS are mirrored, not just the outcome: both engines
    // slice the same M61+fmix63 key hash into four 16-bit positions.
    "bloom_skip_simulation" -> QueryDef(bloomSkipSimulation, Some {
      val z = zInterleaveSql("x8", "y8", 8)
      val mask = "9223372036854775807"
      s"""WITH $scaledOrdersSql,
         |coded AS (SELECT okey, ($z) >> 11 AS bin FROM sc),
         |pres0 AS (SELECT okey FROM coded),
         |${OracleSql.m61FmixScalarCtes("pres0", "CAST(okey AS VARCHAR)", p = "kp")},
         |pres AS (SELECT okey FROM kp ORDER BY h & $mask, okey LIMIT 4),
         |abs0 AS (SELECT DISTINCT okey + 1 AS okey FROM coded
         |         EXCEPT SELECT okey FROM coded),
         |${OracleSql.m61FmixScalarCtes("abs0", "CAST(okey AS VARCHAR)", p = "ka")},
         |absn AS (SELECT okey FROM ka ORDER BY h & $mask, okey LIMIT 4),
         |probes AS (SELECT okey FROM pres UNION ALL SELECT okey FROM absn),
         |${OracleSql.m61FmixScalarCtes("coded", "CAST(okey AS VARCHAR)", p = "ch")},
         |cbits AS (SELECT DISTINCT bin,
         |            ((h & $mask) >> (12 * i.i)) & 65535 AS bit
         |          FROM ch, (SELECT unnest(range(4)) AS i) i),
         |${OracleSql.m61FmixScalarCtes("probes", "CAST(okey AS VARCHAR)", p = "ph")},
         |ppos AS (SELECT okey, i.i AS slice,
         |           ((h & $mask) >> (12 * i.i)) & 65535 AS bit
         |         FROM ph, (SELECT unnest(range(4)) AS i) i),
         |zones AS (SELECT bin, min(okey) AS lo, max(okey) AS hi
         |          FROM coded GROUP BY 1),
         |zc AS (SELECT p.okey, count(*) AS c FROM probes p
         |       JOIN zones z ON p.okey >= z.lo AND p.okey <= z.hi GROUP BY 1),
         |bp AS (SELECT p.okey, c.bin FROM ppos p JOIN cbits c ON p.bit = c.bit
         |       GROUP BY p.okey, c.bin HAVING count(DISTINCT p.slice) = 4),
         |bc AS (SELECT okey, count(*) AS c FROM bp GROUP BY 1),
         |tc AS (SELECT p.okey, count(DISTINCT c.bin) AS c
         |       FROM probes p JOIN coded c USING (okey) GROUP BY 1)
         |SELECT p.okey AS probe_key,
         |  coalesce(tc.c, 0) > 0 AS present,
         |  CAST(coalesce(zc.c, 0) AS BIGINT) AS zone_bins_read,
         |  CAST(coalesce(bc.c, 0) AS BIGINT) AS bloom_bins_read,
         |  CAST(coalesce(tc.c, 0) AS BIGINT) AS true_bins
         |FROM probes p
         |LEFT JOIN zc ON p.okey = zc.okey
         |LEFT JOIN bc ON p.okey = bc.okey
         |LEFT JOIN tc ON p.okey = tc.okey
         |ORDER BY probe_key""".stripMargin
    }),
    "layout_skip_simulation" -> QueryDef(layoutSkipSimulation, Some {
      val z = zInterleaveSql("x8", "y8", 8)
      def leg(name: String, codedSrc: String) =
        s"""b_$name AS (SELECT bin, count(*) AS n_rows,
           |  min(x8) AS xlo, max(x8) AS xhi, min(y8) AS ylo, max(y8) AS yhi
           |  FROM $codedSrc GROUP BY bin),
           |r_$name AS (SELECT CAST(count(*) AS BIGINT) AS bins_read,
           |  CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS rows_read
           |  FROM b_$name
           |  WHERE xhi >= 64 AND xlo < 96 AND yhi >= 64 AND ylo < 96)""".stripMargin
      s"""WITH $scaledOrdersSql,
         |${hilbertSqlCtes(8)},
         |${leg("hilbert", "(SELECT x8, y8, d >> 11 AS bin FROM hl8) t")},
         |${leg("linear_cust", "(SELECT x8, y8, (x8 * 256 + y8) >> 11 AS bin FROM sc) t")},
         |${leg("linear_day", "(SELECT x8, y8, (y8 * 256 + x8) >> 11 AS bin FROM sc) t")},
         |${leg("zorder", s"(SELECT x8, y8, ($z) >> 11 AS bin FROM sc) t")},
         |mt AS (SELECT CAST(count(*) AS BIGINT) AS matching_rows FROM sc
         |       WHERE x8 >= 64 AND x8 < 96 AND y8 >= 64 AND y8 < 96),
         |u AS (
         |  SELECT 'hilbert' AS layout, bins_read, rows_read FROM r_hilbert
         |  UNION ALL SELECT 'linear_cust', bins_read, rows_read FROM r_linear_cust
         |  UNION ALL SELECT 'linear_day', bins_read, rows_read FROM r_linear_day
         |  UNION ALL SELECT 'zorder', bins_read, rows_read FROM r_zorder)
         |SELECT layout, bins_read, rows_read,
         |  (SELECT matching_rows FROM mt) AS matching_rows,
         |  CASE WHEN (SELECT matching_rows FROM mt) > 0
         |       THEN ${OracleSql.round(
                  "CAST(rows_read AS DOUBLE) / (SELECT matching_rows FROM mt)", 4)}
         |       ELSE 0.0 END AS read_amplification
         |FROM u ORDER BY layout""".stripMargin
    }),
    "partitioned_events_prune" -> QueryDef(partitionedEventsPrune, Some(
      s"""WITH t AS (SELECT CAST(min(ts) AS DATE) + 14 AS d FROM events)
         |SELECT event_type, count(*) AS n_events,
         |  CAST(round(sum(CAST(${OracleSql.round("value", 6)} AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
         |FROM events, t WHERE CAST(ts AS DATE) = t.d
         |GROUP BY event_type ORDER BY event_type""".stripMargin)))
}
