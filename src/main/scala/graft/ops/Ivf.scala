package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into cells; queries probe only the
  * `nprobe` nearest cells and run exact cosine inside them.
  *
  * Training is mini-Lloyd over DataFrames: assignment is an argmin
  * over broadcast centroid literals (codegen'd [[graft.functions.DotProduct]]
  * distances), the update step is an element-wise mean via
  * posexplode → groupBy(cell, dim) — the only driver-side collect is
  * the k×dims centroid matrix (bounded, not data).
  *
  * Scale posture (100 TB): training runs on a BOUNDED deterministic
  * hash-sample ([[train]]'s `trainN`), so the Lloyd loop costs
  * O(trainN·k·dims) per iteration regardless of corpus size; the full
  * corpus pays exactly one assignment pass at index time. Querying
  * scans only ~nprobe/k of the corpus per query batch —
  * the standard sub-linear ANN layout when LSH's data-independent
  * buckets under-perform on clustered embeddings. Candidates are
  * exactly re-scored, so like the LSH path precision is 1; recall is
  * measured in IvfSpec on planted clusters.
  */
object Ivf {

  final case class IvfModel(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  private def sqDistTo(cent: Array[Double]): Column = {
    // |v - c|² = |v|² - 2·v·c + |c|²; |v|² is rank-invariant per row,
    // so argmin over cells only needs -2·v·c + |c|²
    val c = array(cent.map(lit): _*)
    val c2 = cent.map(x => x * x).sum
    lit(-2.0) * graft.functions.vectorFunctions.dot_product(col("v"), c) + lit(c2)
  }

  /** Nearest-cell id over the model's centroids (codegen'd dots). */
  private[ops] def cellOf(model: IvfModel): Column = {
    val scored = model.centroids.zipWithIndex.map { case (cent, i) =>
      struct(sqDistTo(cent).as("d"), lit(i).as("cid"))
    }
    element_at(sort_array(array(scored: _*)), 1).getField("cid")
  }

  /** `nprobe` nearest cell ids, as an array column. */
  private[ops] def probeCells(model: IvfModel, nprobe: Int): Column = {
    val scored = model.centroids.zipWithIndex.map { case (cent, i) =>
      struct(sqDistTo(cent).as("d"), lit(i).as("cid"))
    }
    slice(transform(sort_array(array(scored: _*)), s => s.getField("cid")), 1, nprobe)
  }

  /** Deterministic seed pick: the `k` vectors with the smallest
    * (m61_fmix_hash63(id), id) — a pseudo-random-but-reproducible
    * sample that compiles to TakeOrderedAndProject (per-partition
    * top-k merged on the driver, k rows on the wire; plan shape
    * pinned in PlanPinsSpec). The hash is the library's
    * DuckDB-reproducible M61+fmix63 family (same pick recipe as the
    * seeded-IVF sibling), which is what lets the trained rows be
    * oracle-checked — the earlier xxhash64 was JVM-only. */
  private[graft] def initCentroidsPlan(vecs: DataFrame, k: Int): DataFrame =
    vecs.orderBy(graft.functions.textFunctions.m61_fmix_hash63(col("id")),
        col("id")).limit(k).select(col("v"))

  /** Mini-Lloyd training ON A BOUNDED SAMPLE. `vecs`: (id,
    * v: array<double>). Training touches only the `trainN` vectors
    * smallest under the (m61_fmix_hash63(id), id) ordering — the SAME
    * ordering the seed pick uses, so the seeds are a prefix of the
    * training sample and the whole pick stays one
    * TakeOrderedAndProject (per-partition top-N, N rows on the wire).
    * This is the 100 TB posture made real: per-iteration cost is
    * O(trainN·k·dims) regardless of corpus size — the full corpus is
    * touched only by the (unavoidable, single-pass) final assignment
    * downstream, never by the Lloyd loop. A deterministic hash-sample
    * rather than `sample()` keeps the model — hence every downstream
    * assignment and top-k — oracle-reproducible: DuckDB regenerates
    * the identical sample from the identical hash order.
    *
    * Seeding is deterministic given the data, and the update step is
    * ORDER-INDEPENDENT: per-component means sum 9dp-decimal-rounded
    * values exactly (the PageRank recipe) and re-round the mean to
    * 9dp, so the trained model is identical across partition orders
    * AND reproducible in DuckDB decimal SQL. The ≤1e-9 per-component
    * perturbation is noise relative to k-means' own seeding
    * sensitivity; IvfSpec's planted-cluster recall assertions pin the
    * quality contract (its fixtures sit under `trainN`, so sampling
    * is exercised by the driver tables, whose corpus exceeds it). */
  def train(vecs: DataFrame, k: Int = 16, iters: Int = 3,
            trainN: Int = 256): IvfModel =
    trainOn(trainSample(vecs, trainN), k, iters)

  /** The bounded hash-ordered training sample BOTH quantizer trainers
    * collect (this one and [[Pq.train]] use the identical (h, id)
    * order and trainN) — exposed so composed IVF+PQ builds collect it
    * ONCE instead of running the same top-trainN job twice (r14).
    *
    * ONE distributed job: the hash-ordered top-trainN sample
    * (TakeOrderedAndProject — trainN rows per partition on the wire,
    * merged on the driver). The collect is bounded by the trainN
    * PARAMETER, not the data: ≤ trainN×dims doubles (~128 KB at the
    * defaults), i.e. the training set itself, same boundedness class
    * as the k×dims centroid matrix. Lloyd then runs driver-local —
    * launching a distributed job per iteration over ≤256 cached rows
    * was pure scheduling overhead at every scale. */
  private[ops] def trainSample(vecs: DataFrame,
                               trainN: Int): Array[Array[Double]] = {
    val rows = vecs
      .select(col("id"), col("v"),
        graft.functions.textFunctions.m61_fmix_hash63(col("id")).as("h"))
      .orderBy(col("h"), col("id")).limit(trainN)
      .collect()
    // fail fast with a clear message: a 0-centroid model would
    // otherwise surface as an obscure analysis error in cellOf
    require(rows.nonEmpty,
      "Ivf.train requires a non-empty vecs frame (no seed vectors found)")
    rows
      .sortBy(r => (r.getLong(2), r.getLong(0))) // defensive: the (h, id) contract
      .map(_.getSeq[Double](1).toArray)
  }

  /** Lloyd over an already-collected sample; seeds = the sample's
    * first k (the SAME ordering the collect established). */
  private[ops] def trainOn(sample: Array[Array[Double]], k: Int,
                           iters: Int): IvfModel = {
    require(sample.length >= k, s"sample=${sample.length} must cover k=$k seeds")
    IvfModel(lloydOn(sample, sample.take(k), iters))
  }

  /** The driver-local Lloyd loop itself, shared with the PQ
    * sub-quantizer training ([[Pq.train]] runs it once per subspace on
    * sliced sample vectors): identical assignment op order and
    * order-independent decimal update as the oracle's generated
    * iterations. */
  private[ops] def lloydOn(sample: Array[Array[Double]],
                           seeds: Array[Array[Double]],
                           iters: Int): Array[Array[Double]] = {
    var model = IvfModel(seeds)
    for (_ <- 1 to iters) {
      // assignment: argmin over (−2·v·c + |c|², cid) with the IDENTICAL
      // op order as [[cellOf]]/the oracle — sequential index-order dot,
      // Scala-fold |c|², first-wins ties (= lowest cid)
      val cents = model.centroids
      val c2 = cents.map(c => c.map(x => x * x).sum)
      val assigned = sample.map { v =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var i = 0
        while (i < cents.length) {
          val c = cents(i)
          var dot = 0.0
          var j = 0
          val n = math.min(c.length, v.length)
          while (j < n) { dot += v(j) * c(j); j += 1 }
          val d = -2.0 * dot + c2(i)
          if (d < bestD) { bestD = d; best = i }
          i += 1
        }
        (best, v)
      }
      // update: the same ORDER-INDEPENDENT decimal recipe as the
      // distributed version this replaces (and as the oracle): mean =
      // round9(toDouble(Σ decimal9(round9(x))) / n) — exact-decimal
      // accumulation makes driver order irrelevant, so the model is
      // bit-identical to what the posexplode/groupBy plan produced
      val updated = assigned.groupBy(_._1).map { case (cid, vs) =>
        // per-dim counts, like the posexplode/groupBy this replaces:
        // on ragged vectors each dim averages over the rows that HAVE it
        val dims = vs.map(_._2.length).max
        val arr = new Array[Double](dims)
        var d = 0
        while (d < dims) {
          var sum = java.math.BigDecimal.ZERO
          var n = 0L
          vs.foreach { case (_, v) =>
            if (d < v.length) { sum = sum.add(dec9(round9(v(d)))); n += 1 }
          }
          arr(d) = round9(sum.doubleValue() / n)
          d += 1
        }
        cid -> arr
      }
      // empty cells keep their previous centroid
      model = IvfModel(model.centroids.zipWithIndex.map { case (old, i) =>
        updated.getOrElse(i, old)
      })
    }
    model.centroids
  }

  /** Spark's `round(x, 9)` on a double, exactly: shortest-repr
    * BigDecimal, HALF_UP at scale 9, back to double. */
  private def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's `cast(x as decimal(20,9))` on a double, exactly. */
  private def dec9(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)

  /** IVF top-k: probe `nprobe` cells, exact cosine inside them. Same
    * output shape as Similarity.bruteForceTopK / lshTopKOn. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, model: IvfModel,
              k: Int = 10, nprobe: Int = 3): DataFrame = {
    val indexed = corpus.withColumn("cid", cellOf(model))
    val probes = queries
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(probeCells(model, nprobe)).as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    indexed
      .select(col("id").as("neighbor_id"), col("v").as("cv"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .withColumn("sim", graft.functions.vectorFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ----------------------------------------------------- persisted index

  /** Materialize the index: centroids as a small parquet table and the
    * corpus PARTITIONED BY cell id. This is the production layout —
    * training happens once, and every later query batch reads only its
    * probed cells from disk (partition pruning at the scan, so I/O is
    * ~nprobe/k of the corpus, not just compute). */
  def writeIndex(s: SparkSession, corpus: DataFrame, model: IvfModel,
                 path: String): Unit = {
    import s.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    corpus.withColumn("cid", cellOf(model))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/corpus")
  }

  /** Load the bounded centroid matrix back as a model. */
  def readModel(s: SparkSession, path: String): IvfModel =
    IvfModel(s.read.parquet(s"$path/centroids")
      .orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toArray))

  /** Query a persisted index: compute each query's probe cells, prune
    * the corpus scan to exactly those partitions (the `isin` filter on
    * the partition column becomes a PartitionFilters entry — pinned in
    * IvfSpec), then exact cosine + top-k as in [[ivfTopK]].
    *
    * The probe set is collected ONCE to the driver (bounded:
    * |query batch| × nprobe rows — query batches are bounded by
    * protocol, same as the brute-force path's broadcast) and re-enters
    * the plan as a local relation. That one bounded collect buys two
    * things: the literal cell ids that become PartitionFilters at the
    * corpus scan, and freedom from any internal `persist` — earlier
    * versions cached the probes frame to avoid recomputing it for the
    * cell-id pass and leaked one cached frame per call into
    * long-running sessions (callers couldn't unpersist what backs a
    * lazy result). */
  def ivfTopKIndexed(s: SparkSession, path: String, queries: DataFrame,
                     k: Int = 10, nprobe: Int = 3): DataFrame = {
    val model = readModel(s, path)
    val probesPlan = queries
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(probeCells(model, nprobe)).as("cid"))
    val probeRows = probesPlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val cells = probeRows.map(_.getAs[Int]("cid")).distinct
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    s.read.parquet(s"$path/corpus")
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))
      .select(col("id").as("neighbor_id"), col("v").as("cv"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .withColumn("sim", graft.functions.vectorFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** (id, v) embeddings frame, persisted — training makes `iters + 1`
    * passes over it. Callers whose RETURNED plan still reads the frame
    * (ivfQuery) must leave the cache alive; callers that re-root onto
    * the written index (ivfIndexedQuery) unpersist before returning. */
  private[ops] def embFrame(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id").as("id"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Driver-table query: train on the embeddings, probe with the
    * first five vectors (same protocol as ann_brute_topk/ann_lsh_topk
    * so outputs are directly comparable). */
  def ivfQuery(s: SparkSession, dir: String): DataFrame = {
    val e = embFrame(s, dir)
    val model = train(e, k = 16, iters = 3)
    ivfTopK(e.filter(col("id") < 5), e.filter(col("id") >= 5), model)
  }

  /** Same protocol through the PERSISTED index: train, write the
    * cid-partitioned parquet index under the repo scratch dir, then
    * answer through [[ivfTopKIndexed]]'s partition-pruned scan — the
    * production layout gets a driver signal, not just a spec. The
    * scratch path is unique per invocation ([[graft.Scratch.dir]]): a
    * FIXED path let one run's `overwrite`
    * clobber an index another concurrent run's lazy result was still
    * scanning (FileNotFound / corrupt reads). Production callers
    * manage their own index path via [[writeIndex]]/[[ivfTopKIndexed]]. */
  def ivfIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val e = embFrame(s, dir)
    val model = train(e, k = 16, iters = 3)
    val path = graft.Scratch.dir(s, "ivf_index")
    writeIndex(s, e.filter(col("id") >= 5), model, path)
    val out = ivfTopKIndexed(s, path, e.filter(col("id") < 5))
    // everything below `out` reads the WRITTEN index (the query probes
    // were collected eagerly inside ivfTopKIndexed), so the cache can
    // be released here instead of leaking per call
    e.unpersist()
    out
  }

  // ---------------------------------------------------------- oracle

  private[ops] def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"
  private[ops] def c2Sql(c: String): String =
    s"list_sum(list_transform($c, x -> x * x))"
  private[ops] def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${c2Sql(a)}) * sqrt(${c2Sql(b)}))"

  /** One Lloyd iteration as a CTE triple — the generated twin of the
    * loop body in [[train]], same op order everywhere: assignment
    * ranks cells by the identical −2·v·c + |c|² expression (sequential
    * list folds, ties by cid) OVER THE TRAINING SAMPLE `smp` (the
    * engine trains on the bounded hash-sample, so must the oracle),
    * the update sums 9dp-decimal components exactly and re-rounds the
    * mean to 9dp, empty cells carry the previous centroid via the
    * LEFT JOIN coalesce. */
  private[ops] def lloydIter(t: Int): String = {
    val mean = graft.OracleSql.roundDecSub(
      s"CAST(sum(CAST(${graft.OracleSql.roundDecSub("x", 9)} AS DECIMAL(20,9))) AS DOUBLE)" +
        " / count(*)", 9)
    s"""asg$t AS (SELECT id, v, cid FROM (
       |  SELECT e.id, e.v, ct.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      -2.0 * ${dotSql("e.v", "ct.c")} + ${c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM smp e CROSS JOIN cent${t - 1} ct) WHERE rn = 1),
       |upd$t AS (SELECT cid, dim, CAST($mean AS DOUBLE) AS m
       |  FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS dim FROM asg$t)
       |  GROUP BY cid, dim),
       |cent$t AS (SELECT p.cid, coalesce(u.c, p.c) AS c
       |  FROM cent${t - 1} p LEFT JOIN
       |    (SELECT cid, list(m ORDER BY dim) AS c FROM upd$t GROUP BY cid) u
       |  ON u.cid = p.cid)""".stripMargin
  }

  /** Full-query oracle: M61-hash seed pick (the seeded sibling's
    * recipe), `iters` generated Lloyd iterations, then the probe /
    * assign / exact-rescore top-k — shared verbatim by the in-memory
    * and persisted-index rows (the index round-trips the same doubles
    * through parquet, so results are identical by construction). */
  private def ivfOracle(k: Int = 16, iters: Int = 3, nQueries: Int = 5,
                        topK: Int = 10, nprobe: Int = 3,
                        trainN: Int = 256): String = {
    val itersSql = (1 to iters).map(lloydIter).mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${graft.OracleSql.m61FmixScalarCtes("e", "CAST(id AS VARCHAR)", p = "sh")},
       |ord AS (SELECT id, v, row_number() OVER (ORDER BY h & 9223372036854775807, id) AS rn
       |        FROM sh),
       |smp AS (SELECT id, v FROM ord WHERE rn <= $trainN),
       |cent0 AS (SELECT rn - 1 AS cid, v AS c FROM ord WHERE rn <= $k),
       |$itersSql,
       |fin AS (SELECT id, v, cid FROM (
       |  SELECT c.id, c.v, ct.cid,
       |    row_number() OVER (PARTITION BY c.id ORDER BY
       |      -2.0 * ${dotSql("c.v", "ct.c")} + ${c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM (SELECT * FROM e WHERE id >= $nQueries) c CROSS JOIN cent$iters ct)
       |  WHERE rn = 1),
       |probes AS (SELECT id AS query_id, v AS qv, cid FROM (
       |  SELECT q.id, q.v, ct.cid,
       |    row_number() OVER (PARTITION BY q.id ORDER BY
       |      -2.0 * ${dotSql("q.v", "ct.c")} + ${c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM (SELECT * FROM e WHERE id < $nQueries) q CROSS JOIN cent$iters ct)
       |  WHERE rn <= $nprobe),
       |scored AS (SELECT p.query_id, f.id AS neighbor_id,
       |             ${cosSql("p.qv", "f.v")} AS sim
       |           FROM fin f JOIN probes p USING (cid)),
       |ranked AS (SELECT query_id, neighbor_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY sim DESC, neighbor_id) AS rnk
       |           FROM scored)
       |SELECT query_id, neighbor_id,
       |  ${graft.OracleSql.round("sim", 6)} AS sim, rnk
       |FROM ranked WHERE rnk <= $topK ORDER BY query_id, rnk""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    // Fully oracle-checked since training became deterministic
    // (M61-hash seeds + order-independent decimal means): the oracle
    // re-runs all of Lloyd as generated CTEs. The persisted-index row
    // shares the SQL verbatim — disk round-trip cannot change doubles.
    "ann_ivf_topk" -> QueryDef(ivfQuery, Some(ivfOracle())),
    "ann_ivf_indexed" -> QueryDef(ivfIndexedQuery, Some(ivfOracle())))
}
