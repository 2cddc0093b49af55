package graft.ops

import graft.{OracleSql, QueryDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the
  * memory-side ANN technique IVF doesn't give: each vector is encoded
  * as `m` small codes (one byte-ish integer per subspace), so the
  * BULK scan of a query touches only the code columns — at 100 TB
  * that is a ~64× I/O and memory cut (4 ints vs 64 doubles per row),
  * and the full vectors are fetched only for the bounded shortlist
  * that survives the approximate ranking.
  *
  * Pipeline: split the embedding into `m` contiguous subspaces, train
  * a `ksub`-centroid codebook per subspace on the SAME bounded
  * deterministic hash-sample as IVF (the Lloyd loop is literally
  * shared — [[Ivf.lloydOn]] per subspace), encode the corpus once,
  * then answer queries by asymmetric distance computation (ADC):
  * per query, an m×ksub table of subspace distance contributions is
  * precomputed (tiny), the code scan sums `m` table lookups per row,
  * and the top `shortlist` by approximate distance are exactly
  * re-scored with cosine for the final top-k.
  *
  * Determinism (what makes the row oracle-checkable): training is the
  * deterministic sample + decimal Lloyd; ADC contributions are
  * 9dp-decimal-rounded BEFORE the per-pair sum, so the approximate
  * distance is an exact decimal sum (order-independent and
  * reproducible in DuckDB); every rank has a neighbor-id tie-break.
  */
object Pq {

  /** `codebooks(j)(c)` = centroid c of subspace j (ksub × subDim). */
  final case class PqModel(codebooks: Array[Array[Array[Double]]], subDim: Int) {
    def m: Int = codebooks.length
  }

  /** Train one codebook per subspace on the bounded hash-sample (same
    * sample and ordering as [[Ivf.train]], sliced per subspace; seeds
    * are the sample prefix's slices). */
  def train(vecs: DataFrame, m: Int = 4, ksub: Int = 16, iters: Int = 2,
            trainN: Int = 256): PqModel = {
    require(trainN >= ksub, s"trainN=$trainN must cover ksub=$ksub seeds")
    // sample FIRST: an empty frame must fail fast with the clear
    // non-empty message, not as a null-int dims aggregate
    val sample = Ivf.trainSample(vecs, trainN)
    // dims from the FULL frame, not the sample: the oracle's dims CTE
    // is min(len(v)) over the whole table, and with ragged embedding
    // dims the shortest vector can fall outside the 256-row sample —
    // both sides must slice subspaces from the same width (bounded
    // 1-row collect)
    val dims = vecs.agg(min(size(col("v")))).collect()(0).getInt(0)
    trainOn(sample, dims, m, ksub, iters)
  }

  /** Sub-quantizer Lloyd over an already-collected [[Ivf.trainSample]]
    * — composed IVF+PQ builds pass the ONE shared sample here (r14). */
  private[ops] def trainOn(sample: Array[Array[Double]], dims: Int,
                           m: Int, ksub: Int, iters: Int): PqModel = {
    require(sample.length >= ksub,
      s"sample=${sample.length} must cover ksub=$ksub seeds")
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val subDim = dims / m
    val codebooks = (0 until m).toArray.map { j =>
      val sub = sample.map(_.slice(j * subDim, (j + 1) * subDim))
      Ivf.lloydOn(sub, sub.take(ksub), iters)
    }
    PqModel(codebooks, subDim)
  }

  /** Nearest-centroid code for subspace `j` (codegen'd dots over the
    * sliced vector; ties → lowest code, same op order as the oracle). */
  private[ops] def codeOf(model: PqModel, j: Int): Column = {
    val sub = model.subDim
    val vj = slice(col("v"), j * sub + 1, sub)
    val scored = model.codebooks(j).zipWithIndex.map { case (cent, c) =>
      val cLit = array(cent.map(lit): _*)
      val c2 = cent.map(x => x * x).sum
      struct((lit(-2.0) * graft.functions.vectorFunctions.dot_product(vj, cLit)
        + lit(c2)).as("d"), lit(c).as("cid"))
    }
    element_at(sort_array(array(scored: _*)), 1).getField("cid")
  }

  /** Encode a corpus: (id, v) → (id, codes: array<int> of length m). */
  def encode(corpus: DataFrame, model: PqModel): DataFrame =
    corpus.select(col("id"),
      array((0 until model.m).map(j => codeOf(model, j)): _*).as("codes"))

  /** ADC query: per-query contribution tables ⋈ exploded corpus codes
    * → exact decimal sum → shortlist → exact cosine rescore → top-k.
    * The code scan never touches `v`; the rescore joins vectors for
    * `shortlist` rows per query only. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, model: PqModel,
             k: Int = 10, shortlist: Int = 50): DataFrame =
    pqTopKFrom(queries, encode(corpus, model),
      corpus.select(col("id"), col("v")), model, k, shortlist)

  /** The query path against ALREADY-ENCODED codes and a separate
    * vector table — what a persisted index serves. The bulk work
    * reads `codes` only; `vectors` is touched for the shortlist
    * rescore fetches. */
  def pqTopKFrom(queries: DataFrame, codesDf: DataFrame, vectors: DataFrame,
                 model: PqModel, k: Int = 10, shortlist: Int = 50): DataFrame = {
    val adcAgg = explodedCodes(codesDf)
      .join(broadcast(adcTables(queries, model)), Seq("j", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("adc_dec"))
    rankFromAdc(adcAgg, queries, vectors, k, shortlist)
  }

  /** Per-(query, subspace, code) ADC contribution table: −2·qj·c +
    * |c|², rounded to 9dp decimal so downstream sums are exact.
    * m×ksub rows per query — always broadcastable. */
  private[ops] def adcTables(queries: DataFrame, model: PqModel): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val sub = model.subDim
    val centRows = for {
      j <- 0 until model.m
      (c, ci) <- model.codebooks(j).zipWithIndex
    } yield (j, ci, c.toSeq)
    val cents = centRows.toDF("j", "cid", "cent")
    queries.select(col("id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("j"), col("cid"),
        round(lit(-2.0) * graft.functions.vectorFunctions.dot_product(
            slice(col("qv"), col("j") * sub + 1, lit(sub)), col("cent"))
          + graft.functions.vectorFunctions.dot_product(col("cent"), col("cent")),
          9).cast("decimal(20,9)").as("contrib"))
  }

  /** (id, codes) → one (neighbor_id, j, cid) row per subspace code. */
  private[ops] def explodedCodes(codesDf: DataFrame): DataFrame =
    codesDf.select(col("id").as("neighbor_id"),
      posexplode(col("codes")).as(Seq("j", "cid")))

  /** Shortlist by exact-decimal ADC, rescore by exact cosine, top-k —
    * shared by flat PQ and the IVF-PQ composition. */
  private[ops] def rankFromAdc(adcAgg: DataFrame, queries: DataFrame,
                               vectors: DataFrame, k: Int,
                               shortlist: Int): DataFrame = {
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    val short = adcAgg
      .withColumn("adc", col("adc_dec").cast("double"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    short
      .join(vectors.select(col("id").as("neighbor_id"), col("v").as("cv")),
        Seq("neighbor_id"))
      .join(queries.select(col("id").as("query_id"), col("v").as("qv")),
        Seq("query_id"))
      .withColumn("sim",
        graft.functions.vectorFunctions.cosine_sim(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Driver row: same query protocol as the other ANN rows (ids < 5
    * are queries, the rest the corpus). */
  def pqQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Ivf.embFrame(s, dir)
    val model = train(e)
    pqTopK(e.filter(col("id") < 5), e.filter(col("id") >= 5), model)
  }

  /** Persist the index: the bounded codebook matrix, the encoded
    * codes (4 ints per row — the table the bulk scan reads), and the
    * vector table the rescore fetches from. Encoding is paid ONCE
    * here, not per query batch — the amortization the 10× probe of
    * the inline row prices out. */
  def writeIndex(s: SparkSession, corpus: DataFrame, model: PqModel,
                 path: String): Unit = {
    writeCodebooks(s, model, path)
    encode(corpus, model).write.mode("overwrite").parquet(s"$path/codes")
    corpus.select(col("id"), col("v"))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Persist just the bounded codebook matrix (shared with the IVF-PQ
    * composed index, which lays out its codes cell-partitioned). */
  def writeCodebooks(s: SparkSession, model: PqModel, path: String): Unit = {
    import s.implicits._
    val cbRows = for {
      j <- 0 until model.m
      (c, ci) <- model.codebooks(j).zipWithIndex
    } yield (j, ci, c.toSeq)
    cbRows.toDF("j", "cid", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Load the bounded codebooks back (ints and doubles round-trip
    * parquet losslessly, so results equal the in-memory path). */
  def readModel(s: SparkSession, path: String): PqModel = {
    val rows = s.read.parquet(s"$path/codebooks")
      .orderBy(col("j"), col("cid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    val cbs = (0 until m).toArray.map(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3))
    PqModel(cbs, cbs.head.head.length)
  }

  /** Driver row through the PERSISTED layout: train, write codebooks +
    * codes + vectors, then answer from disk — the code-only bulk scan
    * becomes a real parquet column-pruned read. Shares the in-memory
    * row's oracle verbatim. */
  def pqIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Ivf.embFrame(s, dir)
    val model = train(e)
    val path = graft.Scratch.dir(s, "pq_index")
    writeIndex(s, e.filter(col("id") >= 5), model, path)
    val loaded = readModel(s, path)
    val out = pqTopKFrom(e.filter(col("id") < 5),
      s.read.parquet(s"$path/codes"),
      s.read.parquet(s"$path/vectors"), loaded)
    e.unpersist()
    out
  }

  // ---------------------------------------------------------- oracle

  /** One Lloyd iteration over subspace `p`'s sliced sample — the
    * per-subspace twin of Ivf's generated iteration (same assignment
    * expression, same decimal mean, same empty-cell carry). */
  private def lloydIterSub(p: String, t: Int): String = {
    val mean = OracleSql.roundDecSub(
      s"CAST(sum(CAST(${OracleSql.roundDecSub("x", 9)} AS DECIMAL(20,9))) AS DOUBLE)" +
        " / count(*)", 9)
    s"""asg$p$t AS (SELECT id, v, cid FROM (
       |  SELECT e.id, e.v, ct.cid,
       |    row_number() OVER (PARTITION BY e.id ORDER BY
       |      -2.0 * ${Ivf.dotSql("e.v", "ct.c")} + ${Ivf.c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM smp$p e CROSS JOIN cent$p${t - 1} ct) WHERE rn = 1),
       |upd$p$t AS (SELECT cid, dim, CAST($mean AS DOUBLE) AS m
       |  FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS dim FROM asg$p$t)
       |  GROUP BY cid, dim),
       |cent$p$t AS (SELECT p.cid, coalesce(u.c, p.c) AS c
       |  FROM cent$p${t - 1} p LEFT JOIN
       |    (SELECT cid, list(m ORDER BY dim) AS c FROM upd$p$t GROUP BY cid) u
       |  ON u.cid = p.cid)""".stripMargin
  }

  /** The full PQ pipeline as generated SQL: per-subspace sample
    * slices and Lloyd chains, corpus encoding, per-query ADC tables
    * with the identical 9dp-decimal rounding, exact decimal sums,
    * shortlist, cosine rescore. */
  /** The per-subspace sample-slice + Lloyd chains (ends in
    * `cents{j}{iters}` per subspace) — shared with the IVF-PQ oracle. */
  private[ops] def subChainsSql(m: Int, ksub: Int, iters: Int): String =
    (0 until m).map { j =>
      val p = s"s$j"
      val slice = s"list_slice(v, $j * sub + 1, ${j + 1} * sub)"
      val chain = (1 to iters).map(t => lloydIterSub(p, t)).mkString(",\n")
      s"""smp$p AS (SELECT id, $slice AS v FROM smpd),
         |cent${p}0 AS (SELECT rn - 1 AS cid, $slice AS c
         |  FROM ordd WHERE rn <= $ksub),
         |$chain""".stripMargin
    }.mkString(",\n")

  /** Corpus encoding as a UNION over subspaces (reads `corp`). */
  private[ops] def encUnionSql(m: Int, iters: Int): String =
    (0 until m).map { j =>
      val p = s"s$j"
      s"""SELECT id, $j AS j, cid FROM (
         |  SELECT c.id, ct.cid,
         |    row_number() OVER (PARTITION BY c.id ORDER BY
         |      -2.0 * ${Ivf.dotSql(s"list_slice(c.v, $j * sub + 1, ${j + 1} * sub)", "ct.c")}
         |        + ${Ivf.c2Sql("ct.c")}, ct.cid) AS rn
         |  FROM corp c CROSS JOIN cent$p$iters ct) WHERE rn = 1""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Per-query ADC tables as a UNION over subspaces (reads `qry`). */
  private[ops] def tblUnionSql(m: Int, iters: Int): String =
    (0 until m).map { j =>
      val p = s"s$j"
      val contrib = s"-2.0 * ${Ivf.dotSql(s"list_slice(q.v, $j * sub + 1, ${j + 1} * sub)", "ct.c")}" +
        s" + ${Ivf.c2Sql("ct.c")}"
      s"""SELECT q.id AS query_id, $j AS j, ct.cid,
         |  ${OracleSql.roundDecSub(contrib, 9)} AS contrib
         |FROM qry q CROSS JOIN cent$p$iters ct""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Shared WITH-prelude: hash order, bounded sample, corpus/query
    * splits, all carrying the `sub` (subspace width) scalar. */
  private[ops] def preludeSql(m: Int, trainN: Int, nQueries: Int): String =
    s"""e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT min(len(v)) AS d FROM e),
       |subc AS (SELECT d // $m AS sub FROM dims),
       |${OracleSql.m61FmixScalarCtes("e", "CAST(id AS VARCHAR)", p = "sh")},
       |ordd AS (SELECT id, v, sub, row_number() OVER (ORDER BY h & 9223372036854775807, id) AS rn
       |         FROM sh CROSS JOIN subc),
       |smpd AS (SELECT id, v, sub FROM ordd WHERE rn <= $trainN),
       |corp AS (SELECT id, v, sub FROM e CROSS JOIN subc WHERE id >= $nQueries),
       |qry AS (SELECT id, v, sub FROM e CROSS JOIN subc WHERE id < $nQueries)""".stripMargin

  private def pqOracle(m: Int = 4, ksub: Int = 16, iters: Int = 2,
                       trainN: Int = 256, nQueries: Int = 5,
                       topK: Int = 10, shortlist: Int = 50): String = {
    val subChains = subChainsSql(m, ksub, iters)
    val encUnion = encUnionSql(m, iters)
    val tblUnion = tblUnionSql(m, iters)
    s"""WITH ${preludeSql(m, trainN, nQueries)},
       |$subChains,
       |enc AS ($encUnion),
       |tbl AS ($tblUnion),
       |adc AS (SELECT t.query_id, enc.id AS neighbor_id,
       |          CAST(sum(t.contrib) AS DOUBLE) AS adc
       |        FROM enc JOIN tbl t ON enc.j = t.j AND enc.cid = t.cid
       |        GROUP BY t.query_id, enc.id),
       |short AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS srnk
       |  FROM adc) WHERE srnk <= $shortlist),
       |resc AS (SELECT s.query_id, s.neighbor_id,
       |           ${Ivf.cosSql("q.v", "c.v")} AS sim
       |         FROM short s
       |         JOIN corp c ON c.id = s.neighbor_id
       |         JOIN qry q ON q.id = s.query_id),
       |ranked AS (SELECT query_id, neighbor_id, sim,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY sim DESC, neighbor_id) AS rnk
       |           FROM resc)
       |SELECT query_id, neighbor_id,
       |  ${OracleSql.round("sim", 6)} AS sim, rnk
       |FROM ranked WHERE rnk <= $topK ORDER BY query_id, rnk""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "ann_pq_topk" -> QueryDef(pqQuery, Some(pqOracle())),
    // disk round-trip of ints/doubles is lossless -> same oracle
    "ann_pq_indexed" -> QueryDef(pqIndexedQuery, Some(pqOracle())))
}
