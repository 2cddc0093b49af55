package graft.ops

import graft.{OracleSql, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ — the production vector-index composition (the FAISS
  * `IVFPQ` layout): a coarse quantizer prunes the search to `nprobe`
  * cells, and WITHIN those cells the ranking runs on PQ codes via
  * ADC — so a query batch touches ~nprobe/k of the corpus, and what
  * it touches is 4-int codes, not vectors. The two pruning axes
  * compose: IVF cuts ROWS, PQ cuts BYTES per row; full vectors are
  * read only for the final shortlist rescore.
  *
  * Both trainers run on the same bounded deterministic hash-sample
  * (coarse: [[Ivf.train]]; codebooks: [[Pq.train]] — no residual
  * encoding, the documented simplification: residual PQ would retrain
  * codebooks per coarse cell geometry, a quality refinement that
  * changes no plan shape). Everything downstream reuses the two
  * modules' proven pieces, and the oracle is the concatenation of
  * their proven generated chains plus the cell-filtered ADC join —
  * fully hash-checked. */
object IvfPq {

  /** Cell-pruned ADC top-k: candidates = corpus rows in the query's
    * probed cells; ADC + shortlist + exact rescore via Pq's shared
    * machinery. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                coarse: Ivf.IvfModel, pq: Pq.PqModel,
                k: Int = 10, nprobe: Int = 3,
                shortlist: Int = 50): DataFrame = {
    val cells = corpus.withColumn("cell", Ivf.cellOf(coarse))
      .select(col("id").as("neighbor_id"), col("cell"))
    val probes = queries
      .select(col("id").as("query_id"),
        explode(Ivf.probeCells(coarse, nprobe)).as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"))
    val adcAgg = cand
      .join(Pq.explodedCodes(Pq.encode(corpus, pq)), Seq("neighbor_id"))
      .join(broadcast(Pq.adcTables(queries, pq)), Seq("query_id", "j", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("adc_dec"))
    Pq.rankFromAdc(adcAgg, queries,
      corpus.select(col("id"), col("v")), k, shortlist)
  }

  /** Driver row: same protocol and parameters as the component rows
    * (ids < 5 query the rest; coarse k=16/iters=3 as ann_ivf_topk,
    * PQ m=4/ksub=16/iters=2 as ann_pq_topk). */
  def ivfPqQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Ivf.embFrame(s, dir)
    // ONE shared top-trainN sample collect for both quantizers (r14 —
    // Ivf.train and Pq.train used to run the identical hash-ordered
    // sample job twice); dims stays a full-frame agg (Pq.train's note)
    val sample = Ivf.trainSample(e, trainN = 256)
    val dims = e.agg(min(size(col("v")))).collect()(0).getInt(0)
    val coarse = Ivf.trainOn(sample, k = 16, iters = 3)
    val pq = Pq.trainOn(sample, dims, m = 4, ksub = 16, iters = 2)
    ivfPqTopK(e.filter(col("id") < 5), e.filter(col("id") >= 5), coarse, pq)
  }

  /** Persist the composed index: coarse centroids (the [[Ivf]] layout,
    * so [[Ivf.readModel]] loads them back), PQ codebooks (the [[Pq]]
    * layout), the corpus CODES partitioned by coarse cell — the table
    * a query's bulk scan reads, combining both pruning axes: partition
    * pruning cuts to ~nprobe/k of the rows AND each row is m ints,
    * not the vector — plus the flat vector table the bounded shortlist
    * rescore fetches from. Coarse assignment and PQ encoding are paid
    * ONCE here; the inline row's 3.3×@10× encode cost (PLAN_NOTES)
    * moves to index build, amortized across query batches. */
  def writeIndex(s: SparkSession, corpus: DataFrame, coarse: Ivf.IvfModel,
                 pq: Pq.PqModel, path: String): Unit = {
    import s.implicits._
    coarse.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    Pq.writeCodebooks(s, pq, path)
    corpus
      .select(col("id"),
        array((0 until pq.m).map(j => Pq.codeOf(pq, j)): _*).as("codes"),
        Ivf.cellOf(coarse).as("cell"))
      // cluster by the partition column so each cell gets contiguous
      // files (same rationale as the posting-index write)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    corpus.select(col("id"), col("v"))
      .write.mode("overwrite").parquet(s"$path/vectors")
  }

  /** Query a persisted IVF-PQ index: probe cells are computed from the
    * loaded coarse model and collected ONCE (bounded |queries|×nprobe,
    * the [[Ivf.ivfTopKIndexed]] rationale) — the literal cell ids
    * become PartitionFilters at the code scan, and the probe relation
    * re-enters the plan broadcast. ADC + shortlist + exact rescore run
    * through [[Pq]]'s shared machinery against the disk layout. */
  def ivfPqTopKIndexed(s: SparkSession, path: String, queries: DataFrame,
                       k: Int = 10, nprobe: Int = 3,
                       shortlist: Int = 50): DataFrame = {
    val coarse = Ivf.readModel(s, path)
    val pq = Pq.readModel(s, path)
    val probesPlan = queries
      .select(col("id").as("query_id"),
        explode(Ivf.probeCells(coarse, nprobe)).as("cell"))
    val probeRows = probesPlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val cells = probeRows.map(_.getAs[Int]("cell")).distinct
    val adcAgg = s.read.parquet(s"$path/codes")
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        posexplode(col("codes")).as(Seq("j", "cid")))
      .join(broadcast(Pq.adcTables(queries, pq)), Seq("query_id", "j", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("adc_dec"))
    Pq.rankFromAdc(adcAgg, queries,
      s.read.parquet(s"$path/vectors"), k, shortlist)
  }

  /** Driver row through the PERSISTED composed layout — train both
    * quantizers, write the index, answer from disk. Shares the inline
    * row's oracle verbatim (ints and doubles round-trip parquet
    * losslessly). */
  def ivfPqIndexedQuery(s: SparkSession, dir: String): DataFrame = {
    val e = Ivf.embFrame(s, dir)
    // one shared sample collect for both quantizers (see ivfPqQuery)
    val sample = Ivf.trainSample(e, trainN = 256)
    val dims = e.agg(min(size(col("v")))).collect()(0).getInt(0)
    val coarse = Ivf.trainOn(sample, k = 16, iters = 3)
    val pq = Pq.trainOn(sample, dims, m = 4, ksub = 16, iters = 2)
    val path = graft.Scratch.dir(s, "ivfpq_index")
    writeIndex(s, e.filter(col("id") >= 5), coarse, pq, path)
    val out = ivfPqTopKIndexed(s, path, e.filter(col("id") < 5))
    e.unpersist()
    out
  }

  private def ivfPqOracle(m: Int = 4, ksub: Int = 16, pqIters: Int = 2,
                          k: Int = 16, coarseIters: Int = 3,
                          trainN: Int = 256, nQueries: Int = 5,
                          topK: Int = 10, nprobe: Int = 3,
                          shortlist: Int = 50): String = {
    val coarseChain = (1 to coarseIters).map(Ivf.lloydIter).mkString(",\n")
    s"""WITH ${Pq.preludeSql(m, trainN, nQueries)},
       |smp AS (SELECT id, v FROM smpd),
       |cent0 AS (SELECT rn - 1 AS cid, v AS c FROM ordd WHERE rn <= $k),
       |$coarseChain,
       |${Pq.subChainsSql(m, ksub, pqIters)},
       |enc AS (${Pq.encUnionSql(m, pqIters)}),
       |tbl AS (${Pq.tblUnionSql(m, pqIters)}),
       |cells AS (SELECT id, cell FROM (
       |  SELECT c.id, ct.cid AS cell,
       |    row_number() OVER (PARTITION BY c.id ORDER BY
       |      -2.0 * ${Ivf.dotSql("c.v", "ct.c")} + ${Ivf.c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM corp c CROSS JOIN cent$coarseIters ct) WHERE rn = 1),
       |probes AS (SELECT id AS query_id, cell FROM (
       |  SELECT q.id, ct.cid AS cell,
       |    row_number() OVER (PARTITION BY q.id ORDER BY
       |      -2.0 * ${Ivf.dotSql("q.v", "ct.c")} + ${Ivf.c2Sql("ct.c")}, ct.cid) AS rn
       |  FROM qry q CROSS JOIN cent$coarseIters ct) WHERE rn <= $nprobe),
       |cand AS (SELECT p.query_id, c.id AS neighbor_id
       |         FROM cells c JOIN probes p USING (cell)),
       |adc AS (SELECT cd.query_id, cd.neighbor_id,
       |          CAST(sum(t.contrib) AS DOUBLE) AS adc
       |        FROM cand cd
       |        JOIN enc ON enc.id = cd.neighbor_id
       |        JOIN tbl t ON t.query_id = cd.query_id
       |          AND t.j = enc.j AND t.cid = enc.cid
       |        GROUP BY cd.query_id, cd.neighbor_id),
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
    "ann_ivfpq_topk" -> QueryDef(ivfPqQuery, Some(ivfPqOracle())),
    // disk round-trip of ints/doubles is lossless -> same oracle
    "ann_ivfpq_indexed" -> QueryDef(ivfPqIndexedQuery, Some(ivfPqOracle())))
}
