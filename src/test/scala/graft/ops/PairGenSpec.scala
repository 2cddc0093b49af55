package graft.ops

import graft.kdc.SeededForAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** [[PairGen.pairs]] against a naive driver-side i < j enumeration, on
  * hub-heavy mixes of sorted, duplicate-free lists at several hub
  * bounds, for long and `(doc_id, chars)` struct elements; and the hub
  * split surviving AQE partition coalescing. */
class PairGenSpec extends AnyFunSuite with SeededForAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A sorted, duplicate-free list of `k` ids in [0, 120). */
  private def list(k: Int): Gen[Seq[Long]] =
    Gen.pick(k, 0L until 120L).map(_.toSeq.sorted)

  /** Mostly short lists (empty and singleton included), now and then a
    * hub far longer than the small chunk sizes; ids repeat across
    * lists, so the same pair can come from several lists. */
  private val lists: Gen[Seq[Seq[Long]]] = Gen.choose(0, 8).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(
      5 -> Gen.choose(0, 4).flatMap(list), 1 -> Gen.choose(20, 90).flatMap(list))))

  private def naive[A](ls: Seq[Seq[A]]): Seq[(A, A)] =
    for (l <- ls; i <- l.indices; j <- i + 1 until l.size) yield (l(i), l(j))

  private def frame(ls: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    ls.map(Tuple1(_)).toDF("ds")
  }

  private def chars(d: Long): Long = d * 7 % 13

  test("pairs ≡ naive i < j enumeration, long and struct elements, chunks 1, 2, 3, 7, 1000") {
    forAll(lists, n = 10) { ls =>
      val longs = frame(ls)
      val structs = longs.select(
        expr("transform(ds, d -> struct(d AS doc_id, d * 7 % 13 AS chars))").as("ds"))
      val wantLong = naive(ls).sorted
      val wantStruct = naive(ls.map(_.map(d => (d, chars(d))))).sorted
      // every chunk, plus the plan without the hub branch at a chunk
      // (2) that would have split most lists
      for ((split, c) <- Seq(1, 2, 3, 7, 1000).map(true -> _) :+ (false -> 2)) {
        val gotLong = PairGen.pairs(longs, col("ds"), split, c).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        assert(gotLong == wantLong, s"long elements, chunk=$c, splitHubs=$split")
        val gotStruct = PairGen.pairs(structs, col("ds"), split, c)
          .select(col("x.doc_id"), col("x.chars"), col("y.doc_id"), col("y.chars"))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
          .toSeq.sorted
        assert(gotStruct == wantStruct, s"struct elements, chunk=$c, splitHubs=$split")
      }
    }
  }

  test("a hub's pairs spread over several tasks with AQE coalescing on") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val hub = (0L until 200L).toSeq
      val got = PairGen.pairs(frame(Seq(hub)), col("ds"), splitHubs = true, 4)
        .select(spark_partition_id(), col("x"), col("y")).collect()
      val parts = got.map(_.getInt(0)).distinct
      assert(parts.length >= 2, s"hub pairs ran in partitions ${parts.mkString(",")}")
      assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq.sorted == naive(Seq(hub)))
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
