package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one pair-generation kernel: every unordered pair of elements of
  * a sorted, duplicate-free array column, one output row per pair.
  *
  * List shape: a caller folds its postings or adjacency ONCE into
  * per-key sorted lists (doc ids per gram or md5 class, `(doc_id,
  * chars)` structs per CDC chunk, suppliers per order, neighbours per
  * node) and the Σ|list|² candidate pairs explode inside the stage
  * straight into the caller's partial aggregate. The retired shape, a
  * self-join of the posting or adjacency relation, sorted both sides
  * and materialized the same pairs as join output; per-key work is the
  * same |list|², with one exchange and two sorts fewer.
  *
  * Hub bound: a list of at most [[Chunk]] elements explodes in place
  * (≤ ~8M pair emits). A longer one, a hub, is cut into `chunk`-sized
  * blocks whose C(k + 1, 2) block pairs are redistributed over
  * `spark.sql.shuffle.partitions` tasks before they explode, so each
  * block pair carries at most chunk² pairs and no task owns a hub's
  * whole deg² work. The partition count is explicit on purpose: AQE
  * coalesces a count-less `repartition(cols)`, and the block-pair rows
  * (1/chunk of the pair volume) are small enough that it would merge a
  * hub back into one task. The lists carry no key, so a block pair is
  * keyed by its two blocks' leading elements, which are distinct
  * within a list. The redistribution carries no rows when no list
  * exceeds the bound, but the hub branch reads `lists` a second time:
  * over a non-persisted list aggregate that re-runs the aggregate and
  * adds a stage. A caller whose lists cannot or do not come near the
  * bound passes `splitHubs = false` and reads them once. */
object PairGen {

  val Chunk = 4096

  /** (x, y) for every unordered pair of `arr`'s elements, x before y in
    * the array (so x < y for a sorted list), each pair exactly once
    * per list. `arr` must be sorted and duplicate-free. Element types
    * are generic. `splitHubs = false` leaves the hub branch out of the
    * plan: every list explodes in place, whatever its length. It
    * shapes the plan only, never the pairs. */
  def pairs(lists: DataFrame, arr: Column, splitHubs: Boolean = true): DataFrame =
    pairs(lists, arr, splitHubs, Chunk)

  /** [[pairs]] at a given hub bound (test seam). */
  private[ops] def pairs(lists: DataFrame, arr: Column, splitHubs: Boolean,
                         chunk: Int): DataFrame = {
    val ps = lists.select(arr.as("ps"))
    if (!splitHubs) direct(ps)
    else direct(ps.filter(size(col("ps")) <= chunk))
      .unionAll(hubs(ps.filter(size(col("ps")) > chunk), chunk))
  }

  // element i pairs with elements i+1…
  private def tail(a: Column) = slice(a, col("i") + lit(2), size(a))

  private def direct(ps: DataFrame) = ps
    .select(posexplode(col("ps")).as(Seq("i", "x")), col("ps"))
    .select(col("x"), explode(tail(col("ps"))).as("y"))

  /** Block pairs (a ≤ b, by block start) of consecutive slices,
    * redistributed before they explode: same-block emits its i < j
    * pairs, cross-block the full cross (ca's elements all precede
    * cb's). */
  private def hubs(ps: DataFrame, chunk: Int) = ps
    .select(explode(expr(s"flatten(transform(sequence(0, size(ps) - 1, $chunk), a -> " +
      s"transform(sequence(a, size(ps) - 1, $chunk), b -> struct(a = b AS same, " +
      s"slice(ps, a + 1, $chunk) AS ca, slice(ps, b + 1, $chunk) AS cb))))")).as("bp"))
    .select(col("bp.*"))
    .repartition(ps.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("ca")(0), col("cb")(0))
    .select(posexplode(col("ca")).as(Seq("i", "x")),
      when(col("same"), tail(col("ca"))).otherwise(col("cb")).as("ys"))
    .select(col("x"), explode(col("ys")).as("y"))
}
