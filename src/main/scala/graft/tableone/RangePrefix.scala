package graft.tableone

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The distributed prefix-sum pass behind [[TableOne.exactQuartiles]] and
  * every operator that needs a global running count in key order without
  * a single-partition window:
  *
  *   1. `repartitionByRange(keys)` + in-partition sort on the same keys.
  *      Partition assignment is a pure function of the key, so all rows of
  *      one key land in ONE partition, in global key order across
  *      partitions; [[Pid]] records each row's partition.
  *   2. Per-partition (and per-group) subtotals — a tiny aggregate of
  *      partitions x groups rows, collected ONCE to the driver.
  *   3. Driver prefix sums over partition order: each (partition, group)'s
  *      starting offset and each group's total ([[Ranged.offsets]]), or,
  *      ungrouped, a per-row offset column ([[Ranged.offset]]).
  *
  * The offsets are only valid while the range shuffle runs exactly once:
  * a second run may sample different boundaries, and every offset would
  * then point at the wrong rows. Both persists enforce that. The census is
  * cached because `repartitionByRange` runs a boundary-SAMPLING job over
  * its child before the real shuffle (uncached, an aggregate census would
  * execute twice); the ranged frame is cached because the subtotal collect
  * and the caller's pass over the running counts are two separate actions,
  * and AQE replans each — the cache, not exchange reuse, is what keeps the
  * range shuffle to one run. Both are released when [[withRangePrefix]]
  * returns, so callers materialize what they need inside `use`.
  *
  * Callers shrink their input to a census (a histogram of distinct keys)
  * before the pass wherever they can: the range shuffle then moves
  * distinct values, not rows. */
object RangePrefix {
  /** Range-partition id column of [[Ranged.parts]] and [[Ranged.subtotals]]. */
  val Pid = "__pid"

  /** One run of the pass, valid inside [[withRangePrefix]]'s scope only.
    * `parts` is the range-partitioned, in-partition-sorted census plus
    * [[Pid]]; `subtotals` are the collected per-(partition, group) rows,
    * in partition order. */
  final class Ranged private[RangePrefix] (val parts: DataFrame, val subtotals: Array[Row],
                                           keys: Seq[String]) {
    /** Subtotal `m` summed over every partition and group. */
    def total(m: String): Long = subtotals.iterator.map(_.getAs[Long](m)).sum

    /** Prefix sums of subtotal `m` over partition order within each group
      * `group(row)`: the running total BEFORE every (partition id, group),
      * and each group's total. */
    def offsets[K](m: String)(group: Row => K): (Map[(Int, K), Long], Map[K, Long]) = {
      val off = Map.newBuilder[(Int, K), Long]
      val tot = Map.newBuilder[K, Long]
      subtotals.groupBy(group).foreach { case (k, rows) =>
        var acc = 0L
        rows.groupBy(_.getAs[Int](Pid)).toSeq.sortBy(_._1).foreach { case (pid, prs) =>
          off += ((pid, k) -> acc); acc += prs.iterator.map(_.getAs[Long](m)).sum
        }
        tot += (k -> acc)
      }
      (off.result(), tot.result())
    }

    /** Ungrouped form: the running total of subtotal `m` before each row's
      * partition, as a literal-map lookup on [[Pid]] (≤ #partitions
      * entries). */
    def offset(m: String): Column = {
      val (off, _) = offsets(m)(_ => ())
      if (off.isEmpty) lit(0L)
      else element_at(map(off.toSeq.sortBy(_._1._1).flatMap { case ((pid, _), o) =>
        Seq(lit(pid), lit(o)) }: _*), col(Pid))
    }

    /** One range partition's rows in key order. */
    def inPartition: WindowSpec = Window.partitionBy(Pid).orderBy(keys.map(col): _*)

    /** Global running sum of column `m` in key order, up to and including
      * the row. The subtotal named `m` must be `sum(m)`. */
    def runningSum(m: String): Column =
      sum(col(m)).over(inPartition.rowsBetween(Window.unboundedPreceding, Window.currentRow)) +
        offset(m)
  }

  /** Run the pass over `census` range-partitioned on `keys` (at
    * `spark.sql.shuffle.partitions`), collect `subtotals` grouped by
    * ([[Pid]] +: `groups`), and hand the result to `use`. `cacheCensus =
    * false` is for a census that is a bare projection of the input, not an
    * aggregate: the sampling job then re-reads the input rather than
    * holding a copy of it in memory. */
  def withRangePrefix[T](census: DataFrame, keys: Seq[String], groups: Seq[String] = Nil,
                         cacheCensus: Boolean = true)
                        (subtotals: Column*)(use: Ranged => T): T = {
    val nParts = census.sparkSession.sessionState.conf.numShufflePartitions
    val pre = if (cacheCensus) census.persist() else census
    val parts = pre
      .repartitionByRange(nParts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .withColumn(Pid, spark_partition_id())
      .persist()
    try {
      val rows = parts.groupBy((Pid +: groups).map(col): _*)
        .agg(subtotals.head, subtotals.tail: _*)
        .collect().sortBy(_.getAs[Int](Pid))
      use(new Ranged(parts, rows, keys))
    } finally { parts.unpersist(); if (cacheCensus) pre.unpersist() }
  }
}
