package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking — the scale-safe replacement for an
  * UNPARTITIONED `row_number()/ntile()` window, which Spark executes by
  * dragging every row through ONE task (fine at 10⁵ rows, fatal at 10⁹;
  * VERDICT r9 flagged d24/c7 for exactly this).
  *
  * Two-pass range-partitioned rank:
  *   1. range-shuffle the frame on the sort key (`repartitionByRange` —
  *      partition i holds keys entirely before partition i+1's);
  *   2. count rows per range partition — bounded driver metadata, ONE row
  *      per shuffle partition — and prefix-sum the counts into offsets;
  *   3. rank locally inside each range partition (the window's
  *      PARTITION BY is the range-partition id, so no partition exceeds
  *      ~n/P rows) and add the broadcast offset.
  *
  * The result equals the single-partition `row_number()` EXACTLY when the
  * order is total (callers must tie-break — all graft call sites order by
  * a unique trailing key), because offsets only depend on range-partition
  * row counts, not on where boundaries fall.
  *
  * Both the input AND the range-shuffled frame are checkpointed
  * ([[graft.Materialize.once]]: reliable when a checkpoint dir is set):
  * the shuffled frame is scanned twice (counts + rank), and the two jobs
  * must see the SAME partitioning for the pid↔offset map to line up —
  * re-deriving the shuffle per job would re-run the range-bounds
  * reservoir sampling, which Spark does not guarantee to be consistent
  * across executions (the [[Dedup.connectedComponents]] per-round
  * convention).
  */
object Ranks {

  /** Appends `rnCol` = global 1-based row number of `df` under `order`
    * (which MUST be a total order), and optionally `nCol` = total row
    * count (from the same bounded per-partition counts — no unbounded
    * `count().over()` window).
    *
    * The local rank inside each range partition comes from
    * `monotonically_increasing_id()` over the range-sorted frame —
    * Spark documents the id layout as (partitionId << 33) | localOffset,
    * so `_mono >> 33` is the range-partition index and the low 33 bits
    * are the 0-based position in the partition's sort order. This saves
    * a full-data hash exchange AND a second sort versus the
    * `row_number().over(partitionBy(pid))` spelling (the window cannot
    * see that rows are already pid-grouped and sorted): the whole rank
    * is ONE range shuffle + local sort + narrow projections. The
    * equality with a global `row_number()` window is pinned on random
    * inputs by RandomizedPropertySpec. Limits inherited from the id
    * layout: < 2³¹ partitions, < 2³³ rows per partition — both orders of
    * magnitude above any sane shuffle-partition sizing. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rnCol: String,
                      nCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val snap = graft.Materialize.once(df)
    // The SHUFFLED frame is checkpointed, not just the input: the counts
    // job below and the rank join are two separate jobs, and
    // `repartitionByRange` draws its range boundaries from reservoir
    // sampling whose output Spark documents as possibly inconsistent
    // across executions. Re-running the shuffle per job could therefore
    // assign boundary rows to DIFFERENT partitions in each job,
    // misaligning the pid→offset map and silently corrupting global
    // ranks at scale (partial sampling; ADVICE r10). Materializing
    // `parted` once pins one partitioning that both jobs read. The input
    // checkpoint stays so the range-bounds sampling pass and the shuffle
    // write read one materialized input instead of recomputing it.
    val parted = graft.Materialize.once(snap.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_mono", monotonically_increasing_id())
      .withColumn("_pid", shiftright(col("_mono"), 33).cast("int"))
      .withColumn("_lrn", col("_mono").bitwiseAND(lit((1L << 33) - 1)) + 1L))
    val counts = parted.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).init)
    val offDf = broadcast(offsets.toSeq.toDF("_pid", "_off"))
    val ranked = parted
      .join(offDf, Seq("_pid"))
      .withColumn(rnCol, (col("_lrn") + col("_off")).cast("long"))
      .drop("_pid", "_mono", "_lrn", "_off")
    nCol.map(c => ranked.withColumn(c, lit(n))).getOrElse(ranked)
  }

  /** `k` equal-width phases by global rank — `(rn−1)·k div n` (the exact
    * integer quantile convention shared with fe2/d24; NOT SQL `ntile`,
    * whose first `n mod k` buckets get the extra rows). Phases are
    * 0-based. Order must be total. */
  def rankPhases(df: DataFrame, order: Seq[Column], k: Int,
                 phaseCol: String): DataFrame =
    globalRowNumber(df, order, "_grn", nCol = Some("_gn"))
      .withColumn(phaseCol, expr(s"((_grn - 1) * $k) div _gn"))
      .drop("_grn", "_gn")
}
