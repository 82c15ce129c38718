package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SERIAL surrogate-key replacement (initdb/01_schema.sql:14,22,30,42,54,67).
  *
  * `row_number()` over an explicit total order, offset by the existing
  * max id — dense, stable across reruns, resumable. NEVER
  * `monotonically_increasing_id` (non-dense, partition-layout-dependent,
  * so not idempotent across cluster sizes).
  *
  * The un-partitioned window funnels through one task, which is correct
  * and cheap for dimension tables (at most ~millions of distinct values
  * even at 100 TB fact scale). For fact-scale id assignment use
  * [[assignScalable]], which trades the single-task bottleneck for a
  * two-pass zipWithIndex-style per-partition offset scheme.
  */
object SurrogateKeys {

  /** Dense ids 1..n (+offset) ordered by `orderBy`. Dimension-scale only. */
  def assign(df: DataFrame, idCol: String, orderBy: Seq[String], offset: Long = 0L): DataFrame = {
    val w = Window.orderBy(orderBy.map(col): _*)
    df.withColumn(idCol, (row_number().over(w) + lit(offset)).cast("int"))
  }

  /** Dense LONG ids through one global window — the BOUNDED-batch
    * fast path. Same ids as [[assignScalable]] (both realize
    * row_number over the identical total order, offset-shifted), but
    * one job instead of four (no range-sample, no checkpoint
    * materialization, no counts collect). The single funnel task is
    * the point, not a bug: for a batch already known to be bounded
    * (e.g. from table-format footer counts — a metadata read, no job)
    * a few million rows through one task costs less than the
    * scheduling latency assignScalable pays to avoid it. Callers that
    * cannot bound the input must use [[assignScalable]].
    * `Warehouse.loadFato`'s small-batch write relies on the result being
    * ONE partition (pinned in PlanSpec): change the window, check there. */
  def assignBounded(df: DataFrame, idCol: String, orderBy: Seq[String], offset: Long = 0L): DataFrame = {
    val w = Window.orderBy(orderBy.map(col): _*)
    df.withColumn(idCol, row_number().over(w).cast("long") + lit(offset))
  }

  /** Dense LONG ids at fact scale: range-repartition + sort by `orderBy`,
    * then per-partition row_number + exclusive prefix-sum of partition
    * sizes. Two passes, no single-task window, no 32-bit overflow.
    *
    * The sorted input is pinned (eager localCheckpoint) before the
    * counting pass: `repartitionByRange` samples boundaries per
    * materialization, so without the pin the count job and the
    * assignment job could see different partitionings and the prefix
    * sums would be wrong. localCheckpoint rather than persist: the
    * blocks are freed by the context cleaner once the result is
    * unreferenced, instead of pinning executor storage until an
    * explicit unpersist nobody is positioned to call.
    * Partition starts join in via a broadcast map-join (a `when` chain
    * over thousands of partitions would blow up codegen). */
  def assignScalable(df: DataFrame, idCol: String, orderBy: Seq[String], offset: Long = 0L): DataFrame = {
    val sorted = df.repartitionByRange(orderBy.map(col): _*)
      .sortWithinPartitions(orderBy.map(col): _*)
      .localCheckpoint(true)
    val withPid = sorted.withColumn("__pid", spark_partition_id())
    val counts = withPid.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = counts.keys.toSeq.sorted
    val starts: Seq[(Int, Long)] = pids.zip(
      pids.scanLeft(offset) { case (acc, p) => acc + counts(p) })
    val spark = df.sparkSession
    import spark.implicits._
    val startsDf = broadcast(starts.toDF("__pid", "__start"))
    val w = Window.partitionBy(col("__pid")).orderBy(orderBy.map(col): _*)
    withPid
      .join(startsDf, "__pid")
      .withColumn(idCol, row_number().over(w).cast("long") + col("__start"))
      .drop("__pid", "__start")
  }
}
