package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hypothesis tests as one-pass aggregates — the A/B-experiment
  * readout layer of an analytics engine (two-proportion z-test,
  * chi-square independence). The reference's BI surface stops at
  * GROUP BY; these are part of the decision-support extension.
  *
  * Determinism discipline: every COUNT is an exact BIGINT, and every
  * floating-point statistic is computed from those exact integers
  * through ONE fixed expression tree of IEEE-754 double ops — both
  * engines run the identical tree on the identical values and +,-,*,/
  * are exactly rounded, so the result is bit-identical (the duckCos
  * precedent from the embedding oracles, applied to test statistics).
  * Where a SUM over floating terms would reintroduce order dependence
  * (chi-square's Σ over cells), the per-cell term is quantized to an
  * integer grid FIRST and the sum is an integer sum — order-invariant
  * by construction.
  */
object StatTests {

  private def d(c: Column): Column = c.cast("double")

  /** Two-proportion z-test (pooled), the standard A/B conversion
    * readout. `df` needs a 2-valued group column and a 0/1 success
    * column; the lexicographically smaller group label is side A.
    * Returns ONE row: exact counts, the z² statistic, and the α=0.05
    * verdict (z² > χ²₁(0.95) = 3.8415).
    *
    * Shape at scale: one conditional aggregate over the fact table —
    * a map-side-combined scalar agg, no shuffle of rows, no
    * per-group sort. The statistic is closed-form over four BIGINTs.
    */
  def twoProportionZ(df: DataFrame, groupCol: String, successCol: String): DataFrame = {
    // exact per-group counts (map-side combined, 2 output rows), then
    // side A/B selected by lexicographic struct min/max — no nested
    // aggregate, no driver-side label lookup
    val byG = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol)).cast("bigint").as("x"))
    byG.agg(
        min(struct(col("g"), col("n"), col("x"))).as("sa"),
        max(struct(col("g"), col("n"), col("x"))).as("sb"),
        count(lit(1)).as("k"))
      // loud-error discipline: 3+ group values would silently DROP the
      // middle groups from the min/max side selection and emit a
      // plausible-looking wrong statistic — fail the (single) result
      // row instead. The guard lives in a filter on the agg output so
      // column pruning can never optimize it away.
      .where(when(col("k") <= 2, lit(true)).otherwise(raise_error(concat(
        lit("twoProportionZ: group column has "), col("k").cast("string"),
        lit(" distinct values; need at most 2 — pre-filter the pools")))))
      .select(
        col("sa.g").as("grp_a"), col("sb.g").as("grp_b"),
        col("sa.n").as("n_a"), col("sa.x").as("x_a"),
        col("sb.n").as("n_b"), col("sb.x").as("x_b"))
      .withColumn("z2", {
        val p1 = d(col("x_a")) / d(col("n_a"))
        val p2 = d(col("x_b")) / d(col("n_b"))
        val p = (d(col("x_a")) + d(col("x_b"))) / (d(col("n_a")) + d(col("n_b")))
        val diff = p1 - p2
        // degenerate pool (p ∈ {0, 1} ⇒ both groups identical ⇒ the
        // statistic is 0/0): define z² = 0, no evidence either way.
        // The guard compares the exact integer counts, not the double
        // p — and Spark ANSI raises on double÷0 rather than IEEE-Inf,
        // so the guard is correctness, not just taste
        when(col("x_a") + col("x_b") === lit(0L) ||
            col("x_a") + col("x_b") === col("n_a") + col("n_b"), lit(0.0))
          .otherwise((diff * diff) /
            (p * (lit(1.0) - p) * (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b")))))
      })
      .withColumn("significant", col("z2") > lit(3.841458820694124))
  }

  /** Distribution-drift readout: exact total-variation distance
    * between two populations' histograms of an integer-valued metric —
    * the engine-exact stand-in for PSI/KL monitoring (those need a
    * libm log; TV distance is a pure rational of the bin counts and
    * replays bit-identically).
    *
    * Bins: `bins` equal-width buckets over [lo, hi), clamped at both
    * ends (everything below lo lands in bin 0, at-or-above hi in the
    * last bin) — fixed edges so the binning itself can't drift with
    * the data. Returns ONE row with the exact counts and
    *
    *   tv_num = Σ_bins |cnt_a·n_b − cnt_b·n_a|   (exact; tv = num/den)
    *   tv_den = 2·n_a·n_b
    *   s      = max(1, tv_den div 10¹²)          (overflow scale-down)
    *   tv_e6  = ((tv_num div s) · 10⁶) div max(1, tv_den div s)
    *
    * — fixed-order floor arithmetic; s = 1 (exact) until the pair
    * product passes 10¹² rows², and the scaled form keeps every
    * intermediate under 2⁶³ to ~3e9 rows per side.
    *
    * Overflow: cnt·n ≤ n_a·n_b keeps every term ≤ ~9e18 up to ~3e9
    * rows per side. Shape at scale: ONE conditional aggregate over the
    * input produces the per-bin pair counts (map-side combined, ≤ bins
    * rows cross the wire), then a scalar fold over the bin table.
    */
  /** The fixed-edge histogram bin of an integral metric, used by
    * [[driftTV]]. Integral
    * floor-division binning (`div`): a float divide + cast would hit
    * the truncate-vs-round cast mismatch across engines. `valueCol`
    * must be an integral column (quantize upstream). */
  def binOf(valueCol: String, lo: Long, hi: Long, bins: Int): Column =
    least(lit(bins - 1L), greatest(lit(0L),
      expr(s"(($valueCol - $lo) * $bins) div ${hi - lo}")))

  def driftTV(df: DataFrame, popCol: String, valueCol: String,
              lo: Long, hi: Long, bins: Int): DataFrame = {
    require(bins >= 1 && hi > lo, s"need bins >= 1 and hi > lo; got $bins, [$lo, $hi)")
    val g = col(popCol)
    val bin = binOf(valueCol, lo, hi, bins)
    // two-phase like the z-test (a min(pop) inside the counting when()
    // would nest aggregates): per (pop, bin) counts, then side A/B via
    // struct min/max per bin
    val cells = df.select(g.as("pop"), bin.as("bin"))
      .groupBy(col("pop"), col("bin")).agg(count(lit(1)).as("c"))
    val sides = cells.groupBy(col("bin"))
      .agg(
        min(struct(col("pop"), col("c"))).as("sa"),
        max(struct(col("pop"), col("c"))).as("sb"),
        count(lit(1)).as("k"))
      .select(col("bin"),
        col("sa.pop").as("pa"),
        col("sa.c").as("ca0"),
        when(col("k") === 2, col("sb.c")).otherwise(lit(0L)).as("cb0"),
        when(col("k") === 2, col("sb.pop")).as("pb0"))
    // a bin seen by only one pop: its struct is both min and max —
    // decide which side it belongs to against the GLOBAL min pop.
    // Derived from the tiny cells table, NOT the raw input: a
    // count_distinct on df triggers the distinct-aggregate Expand
    // rewrite over the full fact, doubling the corpus-scale aggregate
    // for a readout the ≤ pops×bins cell table already carries.
    val globalA = cells.agg(min(col("pop")).as("ga"), max(col("pop")).as("gb"),
      count_distinct(col("pop")).as("kpop"))
    sides.crossJoin(broadcast(globalA))
      // the twoProportionZ arity guard: a third population would be
      // lumped into side B by the per-bin min/max selection — loud
      // failure instead of a plausible wrong distance
      .where(when(col("kpop") <= 2, lit(true)).otherwise(raise_error(concat(
        lit("driftTV: population column has "), col("kpop").cast("string"),
        lit(" distinct values; need at most 2 — pre-filter the pools")))))
      .select(col("ga"), col("gb"),
        when(col("pa") === col("ga"), col("ca0")).otherwise(lit(0L)).as("ca"),
        when(col("pa") === col("ga"), col("cb0"))
          .otherwise(col("ca0")).as("cb"))
      .groupBy(col("ga").as("pop_a"), col("gb").as("pop_b"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        collect_list(struct(col("ca"), col("cb"))).as("cells"))
      .select(col("pop_a"), col("pop_b"),
        col("n_a").cast("bigint").as("n_a"), col("n_b").cast("bigint").as("n_b"),
        aggregate(col("cells"), lit(0L),
          (acc, c) => acc + abs(c.getField("ca") * col("n_b") -
            c.getField("cb") * col("n_a"))).as("tv_num"))
      .withColumn("tv_den", expr("2 * n_a * n_b"))
      .withColumn("tv_e6", expr(
        "(tv_num div greatest(1L, tv_den div 1000000000000L)) * 1000000L " +
          "div greatest(1L, tv_den div greatest(1L, tv_den div 1000000000000L))"))
  }

  /** Chi-square test of independence between two categorical columns.
    * Returns the contingency diagnostics plus the statistic on an
    * integer e2 grid:
    *
    *   per cell: e_q     = (row_n * col_n) div n        (quantized E)
    *             cell_e2 = ((o - e_q)² * 100) div max(1, e_q)
    *   chi2_e2 = Σ cell_e2     — an INTEGER sum, order-invariant
    *
    * All BIGINT floor divisions in fixed order (the BM25 discipline);
    * overflow bound: |o - e_q| ≤ n keeps the numerator ≤ 100·n²,
    * safe to n ~ 3e8 rows per table.
    *
    * Shape at scale: one groupBy over the fact table produces the
    * cell counts (map-side combined — cells are few); the row/column
    * marginals and the total derive from the CELL table (window sums
    * over a tiny frame), never a second scan of the data.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = df.groupBy(col(aCol).as("va"), col(bCol).as("vb"))
      .agg(count(lit(1)).as("o"))
    val withMargins = cells
      .withColumn("row_n", sum(col("o")).over(Window.partitionBy(col("va"))))
      .withColumn("col_n", sum(col("o")).over(Window.partitionBy(col("vb"))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    withMargins
      .withColumn("e_q", expr("row_n * col_n div n"))
      .withColumn("cell_e2",
        expr("(o - e_q) * (o - e_q) * 100 div greatest(1L, e_q)"))
      .agg(
        sum(col("cell_e2")).cast("bigint").as("chi2_e2"),
        count(lit(1)).cast("bigint").as("cells"),
        max(col("n")).cast("bigint").as("n"))
  }
}
