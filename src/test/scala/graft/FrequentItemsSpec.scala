package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** The Misra-Gries sketch aggregate + the exact two-pass heavy-hitter
  * operator built on it. The key properties: the VERIFIED result is
  * exact and partition-invariant (the raw sketch is only guaranteed to
  * be a candidate superset — its borderline content legitimately moves
  * with partition boundaries, which is why only the verified form is
  * an oracle query).
  */
class FrequentItemsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.FrequentItems

  /** 3 hot values x 200 rows + 400 cold singletons (n = 1000). */
  private def skewed = {
    val hot = (0 until 3).flatMap(i => Seq.fill(200)(s"hot_$i"))
    val cold = (0 until 400).map(i => s"cold_$i")
    (hot ++ cold).toDF("v")
  }

  test("exactHeavyHitters equals the exact groupBy definition across partitionings and supports") {
    for (parts <- Seq(1, 7); ms <- Seq(0.05, 0.15, 0.25)) {
      val df = skewed.repartition(parts)
      val got = FrequentItems.exactHeavyHitters(df, "v", ms)
        .as[(String, Long)].collect().toSet
      val n = df.count()
      val want = df.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt").cast("double") >= lit(n.toDouble * ms))
        .as[(String, Long)].collect().toSet
      assert(got === want, s"parts=$parts minSupport=$ms")
      // 0.25 ⇒ threshold 250 > every count: exact-empty, not an error
      if (ms == 0.25) assert(got.isEmpty)
    }
  }

  test("sketch candidates are a superset of the true heavy hitters under any partitioning") {
    val truth = Set("hot_0", "hot_1", "hot_2") // 200 each > 1000/(10+1)
    for (parts <- Seq(1, 5, 13)) {
      val cands = skewed.repartition(parts)
        .agg(FrequentItems.sketch(col("v"), 10).as("c"))
        .head().getSeq[String](0).toSet
      assert(truth.subsetOf(cands), s"parts=$parts missing ${truth.diff(cands)}")
      assert(cands.size <= 10, s"parts=$parts sketch overflowed k")
    }
  }

  test("nulls are not values: skipped by the sketch, support relative to non-null rows") {
    val df = (Seq.fill(10)(Some("a")) ++ Seq.fill(10)(Option.empty[String]) ++
      Seq.fill(5)(Some("b"))).toDF("v")
    // n = 15 non-null; threshold 7.5: "a" (10) qualifies, "b" (5) not —
    // counting nulls into n (threshold 12.5) would wrongly drop "a"
    val got = FrequentItems.exactHeavyHitters(df, "v", 0.5)
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 10L)))
  }

  test("empty input yields an empty result, not a failure") {
    val df = Seq.empty[String].toDF("v")
    assert(FrequentItems.exactHeavyHitters(df, "v", 0.1).count() === 0L)
  }

  test("misra_gries sketch aggregates incrementally in a streaming query") {
    // the heavy-hitter sketch is mergeable by construction (partial
    // buffers merge in any order), which is exactly the contract a
    // streaming aggregation state update needs — candidates over the
    // whole stream so far, in Complete mode, without keeping per-value
    // state for the cold tail
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mem = MemoryStream[String]
    mem.addData(Seq.fill(30)("hot_a") ++ (0 until 10).map(i => s"cold_$i"): _*)
    val q = mem.toDF().toDF("v")
      .agg(graft.operators.FrequentItems.sketch(col("v"), 4).as("cand"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      // a second micro-batch makes hot_b heavy too — state must merge
      mem.addData(Seq.fill(40)("hot_b") ++ (10 until 20).map(i => s"cold_$i"): _*)
      q.processAllAvailable()
      val cand = spark.table("mg_stream").head().getSeq[String](0).toSet
      // n = 90, k = 4 → everything above 90/5 = 18 is guaranteed present
      assert(Set("hot_a", "hot_b").subsetOf(cand), s"sketch lost a heavy hitter: $cand")
      assert(cand.size <= 4)
    } finally q.stop()
  }
}
