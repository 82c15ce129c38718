package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("orc: round-trips the documents table with schema intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orc_rt").toString
    val docs = Tables(spark, sf0001, "documents").limit(100)
    docs.write.mode("overwrite").orc(s"$dir/docs")
    val back = spark.read.orc(s"$dir/docs")
    assert(back.schema === docs.schema)
    assert(back.count() === 100)
    // pushdown reaches the ORC scan too
    val plan = back.filter(org.apache.spark.sql.functions.col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushedFilters"),
      s"no pushdown in:\n$plan")
  }

  test("csv sink/source: header round-trip with declared schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("csv_rt").toString
    val df = Seq((1L, "a,b", "x\"y"), (2L, null, "z")).toDF("id", "s1", "s2")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/t")
    val back = spark.read.option("header", "true").schema(df.schema).csv(s"$dir/t")
    val rows = back.as[(Long, Option[String], String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, Some("a,b"), "x\"y"), (2L, None, "z")))
  }

  test("jdbc: embedded-Derby write → read round-trip with pushdown (K4)") {
    // K4's "drop-in" claim, exercised for real: Spark's jdbc source
    // against the Derby embedded driver that ships in the Spark
    // distribution (reference app/db.py:10-30 — a SQLAlchemy/Postgres
    // engine; the connector surface is what K4 promises, the server is
    // a deployment concern)
    val dir = Files.createTempDirectory("jdbc_rt").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val url = s"jdbc:derby:$dir/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name")
    df.write.format("jdbc").option("driver", driver)
      .option("url", url).option("dbtable", "t1").save()
    val back = spark.read.format("jdbc").option("driver", driver)
      .option("url", url).option("dbtable", "t1").load()
    val rows = back.collect().map(r => (r.getInt(0), r.getString(1))).sorted
    assert(rows.toSeq === Seq((1, "a"), (2, "b"), (3, "c")))
    // predicate pushdown reaches the JDBC scan (WHERE runs in the db)
    val plan = back.filter(col("id") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo"),
      s"jdbc filter not pushed:\n$plan")
  }

  test("bucketed tables co-locate joins: no shuffle exchange in the plan") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    val o = Tables(s2, sf0001, "orders").select("o_orderkey", "o_custkey")
    val li = Tables(s2, sf0001, "lineitem").select("l_orderkey", "l_quantity")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    li.withColumnRenamed("l_orderkey", "o_orderkey")
      .write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_lineitem")
    val joined = s2.table("b_orders").join(s2.table("b_lineitem"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() > 0)
  }
}
