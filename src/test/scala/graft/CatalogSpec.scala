package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode

import graft.ledger.{Catalog, Schemas}

/** Manifest-commit semantics of the warehouse catalog. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tipoDf(names: String*) =
    names.zipWithIndex.map { case (n, i) => (i + 1, n) }.toDF("id_tipo", "nome_tipo")

  test("orphan data dirs without a manifest flip are invisible to readers") {
    val dir = Files.createTempDirectory("cat_orphan").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a", "b"))
    // simulate a crashed writer: data lands but no manifest commit
    tipoDf("ghost").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/wh/dim_tipo/c99_deadbeef")
    assert(cat.table("dim_tipo").count() === 2)
    val names = cat.table("dim_tipo").select("nome_tipo")
      .as[String].collect().sorted
    assert(names.toSeq === Seq("a", "b"))
  }

  test("maxId answers from footer statistics and equals the scan across commit shapes") {
    val dir = Files.createTempDirectory("cat_maxid").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // missing table
    assert(cat.maxId("dim_tipo", "id_tipo") === 0L)
    // int ids over multiple commits (non-monotone append order)
    cat.replace("dim_tipo", tipoDf("a", "b", "c"))
    cat.appendDelta("dim_tipo", Seq((7, "x")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((5, "y")).toDF("id_tipo", "nome_tipo"))
    assert(cat.maxId("dim_tipo", "id_tipo") === 7L)
    // long ids in a PARTITIONED table (footers live under ano=/mes= dirs)
    val fato = Seq(
      (101L, 1, 1, 1, 1, 1, "d1", BigDecimal("1.00"), "h1", 1995, 1),
      (203L, 1, 1, 1, 1, 1, "d2", BigDecimal("2.00"), "h2", 1995, 2),
      (150L, 1, 1, 1, 1, 1, "d3", BigDecimal("3.00"), "h3", 1996, 1))
      .toDF("id_lancamento", "id_tipo", "id_grupo", "id_categoria",
        "id_tempo", "id_classificacao", "descricao", "valor", "id_hash",
        "ano", "mes")
      .select(Schemas.fatoLancamento.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
    cat.appendDelta("fato_lancamento", fato, partitionBy = Seq("ano", "mes"))
    assert(cat.maxId("fato_lancamento", "id_lancamento") === 203L)
    // parity with the scan on both
    def scanMax(t: String, c: String): Long =
      cat.table(t).agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(c).cast("long")),
        org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
    assert(cat.maxId("dim_tipo", "id_tipo") === scanMax("dim_tipo", "id_tipo"))
    assert(cat.maxId("fato_lancamento", "id_lancamento") ===
      scanMax("fato_lancamento", "id_lancamento"))
  }

  test("replace flips to exactly the new state; appendDelta accumulates commits") {
    val dir = Files.createTempDirectory("cat_ver").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))
    cat.appendDelta("dim_tipo", tipoDf("b").withColumn("id_tipo",
      org.apache.spark.sql.functions.lit(2)))
    assert(cat.table("dim_tipo").count() === 2)
    cat.replace("dim_tipo", tipoDf("z"))
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("z"))
  }

  test("time travel: tableAt reads any committed version unchanged") {
    val dir = Files.createTempDirectory("cat_tt").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))                       // v1
    cat.appendDelta("dim_tipo", tipoDf("b").withColumn("id_tipo",
      org.apache.spark.sql.functions.lit(2)))                  // v2
    cat.replace("dim_tipo", tipoDf("z"))                       // v3
    assert(cat.versions("dim_tipo") === Seq(1, 2, 3))
    def names(v: Int) =
      cat.tableAt("dim_tipo", v).select("nome_tipo").as[String].collect().sorted.toSeq
    assert(names(1) === Seq("a"))
    assert(names(2) === Seq("a", "b"))
    assert(names(3) === Seq("z"))
    assert(cat.table("dim_tipo").count() === 1) // latest unaffected
    intercept[IllegalArgumentException](cat.tableAt("dim_tipo", 9))
  }

  test("tableAt on a vacuumed version fails fast naming the cause") {
    val dir = Files.createTempDirectory("cat_vac").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a")) // v1
    cat.replace("dim_tipo", tipoDf("b")) // v2 (v1's commit now dead)
    cat.vacuum("dim_tipo")
    val e = intercept[IllegalStateException](cat.tableAt("dim_tipo", 1))
    assert(e.getMessage.contains("vacuumed"))
    // the surviving version still time-travels
    assert(cat.tableAt("dim_tipo", 2).count() === 1)
  }

  test("transaction: a crash mid-load never exposes a half-built warehouse to readers") {
    val dir = Files.createTempDirectory("cat_txn").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    // load 1 publishes a consistent (dim_tipo, dim_grupo) pair
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a"))
      writer.replace("dim_grupo",
        Seq((1, 1, "g1")).toDF("id_grupo", "id_tipo", "nome_grupo"))
    }
    assert(reader.table("dim_tipo").count() === 1)
    assert(reader.table("dim_grupo").count() === 1)
    // load 2 crashes after the dim_tipo table commit but before grupo
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b", "c"))
      sys.error("executor lost") // kill-point: snapshot never flips
    })
    // the writer's per-table head moved, but readers still see load 1
    assert(reader.table("dim_tipo").count() === 1)
    assert(reader.table("dim_grupo").count() === 1)
    // the next successful load heals and publishes everything at once
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b"))
      writer.replace("dim_grupo",
        Seq((1, 1, "g1"), (2, 2, "g2")).toDF("id_grupo", "id_tipo", "nome_grupo"))
    }
    assert(reader.table("dim_tipo").count() === 2)
    assert(reader.table("dim_grupo").count() === 2)
  }

  test("transaction: temp views move at the snapshot flip, never to an aborted body's commits") {
    val dir = Files.createTempDirectory("cat_txnview").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def viewCount() = spark.sql("SELECT count(*) FROM dim_tipo").head().getLong(0)
    cat.transaction { cat.appendDelta("dim_tipo", tipoDf("a", "b")) }
    assert(viewCount() === 2)
    var insideBody = -1L
    intercept[RuntimeException](cat.transaction {
      cat.appendDelta("dim_tipo", Seq((3, "c")).toDF("id_tipo", "nome_tipo"))
      insideBody = viewCount()
      sys.error("executor lost")
    })
    assert(insideBody === 2L, "the view exposed an unpublished commit")
    assert(viewCount() === 2, "the view kept an aborted transaction's commit")
    cat.transaction {
      cat.appendDelta("dim_tipo", Seq((3, "c")).toDF("id_tipo", "nome_tipo"))
    }
    assert(viewCount() === 3, "a published transaction did not re-point the view")
  }

  test("the FIRST transaction is atomic too: crash mid-load exposes nothing") {
    val dir = Files.createTempDirectory("cat_first").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    // fresh warehouse, no snapshot yet — the bootstrap window
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b"))
      sys.error("crash during the very first load")
    })
    assert(reader.table("dim_tipo").count() === 0,
      "first-load crash leaked a half-built schema to readers")
    assert(reader.versions("dim_tipo").isEmpty,
      "aborted first-load head visible to time travel")
    // healing run publishes the complete state
    writer.transaction { writer.replace("dim_tipo", tipoDf("a", "b")) }
    assert(reader.table("dim_tipo").count() === 2)
  }

  test("time travel cannot see a crashed transaction's unpublished head") {
    val dir = Files.createTempDirectory("cat_ttfence").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y", "z"))
      sys.error("crash")
    })
    // reader: neither table() nor versions()/tableAt() resolves the
    // aborted head (the writer's own txn view may — readers never)
    assert(reader.versions("dim_tipo").max === reader.snapshotVersions("dim_tipo"))
    assert(reader.tableAt("dim_tipo",
      reader.versions("dim_tipo").max).count() === 1)
    intercept[IllegalArgumentException](
      reader.tableAt("dim_tipo", reader.snapshotVersions("dim_tipo") + 1))
  }

  test("snapshot-scoped reads still see direct non-transactional writes") {
    val dir = Files.createTempDirectory("cat_direct").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    writer.transaction { writer.replace("dim_tipo", tipoDf("a")) }
    // a later direct write must not be masked by the older snapshot
    writer.replace("dim_tipo", tipoDf("a", "b"))
    assert(reader.table("dim_tipo").count() === 2)
    assert(reader.snapshotVersions("dim_tipo") === 2)
  }

  test("direct write after an aborted transaction does not republish the aborted heads") {
    val dir = Files.createTempDirectory("cat_leak").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    writer.transaction {
      writer.replace("dim_tipo", tipoDf("a"))
      writer.replace("dim_classificacao",
        Seq((1, "c1")).toDF("id_classificacao", "nome_classificacao"))
    }
    // crash mid-transaction leaves dim_tipo's per-table head ahead
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b", "c"))
      sys.error("crash")
    })
    // a later DIRECT write to a DIFFERENT scoped table must advance only
    // that table in the snapshot — not drag the aborted dim_tipo head in
    writer.replace("dim_classificacao",
      Seq((1, "c1"), (2, "c2")).toDF("id_classificacao", "nome_classificacao"))
    assert(reader.table("dim_classificacao").count() === 2)
    assert(reader.table("dim_tipo").count() === 1,
      "aborted dim_tipo head leaked into the republished snapshot")
  }

  test("transaction begin rolls back heads left by a crashed transaction") {
    val dir = Files.createTempDirectory("cat_rb").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y", "z"))
      sys.error("crash")
    })
    // the next transaction must start from the PUBLISHED state, not the
    // aborted head — its own reads see 1 row, and the version it claims
    // re-uses the rolled-back number
    cat.transaction {
      assert(cat.table("dim_tipo").count() === 1)
      cat.replace("dim_tipo", tipoDf("a", "b"))
    }
    assert(cat.table("dim_tipo").count() === 2)
    assert(cat.versions("dim_tipo") === Seq(1, 2))
  }

  test("direct write to a table with an unpublished transactional head fails loudly") {
    val dir = Files.createTempDirectory("cat_headclash").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) } // snapshot: tipo→1
    intercept[RuntimeException](cat.transaction {
      cat.replace("dim_tipo", tipoDf("x", "y")) // head v2, never published
      sys.error("crash")
    })
    // a direct write bases on the PUBLISHED v1 and claims v2 — colliding
    // with the aborted head instead of silently building on its rows
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("z")))
    // the next transaction heals (same owner) and the write goes through
    cat.transaction { cat.replace("dim_tipo", tipoDf("z")) }
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("z"))
  }

  test("a foreign writer's INFLIGHT marker blocks transactions until recoverTransaction") {
    val dir = Files.createTempDirectory("cat_foreign").toString
    val w1 = new Catalog(spark, s"$dir/wh")
    val w2 = new Catalog(spark, s"$dir/wh")
    w1.transaction { w1.replace("dim_tipo", tipoDf("a")) }
    intercept[RuntimeException](w1.transaction {
      w1.replace("dim_tipo", tipoDf("x", "y"))
      sys.error("w1 dies")
    })
    // w2 cannot tell w1's marker from a live transaction: loud stop
    val e = intercept[graft.ledger.Catalog.ConcurrentWriteException](
      w2.transaction { w2.replace("dim_tipo", tipoDf("b")) })
    assert(e.getMessage.contains("recoverTransaction"))
    // operator confirms w1 is dead, recovers, and w2 proceeds cleanly
    assert(w2.recoverTransaction())
    w2.transaction { w2.replace("dim_tipo", tipoDf("a", "b")) }
    assert(w2.table("dim_tipo").count() === 2)
  }

  test("two concurrent writers: exactly one commit wins, the loser fails loudly") {
    val dir = Files.createTempDirectory("cat_race").toString
    val w1 = new Catalog(spark, s"$dir/wh")
    val w2 = new Catalog(spark, s"$dir/wh")
    w1.replace("dim_tipo", tipoDf("a"))
    // simulate the race: w2 claims v2 first (its commit publishes), then
    // w1 — which read LATEST=1 before w2's flip — tries to claim v2 too
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    Files.write(md.resolve("v2"), "claimed-by-w2".getBytes)
    val e = intercept[graft.ledger.Catalog.ConcurrentWriteException](
      w1.replace("dim_tipo", tipoDf("z")))
    assert(e.getMessage.contains("another writer"))
    // the winner's manifest was NOT overwritten
    assert(Files.readString(md.resolve("v2")) === "claimed-by-w2")
    // recovery after the (simulated) competitor is confirmed dead
    Files.delete(md.resolve("v2"))
    w2.recover()
    w1.replace("dim_tipo", tipoDf("z"))
    assert(w1.table("dim_tipo").count() === 1)
  }

  test("recover clears orphan claims from crashed writers") {
    val dir = Files.createTempDirectory("cat_recover").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    // a crashed writer claimed v2 but never flipped LATEST
    Files.write(md.resolve("v2"), "orphan".getBytes)
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("b")))
    assert(cat.recover() >= 1)
    cat.replace("dim_tipo", tipoDf("b"))
    assert(cat.table("dim_tipo").select("nome_tipo").as[String].collect().toSeq === Seq("b"))
  }

  test("compact folds commits into one, preserving content and partitions") {
    val dir = Files.createTempDirectory("cat_compact").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val rows = (1 to 10).map(i =>
      (i.toLong, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, i % 3 + 1))
    val df = rows.toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    df.filter("mes = 1").createOrReplaceTempView("b1")
    cat.appendDelta("fato_lancamento", spark.table("b1"), Seq("ano", "mes"))
    cat.appendDelta("fato_lancamento", df.filter("mes <> 1"), Seq("ano", "mes"))
    val before = cat.table("fato_lancamento").count()
    cat.compact("fato_lancamento", Seq("ano", "mes"))
    assert(cat.table("fato_lancamento").count() === before)
    // single live commit after compaction
    val latest = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/LATEST")).trim.toInt
    val dirs = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/v$latest")).split("\n")
    assert(dirs.length === 1)
    // month pruning still possible: partition dirs exist in the commit
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(dirs.head)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(files.contains("mes=1"))
    // vacuum removes the two superseded commit dirs, content unchanged
    assert(cat.vacuum("fato_lancamento") === 2)
    assert(cat.table("fato_lancamento").count() === before)
    // clustered re-compaction: first append a DESCENDING-id batch so
    // the input files are genuinely unsorted — without it the
    // assertion below would pass even if clusterBy were ignored
    val rows2 = (20 to 11 by -1).map(i =>
      (i.toLong, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, i % 3 + 1))
    cat.appendDelta("fato_lancamento",
      rows2.toDF(Schemas.fatoLancamento.fieldNames: _*)
        .withColumn("valor", org.apache.spark.sql.functions.col("valor")
          .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
        .coalesce(1).sortWithinPartitions(
          org.apache.spark.sql.functions.col("id_lancamento").desc),
      Seq("ano", "mes"))
    val beforeRows = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long].collect().sorted
    cat.compact("fato_lancamento", Seq("ano", "mes"),
      clusterBy = Seq("id_lancamento"), numFiles = 1)
    val afterRows = cat.table("fato_lancamento")
      .select("id_lancamento").as[Long].collect().sorted
    assert(afterRows.toSeq === beforeRows.toSeq)
    val latest2 = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/LATEST")).trim.toInt
    val commitDir = Files.readString(
      Paths.get(s"$dir/wh/fato_lancamento/_manifests/v$latest2")).split("\n").head
    val walk = Files.walk(Paths.get(commitDir)) // close: holds directory fds
    val parquets =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    // numFiles=1 → exactly one multi-row file per (ano, mes) dir, so
    // the sortedness assertion below is NOT vacuous (the descending
    // append guaranteed unsorted input)
    assert(parquets.length === 3, parquets.mkString(","))
    parquets.foreach { f =>
      val ids = spark.read.parquet(f.toString)
        .select("id_lancamento").as[Long].collect()
      assert(ids.length > 1, s"single-row file makes the check vacuous: $f")
      assert(ids.toSeq === ids.sorted.toSeq, s"unsorted ids in $f")
    }
    // string partition columns void the clustering promise — loud error
    intercept[IllegalArgumentException] {
      cat.compact("dim_tipo", Seq("nome_tipo"), clusterBy = Seq("id_tipo"))
    }
  }

  private def liveCommitCount(root: String, t: String): Int = {
    val md = Paths.get(s"$root/$t/_manifests")
    val latest = Files.readString(md.resolve("LATEST")).trim.toInt
    Files.readString(md.resolve(s"v$latest")).split("\n").count(_.nonEmpty)
  }

  test("compactEvery auto-folds to one commit at the threshold, restoring clustering") {
    val dir = Files.createTempDirectory("cat_autofold").toString
    val cat = new Catalog(spark, s"$dir/wh", compactEvery = 3)
    // each commit is ONE deliberately-DESCENDING file: after the fold,
    // ascending per-file ids prove the auto-compaction re-applied the
    // declared clusterBy sort (concatenation would stay descending)
    def batch(ids: Seq[Long]) = ids.map(i =>
      (i, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, 1))
      .toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
      .coalesce(1).sortWithinPartitions(
        org.apache.spark.sql.functions.col("id_lancamento").desc)
    val layout = (Seq("ano", "mes"), Seq("id_lancamento"))
    cat.appendDelta("fato_lancamento", batch(Seq(1L, 4L)), layout._1, layout._2)
    cat.appendDelta("fato_lancamento", batch(Seq(2L, 5L)), layout._1, layout._2)
    assert(liveCommitCount(s"$dir/wh", "fato_lancamento") === 2,
      "fold must not trigger below the threshold")
    cat.appendDelta("fato_lancamento", batch(Seq(3L, 6L)), layout._1, layout._2)
    // threshold reached: exactly one live commit, content identical
    assert(liveCommitCount(s"$dir/wh", "fato_lancamento") === 1)
    val ids = cat.table("fato_lancamento").select("id_lancamento")
      .as[Long].collect().sorted
    assert(ids.toSeq === (1L to 6L))
    // clustering restored: every multi-row folded file is ASCENDING by
    // id — the inputs were descending, so this is the fold's sort
    import scala.jdk.CollectionConverters._
    val commitDir = {
      val md = Paths.get(s"$dir/wh/fato_lancamento/_manifests")
      val latest = Files.readString(md.resolve("LATEST")).trim.toInt
      Files.readString(md.resolve(s"v$latest")).split("\n").head
    }
    val walk = Files.walk(Paths.get(commitDir))
    val parquets =
      try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally walk.close()
    val multiRow = parquets.filter(f =>
      spark.read.parquet(f.toString).count() > 1)
    assert(multiRow.nonEmpty, "all folded files single-row: check vacuous")
    multiRow.foreach { f =>
      val fileIds = spark.read.parquet(f.toString)
        .select("id_lancamento").as[Long].collect()
      assert(fileIds.toSeq === fileIds.sorted.toSeq, s"unsorted ids in $f")
    }
    // a bad layout fails at appendDelta ENTRY — before anything commits
    intercept[IllegalArgumentException] {
      cat.appendDelta("dim_tipo", tipoDf("a"),
        partitionBy = Seq("nome_tipo"), clusterBy = Seq("id_tipo"))
    }
    assert(!cat.exists("dim_tipo"),
      "invalid-layout append must fail before publishing its commit")
  }

  test("maxId rejects non-integral footer stats and falls back to the exact scan") {
    val dir = Files.createTempDirectory("cat_decmax").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // staging's Valor is DECIMAL(15,2): int-backed parquet storage with
    // a decimal logical type, whose raw footer max is the UNSCALED
    // value (150000 for 1500.00) — the logical-type guard must reject
    // the footer answer and take the exact-scan path instead
    val rows = Seq(
      ("d1", "t", "g", "c", "cl", "01/2024", new java.math.BigDecimal("1500.00"), "h1"),
      ("d2", "t", "g", "c", "cl", "01/2024", new java.math.BigDecimal("12.34"), "h2"))
      .toDF(Schemas.stagingSchema.fieldNames: _*)
      .withColumn("Valor", org.apache.spark.sql.functions.col("Valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    cat.replace("staging_lancamentos", rows)
    assert(cat.maxId("staging_lancamentos", "Valor") === 1500L,
      "decimal footer max must come from the scan (scaled), not raw stats")
  }

  test("recover() re-syncs a snapshot left stale by a crashed direct write") {
    val dir = Files.createTempDirectory("cat_stale").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    cat.transaction { cat.replace("dim_tipo", tipoDf("a")) }
    // simulate a direct write that crashed BETWEEN its LATEST flip and
    // the snapshot bump: data + manifest v2 + LATEST=2, snapshot still →1
    val c2 = s"$dir/wh/dim_tipo/c2_crashed"
    tipoDf("a", "b").write.mode(SaveMode.Overwrite).parquet(c2)
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    Files.write(md.resolve("v2"), c2.getBytes)
    Files.writeString(md.resolve("LATEST"), "2")
    // readers resolve the stale snapshot — the crashed write is invisible
    assert(reader.table("dim_tipo").count() === 1)
    // every later direct write bases on the stale snapshot, collides
    // with the already-claimed v2, and fails loudly
    intercept[graft.ledger.Catalog.ConcurrentWriteException](
      cat.replace("dim_tipo", tipoDf("z")))
    // no INFLIGHT marker ⇒ recover() may republish from per-table heads
    cat.recover()
    assert(reader.table("dim_tipo").count() === 2,
      "recover() must re-sync the snapshot to the published head")
    // and the previously-blocked write now goes through (claims v3)
    cat.replace("dim_tipo", tipoDf("z"))
    assert(reader.table("dim_tipo").select("nome_tipo")
      .as[String].collect().toSeq === Seq("z"))
  }

  test("transaction guard: two threads on one instance — exactly one enters") {
    val dir = Files.createTempDirectory("cat_threadrace").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var winnerDone = false
    val winner = new Thread(() => {
      cat.transaction {
        entered.countDown()
        // hold the transaction open until the loser has been rejected
        assert(release.await(30, java.util.concurrent.TimeUnit.SECONDS))
        cat.replace("dim_tipo", tipoDf("a"))
      }
      winnerDone = true
    })
    winner.start()
    assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // the loser is rejected at the guard — its body NEVER runs, so
    // INFLIGHT is never interleaved with the winner's writes
    val e = intercept[IllegalArgumentException](cat.transaction {
      fail("loser entered the transaction body")
    })
    assert(e.getMessage.contains("already in progress"))
    release.countDown()
    winner.join(30000)
    assert(winnerDone, "winner transaction did not complete")
    // winner committed cleanly: marker cleared, next transaction runs
    assert(Files.notExists(Paths.get(s"$dir/wh/_snapshots/INFLIGHT")))
    cat.transaction { cat.replace("dim_tipo", tipoDf("a", "b")) }
    assert(cat.table("dim_tipo").count() === 2)
  }

  test("two catalogs, one root, two tables: concurrent writers both land (per-table ownership)") {
    // the documented multi-process deployment shape: one writer OWNS
    // each table; different-table writers under the same warehouse
    // root must not interfere (manifests are per-table). Two Catalog
    // instances append to two tables concurrently, several commits
    // each — both sequences must land completely and read back exactly.
    import spark.implicits._
    val dir = Files.createTempDirectory("cat_twotables").toString
    val catA = new Catalog(spark, s"$dir/wh")
    val catB = new Catalog(spark, s"$dir/wh")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def writer(cat: Catalog, table: String, tag: String) = new Thread(() => {
      try {
        (1 to 4).foreach { i =>
          cat.appendDelta(table, Seq((i.toLong, s"${tag}_$i")).toDF("id", "v"))
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    val ta = writer(catA, "owned_by_a", "a")
    val tb = writer(catB, "owned_by_b", "b")
    ta.start(); tb.start(); ta.join(60000); tb.join(60000)
    assert(errs.isEmpty, s"concurrent different-table writers failed: ${errs.peek()}")
    val a = catB.table("owned_by_a").as[(Long, String)].collect().sortBy(_._1)
    val b = catA.table("owned_by_b").as[(Long, String)].collect().sortBy(_._1)
    assert(a.toSeq === (1 to 4).map(i => (i.toLong, s"a_$i")))
    assert(b.toSeq === (1 to 4).map(i => (i.toLong, s"b_$i")))
    // four commits each — no writer lost a commit to the other's flips
    assert(catA.versions("owned_by_a").size === 4)
    assert(catB.versions("owned_by_b").size === 4)
  }

  test("tableWhere prunes commits by footer range and still answers exactly") {
    val dir = Files.createTempDirectory("cat_skip").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(lo: Int, hi: Int) = (lo to hi).map(i => (i, s"n$i")).toDF("id_tipo", "nome_tipo")
    cat.replace("dim_tipo", batch(1, 100))
    cat.appendDelta("dim_tipo", batch(101, 200))
    cat.appendDelta("dim_tipo", batch(201, 300))
    // a range inside the middle commit plans exactly ONE of the three
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 150, 160).size === 1)
    val got = cat.tableWhere("dim_tipo", "id_tipo", 150, 160)
      .as[(Int, String)].collect().sortBy(_._1)
    assert(got.toSeq === (150 to 160).map(i => (i, s"n$i")))
    // a boundary-spanning range keeps both touched commits, drops the third
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 90, 110).size === 2)
    assert(cat.tableWhere("dim_tipo", "id_tipo", 90, 110).count() === 21)
    // out-of-range: zero commits planned, empty result with the schema
    assert(cat.commitsInRange("dim_tipo", "id_tipo", 999, 1999).isEmpty)
    assert(cat.tableWhere("dim_tipo", "id_tipo", 999, 1999).count() === 0)
    // a column without usable integral stats keeps everything (pruning
    // must never drop what it cannot prove absent) …
    assert(cat.commitsInRange("dim_tipo", "nome_tipo", 0, 1).size === 3)
    // … and tableWhere refuses non-integral columns loudly
    intercept[IllegalArgumentException] {
      cat.tableWhere("dim_tipo", "nome_tipo", 0, 1)
    }
  }

  test("mergeUpsert: replaces matched keys, inserts new, one atomic version per merge") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("cat_upsert").toString
    val cat = new Catalog(spark, s"$dir/wh")
    // upsert into a MISSING table: the deduped batch becomes v1 with
    // exactly the declared columns (the ordering column must not leak)
    val b1 = Seq((1, "a", 1), (2, "b-old", 1), (2, "b", 2))
      .toDF("id_tipo", "nome_tipo", "seq")
    cat.mergeUpsert("dim_tipo", b1, Seq("id_tipo"), Seq(col("seq")))
    assert(cat.table("dim_tipo").columns.toSeq === Seq("id_tipo", "nome_tipo"))
    assert(cat.table("dim_tipo").as[(Int, String)].collect().sortBy(_._1).toSeq
      === Seq((1, "a"), (2, "b")))
    // second merge: id 2 updated in place, id 3 inserted, id 1 kept
    val v1 = cat.versions("dim_tipo").max
    val b2 = Seq((2, "b2", 3), (3, "c", 1)).toDF("id_tipo", "nome_tipo", "seq")
    cat.mergeUpsert("dim_tipo", b2, Seq("id_tipo"), Seq(col("seq")))
    assert(cat.table("dim_tipo").as[(Int, String)].collect().sortBy(_._1).toSeq
      === Seq((1, "a"), (2, "b2"), (3, "c")))
    // one replace commit per merge; the pre-merge state is time-travelable
    assert(cat.versions("dim_tipo").max === v1 + 1)
    assert(cat.tableAt("dim_tipo", v1).as[(Int, String)].collect().sortBy(_._1).toSeq
      === Seq((1, "a"), (2, "b")))
  }

  test("deleteWhere rewrites only range-affected commits; untouched dirs carry verbatim") {
    val dir = Files.createTempDirectory("cat_delete").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(ids: Seq[Int]) =
      ids.map(i => (Option(i), s"n$i")).toDF("id_tipo", "nome_tipo")
    cat.appendDelta("dim_tipo", batch(1 to 10))
    // the middle commit also holds a NULL id — it must survive a value-
    // range delete (a negated BETWEEN would silently drop it)
    cat.appendDelta("dim_tipo",
      batch(11 to 20).unionAll(Seq((Option.empty[Int], "nn")).toDF("id_tipo", "nome_tipo")))
    cat.appendDelta("dim_tipo", batch(21 to 30))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    val preDirs = Files.readString(md.resolve("v3")).split("\n").filter(_.nonEmpty).toSeq

    assert(cat.deleteWhere("dim_tipo", "id_tipo", 15, 18) === 4)
    val postDirs = Files.readString(md.resolve("v4")).split("\n").filter(_.nonEmpty).toSeq
    // commits 1 and 3 carry over VERBATIM (no I/O); only commit 2 is new
    assert(postDirs.size === 3 && postDirs.count(preDirs.contains) === 2)
    assert(!postDirs.contains(preDirs(1)))
    val ids = cat.table("dim_tipo").select("id_tipo").as[Option[Int]].collect()
    assert(ids.flatten.sorted.toSeq === ((1 to 14) ++ (19 to 30)))
    assert(ids.count(_.isEmpty) === 1, "NULL row must survive the delete")

    // a delete matching no commit publishes no new version
    assert(cat.deleteWhere("dim_tipo", "id_tipo", 1000, 2000) === 0)
    assert(Files.readString(md.resolve("LATEST")).trim === "4")

    // deleting a commit's entire contents drops its dir with no empty
    // replacement commit
    assert(cat.deleteWhere("dim_tipo", "id_tipo", 21, 30) === 10)
    assert(liveCommitCount(s"$dir/wh", "dim_tipo") === 2)

    // time travel to the pre-delete state stays intact
    assert(cat.tableAt("dim_tipo", 3).count() === 31)
  }

  test("stats: footer-only row count and integral ranges equal the exact scan") {
    val dir = Files.createTempDirectory("cat_stats").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.appendDelta("dim_tipo", Seq((3, "c"), (7, "g")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((1, "a"), (5, "e")).toDF("id_tipo", "nome_tipo"))
    val st = cat.stats("dim_tipo", Seq("id_tipo", "nome_tipo"))
    assert(st.rows === 4)
    assert(st.ranges("id_tipo") === (1L, 7L))
    // string column: stats exist in footers but the integral-only
    // contract omits it rather than surfacing raw binary bounds
    assert(!st.ranges.contains("nome_tipo"))
    // matches the exact scan
    val (mn, mx) = cat.table("dim_tipo")
      .agg(org.apache.spark.sql.functions.min("id_tipo"),
        org.apache.spark.sql.functions.max("id_tipo"))
      .as[(Int, Int)].head()
    assert(st.ranges("id_tipo") === (mn.toLong, mx.toLong))
  }

  test("compactSmall folds only sub-threshold commits; big commits carry verbatim") {
    val dir = Files.createTempDirectory("cat_optimize").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(ids: Range) = ids.map(i => (i, s"n$i")).toDF("id_tipo", "nome_tipo")
    cat.appendDelta("dim_tipo", batch(1 to 5000))  // the "big" commit
    cat.appendDelta("dim_tipo", batch(5001 to 5002))
    cat.appendDelta("dim_tipo", batch(5003 to 5004))
    cat.appendDelta("dim_tipo", batch(5005 to 5006))
    val md = Paths.get(s"$dir/wh/dim_tipo/_manifests")
    val preDirs = Files.readString(md.resolve("v4")).split("\n").filter(_.nonEmpty).toSeq

    assert(cat.compactSmall("dim_tipo", smallBytes = 10000) === 3)
    val postDirs = Files.readString(md.resolve("v5")).split("\n").filter(_.nonEmpty).toSeq
    assert(postDirs.size === 2, s"3 small commits should fold to 1: $postDirs")
    assert(postDirs.contains(preDirs.head), "the big commit must carry over verbatim")
    assert(cat.table("dim_tipo").count() === 5006)

    // idempotent maintenance: one small commit left → nothing to fold
    assert(cat.compactSmall("dim_tipo", smallBytes = 10000) === 0)
    assert(Files.readString(md.resolve("LATEST")).trim === "5")
  }

  test("deleteWhere on a partitioned fact keeps the (ano, mes) layout in the rewrite") {
    val dir = Files.createTempDirectory("cat_delete_part").toString
    val cat = new Catalog(spark, s"$dir/wh")
    def batch(ids: Seq[Long], mes: Int) = ids.map(i =>
      (i, 1, 1, 1, 1, 1, s"d$i", new java.math.BigDecimal(s"$i.00"), s"h$i", 2024, mes))
      .toDF(Schemas.fatoLancamento.fieldNames: _*)
      .withColumn("valor", org.apache.spark.sql.functions.col("valor")
        .cast(org.apache.spark.sql.types.DecimalType(15, 2)))
    val layout = (Seq("ano", "mes"), Seq("id_lancamento"))
    cat.appendDelta("fato_lancamento", batch(1L to 10L, 1), layout._1, layout._2)
    cat.appendDelta("fato_lancamento", batch(11L to 20L, 2), layout._1, layout._2)
    assert(cat.deleteWhere("fato_lancamento", "id_lancamento", 3, 5,
      layout._1, layout._2) === 3)
    assert(cat.table("fato_lancamento").count() === 17)
    // only the id-range commit was rewritten, and the rewrite keeps the
    // partition directory layout (month pruning still works)
    val md = Paths.get(s"$dir/wh/fato_lancamento/_manifests")
    val pre = Files.readString(md.resolve("v2")).split("\n").filter(_.nonEmpty).toSeq
    val post = Files.readString(md.resolve("v3")).split("\n").filter(_.nonEmpty).toSeq
    val rewritten = post.filterNot(pre.contains)
    assert(rewritten.length === 1 && post.count(pre.contains) === 1)
    assert(Files.exists(Paths.get(rewritten.head, "ano=2024")))
    assert(cat.table("fato_lancamento")
      .filter(org.apache.spark.sql.functions.col("mes") === 1).count() === 7)
  }

  test("changes: row-level insert/delete feed between versions") {
    val dir = Files.createTempDirectory("cat_changes").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.appendDelta("dim_tipo", Seq((1, "a"), (2, "b")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((3, "c")).toDF("id_tipo", "nome_tipo"))
    cat.deleteWhere("dim_tipo", "id_tipo", 1, 1)
    def feed(from: Int, to: Int) =
      cat.changes("dim_tipo", from, to)
        .select("_change", "id_tipo", "nome_tipo")
        .as[(String, Int, String)].collect().sortBy(_.toString).toSeq
    assert(feed(1, 2) === Seq(("insert", 3, "c")))
    assert(feed(2, 3) === Seq(("delete", 1, "a")))
    assert(feed(1, 3) === Seq(("delete", 1, "a"), ("insert", 3, "c")))
    assert(feed(2, 2) === Seq.empty)
  }

  test("deleteWhere on a table with no declared schema validates against its live one") {
    val dir = Files.createTempDirectory("cat_del_generic").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.appendDelta("quarantine_q",
      Seq((1L, "bad dims"), (2L, "bad header")).toDF("media_id", "reason"))
    cat.appendDelta("quarantine_q", Seq((3L, "truncated")).toDF("media_id", "reason"))
    assert(cat.deleteWhere("quarantine_q", "media_id", 1L, 1L) === 1L)
    assert(cat.table("quarantine_q").select("media_id").as[Long].collect().sorted.toSeq
      === Seq(2L, 3L))
    intercept[IllegalArgumentException](cat.deleteWhere("quarantine_q", "reason", 0L, 1L))
  }

  test("deleteWhere inside an aborted transaction is rolled back like any write") {
    val dir = Files.createTempDirectory("cat_del_txn").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.transaction {
      cat.appendDelta("dim_tipo",
        (1 to 10).map(i => (i, s"n$i")).toDF("id_tipo", "nome_tipo"))
    }
    intercept[RuntimeException](cat.transaction {
      assert(cat.deleteWhere("dim_tipo", "id_tipo", 3, 7) === 5)
      sys.error("crash after delete, before publish")
    })
    // a fresh transaction begin heals the crashed head; the delete
    // never became visible
    cat.transaction { () }
    assert(cat.table("dim_tipo").count() === 10,
      "aborted deleteWhere leaked into the published state")
  }

  test("changes: compaction is content-neutral — the feed between pre and post is empty") {
    val dir = Files.createTempDirectory("cat_changes_compact").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.appendDelta("dim_tipo", Seq((1, "a"), (2, "b")).toDF("id_tipo", "nome_tipo"))
    cat.appendDelta("dim_tipo", Seq((3, "c")).toDF("id_tipo", "nome_tipo"))
    cat.compact("dim_tipo")
    val vs = cat.versions("dim_tipo")
    // a downstream incremental consumer can skip compaction versions
    // entirely: the multiset diff across the fold is empty
    assert(cat.changes("dim_tipo", vs(vs.size - 2), vs.last).count() === 0)
  }

  test("maintainAgg: refreshes equal the one-shot aggregate; schema stable; versioned") {
    import graft.operators.IncrementalAgg
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("cat_rollup").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val aggs = Seq(AggSpec("n", "count", "*"), AggSpec("s", "sum", "v"),
      AggSpec("mx", "max", "v"))
    def batch(rows: (String, Int)*) = rows.toDF("k", "v")
      .withColumn("v", org.apache.spark.sql.functions.col("v")
        .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
    val b1 = batch(("a", 1), ("b", 2))
    val b2 = batch(("a", 3), ("c", 4))
    val b3 = batch(("b", 5), ("a", 6))
    cat.maintainAgg("rollup_kv", b1, Seq("k"), aggs)
    val schema0 = cat.table("rollup_kv").schema
    cat.maintainAgg("rollup_kv", b2, Seq("k"), aggs)
    cat.maintainAgg("rollup_kv", b3, Seq("k"), aggs)
    // the decimal sum would widen +10 precision per refresh without the
    // cast-back; the maintained table must keep its first schema
    assert(cat.table("rollup_kv").schema === schema0)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val direct = IncrementalAgg.partial(b1.unionAll(b2).unionAll(b3), Seq("k"), aggs)
      .select(schema0.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    assert(sorted(cat.table("rollup_kv")) === sorted(direct))
    // each refresh is one atomic replace commit: three versions, and
    // time travel still shows the first rollup state
    assert(cat.versions("rollup_kv").size === 3)
    assert(sorted(cat.tableAt("rollup_kv", cat.versions("rollup_kv").min)) ===
      sorted(IncrementalAgg.partial(b1, Seq("k"), aggs)
        .select(schema0.fieldNames.map(org.apache.spark.sql.functions.col): _*)))
  }

  test("maintainAgg: a replayed batch id is skipped, not double-counted") {
    import spark.implicits._
    import graft.operators.IncrementalAgg.AggSpec
    val dir = Files.createTempDirectory("rollup_replay").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val aggs = Seq(AggSpec("n", "count", "*"), AggSpec("s", "sum", "v"))
    val b0 = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    cat.maintainAgg("rollup_r", b0, Seq("k"), aggs, batchId = Some(0L))
    // the crash-between-commit-and-checkpoint shape: the SAME batch id
    // is delivered again — the fold must be a no-op
    cat.maintainAgg("rollup_r", b0, Seq("k"), aggs, batchId = Some(0L))
    val after = cat.table("rollup_r").select("k", "n", "s")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(after.toSeq === Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    assert(cat.appliedBatchId("rollup_r") === Some(0L))
    // the NEXT id folds normally
    cat.maintainAgg("rollup_r", Seq(("a", 10)).toDF("k", "v"), Seq("k"),
      aggs, batchId = Some(1L))
    val next = cat.table("rollup_r").select("k", "n", "s")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(next.toSeq === Seq(("a", 2L, 11L), ("b", 1L, 2L)))
    assert(cat.appliedBatchId("rollup_r") === Some(1L))
  }

  test("tags pin versions across writes, compaction, and vacuum") {
    val dir = Files.createTempDirectory("cat_tags").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a", "b"))          // v1
    assert(cat.tag("dim_tipo", "release-1") === 1)     // defaults to head
    cat.replace("dim_tipo", tipoDf("x", "y", "z"))     // v2
    cat.compact("dim_tipo")                            // v3 (folds v2)
    // vacuum keeps the tagged version's dirs alongside the head's
    cat.vacuum("dim_tipo")
    assert(cat.tableAtTag("dim_tipo", "release-1")
      .select("nome_tipo").as[String].collect().sorted.toSeq === Seq("a", "b"))
    assert(cat.table("dim_tipo").count() === 3)
    assert(cat.tags("dim_tipo") === Map("release-1" -> 1))
    // untagged history is still vacuum-eligible: v2's commit is gone
    val e = intercept[IllegalStateException](cat.tableAt("dim_tipo", 2).count())
    assert(e.getMessage.contains("vacuumed"))
  }

  test("tableAtTag reads a pin ahead of the published snapshot; rollback drops it loudly") {
    val dir = Files.createTempDirectory("cat_tag_ahead").toString
    val writer = new Catalog(spark, s"$dir/wh")
    val reader = new Catalog(spark, s"$dir/wh")
    writer.transaction { writer.replace("dim_tipo", tipoDf("a")) } // snapshot: tipo→1
    // crash mid-transaction AFTER tagging the in-flight head: the
    // snapshot never flips, so readers resolve v1 — but the tag's
    // claim, manifest, and commit dirs all exist, and the "readable
    // forever" contract must not depend on readVersion scoping
    intercept[RuntimeException](writer.transaction {
      writer.replace("dim_tipo", tipoDf("a", "b", "c"))            // head v2
      assert(writer.tag("dim_tipo", "pre-release") === 2)
      sys.error("executor lost")                                   // kill-point
    })
    assert(reader.table("dim_tipo").count() === 1)                 // snapshot holds
    assert(reader.versions("dim_tipo") === Seq(1))                 // v2 unpublished
    assert(reader.tableAtTag("dim_tipo", "pre-release").count() === 3)
    reader.vacuum("dim_tipo")                                      // keeps the pin
    assert(reader.tableAtTag("dim_tipo", "pre-release").count() === 3)
    // the healing transaction rolls v2 back and RE-CLAIMS the version
    // number with new data — the tag must be dropped (loudly), never
    // silently re-pointed at data it did not pin
    writer.transaction { writer.replace("dim_tipo", tipoDf("z")) }
    assert(!writer.tags("dim_tipo").contains("pre-release"))
    intercept[IllegalArgumentException](
      writer.tableAtTag("dim_tipo", "pre-release"))
  }

  test("unparseable tag files: tags() skips with a warning; vacuum aborts " +
      "loudly until the operator clears them, then succeeds with pins intact") {
    val dir = Files.createTempDirectory("cat_tag_corrupt").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))                           // v1
    cat.tag("dim_tipo", "good")
    // plant the crash artifact the pre-hard-link claim could leave: an
    // empty tag file (created, never written)
    Files.write(Paths.get(s"$dir/wh/dim_tipo/_manifests/tag.bad"),
      Array.emptyByteArray)
    // all-digit but above Int.MaxValue (foreign interference): passed
    // the old isDigit guard, then toInt threw and bricked tags()
    Files.write(Paths.get(s"$dir/wh/dim_tipo/_manifests/tag.huge"),
      "4294967296".getBytes)
    // an orphaned IN-FLIGHT claim temp (writer hard-killed between
    // write and createLink): dot-prefixed since round 10, so it must
    // match no listing prefix — the old "tag.rel.tmpX" naming surfaced
    // it as a phantom tag "rel.tmpX"
    Files.write(Paths.get(s"$dir/wh/dim_tipo/_manifests/.tag.rel.tmp1a2b3c4d"),
      "7".getBytes)
    assert(cat.tags("dim_tipo") === Map("good" -> 1))              // skipped
    cat.replace("dim_tipo", tipoDf("x", "y"))                      // v2
    // DESTRUCTIVE op must not guess: a corrupt tag may be a crashed
    // claim pinning a version this vacuum would collect. It aborts
    // naming every corrupt file so the operator can act.
    val ex = intercept[IllegalArgumentException](cat.vacuum("dim_tipo"))
    assert(ex.getMessage.contains("tag.bad") && ex.getMessage.contains("tag.huge"))
    assert(cat.tableAtTag("dim_tipo", "good")
      .select("nome_tipo").as[String].collect().toSeq === Seq("a"))
    // operator clears the corrupt files (here: deletes; re-tagging
    // also works) and re-runs — vacuum proceeds, pins stay readable.
    Files.delete(Paths.get(s"$dir/wh/dim_tipo/_manifests/tag.bad"))
    Files.delete(Paths.get(s"$dir/wh/dim_tipo/_manifests/tag.huge"))
    cat.vacuum("dim_tipo")
    assert(cat.tableAtTag("dim_tipo", "good")
      .select("nome_tipo").as[String].collect().toSeq === Seq("a"))
    assert(cat.table("dim_tipo").count() === 2)                    // head v2 intact
  }

  test("recover() clears orphan claims on registered export tables, not " +
      "just the star schema") {
    val dir = Files.createTempDirectory("cat_recover_export").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 6L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // a crashed writer's claim exactly one above LATEST blocks the next
    // commit's create-exclusive fence
    Files.write(Paths.get(s"$dir/wh/export_docs/_manifests/v2"),
      "/ghost/commit".getBytes)
    intercept[Catalog.ConcurrentWriteException](
      graft.operators.ShardedExport.export(cat,
        "export_docs", "export_manifest", docs,
        Seq("lang", "doc_id"), 4L, "n_chars"))
    // the aborted attempt left its own INFLIGHT marker (same instance
    // heals at next begin); recover() must clear the foreign v-claim
    assert(cat.recover() >= 1)
    assert(!Files.exists(Paths.get(s"$dir/wh/export_docs/_manifests/v2")))
    val m = graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs.filter($"doc_id" < 4),
      Seq("lang", "doc_id"), 4L, "n_chars")
    assert(m.agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 4L)
  }

  test("quarantineCorruptTags: one audited call clears the vacuum abort; " +
      "evidence stays inspectable; repeat incidents never overwrite it") {
    val dir = Files.createTempDirectory("cat_tag_quarantine").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))                           // v1
    cat.tag("dim_tipo", "good")
    cat.replace("dim_tipo", tipoDf("x", "y"))                      // v2
    val md = s"$dir/wh/dim_tipo/_manifests"
    Files.write(Paths.get(s"$md/tag.bad"), Array.emptyByteArray)
    Files.write(Paths.get(s"$md/tag.huge"), "4294967296".getBytes)
    intercept[IllegalArgumentException](cat.vacuum("dim_tipo"))
    // the runbook step: one method, not raw file surgery
    val moved = cat.quarantineCorruptTags("dim_tipo")
    assert(moved.toSet === Set("tag.bad", "tag.huge"))
    cat.vacuum("dim_tipo")                                         // proceeds
    assert(cat.tableAtTag("dim_tipo", "good")
      .select("nome_tipo").as[String].collect().toSeq === Seq("a"))
    assert(cat.tags("dim_tipo") === Map("good" -> 1))
    // evidence inspectable: original bytes under _manifests/quarantine
    assert(new String(Files.readAllBytes(
      Paths.get(s"$md/quarantine/tag.huge"))) === "4294967296")
    assert(Files.size(Paths.get(s"$md/quarantine/tag.bad")) === 0L)
    // a SECOND incident with the same file name uniquifies, never
    // overwrites the first incident's evidence
    Files.write(Paths.get(s"$md/tag.huge"), "still bad".getBytes)
    assert(cat.quarantineCorruptTags("dim_tipo") === Seq("tag.huge.1"))
    assert(new String(Files.readAllBytes(
      Paths.get(s"$md/quarantine/tag.huge.1"))) === "still bad")
    // nothing corrupt left: the call is an idempotent no-op
    assert(cat.quarantineCorruptTags("dim_tipo") === Seq.empty)
    cat.vacuum("dim_tipo")
  }

  test("sharded export: data laid out by shard + manifest, ONE atomic snapshot flip") {
    val dir = Files.createTempDirectory("cat_export").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 10L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val committed = graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // manifest describes the COMMITTED data exactly
    val recomputed = graft.operators.ShardedExport
      .manifest(cat.table("export_docs"), "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(committed === recomputed)
    assert(committed.map(m => (m._1, m._2)) === Seq((0L, 4L), (1L, 4L), (2L, 2L)))
    // hive layout: a consumer fetches one shard dir without listing the rest
    val commitDirs = Files.list(Paths.get(s"$dir/wh/export_docs"))
    val shardDirs =
      try {
        import scala.jdk.CollectionConverters._
        commitDirs.iterator().asScala.filter(p =>
          Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
          .flatMap { c =>
            val l = Files.list(c)
            try l.iterator().asScala.map(_.getFileName.toString).toList
            finally l.close()
          }.toSet
      } finally commitDirs.close()
    assert(Set("shard=0", "shard=1", "shard=2").subsetOf(shardDirs), shardDirs)
    // atomicity: the flip published BOTH tables in one snapshot — and a
    // second export replaces both, never exposing new data with the old
    // manifest (read through the same snapshot-scoped table())
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest",
      docs.filter($"doc_id" < 6), Seq("lang", "doc_id"), 4L, "n_chars")
    val m2 = graft.operators.ShardedExport
      .manifest(cat.table("export_docs"), "n_chars")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val committed2 = cat.table("export_manifest")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(committed2 === m2)
    assert(committed2.map(_._2).sum === 6L)
  }

  test("sharded export atomicity: a reader between the two replaces sees the " +
      "OLD pair; a crash before the flip rolls BOTH tables back") {
    val dir = Files.createTempDirectory("cat_export_atomic").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // the atomic view is snapshot-scoped: a consumer registers the same
    // pair on its own instance (export() registered them on the writer)
    val reader = new Catalog(spark, s"$dir/wh")
    reader.registerSnapshotScoped("export_docs", "export_manifest")
    def readerDocs(): Long = reader.table("export_docs").count()
    def readerManifestDocs(): Long = reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(readerDocs() === 8L && readerManifestDocs() === 8L)
    // replay export()'s body with reader probes between the steps: the
    // round-11 version flipped each table's LATEST immediately, so the
    // first probe saw 4-doc data under the 8-doc manifest
    val sharded4 = graft.operators.ShardedExport.withShards(
      docs.filter($"doc_id" < 4), Seq("lang", "doc_id"), 4L)
    cat.transaction {
      cat.replace("export_docs", sharded4, partitionBy = Seq("shard"))
      assert(readerDocs() === 8L && readerManifestDocs() === 8L)
      cat.replace("export_manifest", graft.operators.ShardedExport
        .manifest(cat.table("export_docs"), "n_chars"))
      // both replaced, flip not yet published: still the old pair
      assert(readerDocs() === 8L && readerManifestDocs() === 8L)
    }
    // after the single flip both move together
    assert(readerDocs() === 4L && readerManifestDocs() === 4L)
    // crash between the replaces (body throws): nothing published, and
    // the writer's next transaction begin rolls the data head back —
    // a subsequent full export re-claims the rolled-back version
    // numbers cleanly and the reader only ever sees committed pairs
    intercept[RuntimeException](cat.transaction {
      cat.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs.filter($"doc_id" < 6), Seq("lang", "doc_id"), 4L),
        partitionBy = Seq("shard"))
      throw new RuntimeException("crash between data and manifest")
    })
    assert(readerDocs() === 4L && readerManifestDocs() === 4L)
    graft.operators.ShardedExport.export(cat,
      "export_docs", "export_manifest", docs.filter($"doc_id" < 6),
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    assert(readerDocs() === 6L && readerManifestDocs() === 6L)
  }

  test("registerSnapshotScoped during a foreign crash never publishes the " +
      "aborted head: re-running a crashed first export recovers cleanly") {
    // Round-13 advice (medium): first-ever export crashes between its
    // data and manifest replaces; a NEW process re-runs the export.
    // ShardedExport.export registers the pair BEFORE transaction-begin
    // recovery can run, and the pre-fix migration bump published the
    // crashed writer's uncommitted data head (no snapshot entry existed
    // to trip the head-above-snapshot guard) — exposing new data under
    // no/old manifest AND flooring rollbackScopedHeads at the aborted
    // version, permanently blessing it.
    val dir = Files.createTempDirectory("cat_reg_crash").toString
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val a = new Catalog(spark, s"$dir/wh")
    a.registerSnapshotScoped("export_docs", "export_manifest")
    intercept[RuntimeException](a.transaction {
      a.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs, Seq("lang", "doc_id"), 4L), partitionBy = Seq("shard"))
      throw new RuntimeException("crash between data and manifest")
    })
    // crashed state: data head v1, INFLIGHT remains, no snapshot entry
    assert(Files.exists(Paths.get(s"$dir/wh/_snapshots/INFLIGHT")))
    assert(!a.snapshotVersions.contains("export_docs"))
    // fresh process re-runs the export: registration must NOT bless the
    // aborted head; the transaction begin then fails loudly on the
    // foreign marker (the operator runbook: confirm dead, recover, rerun)
    val b = new Catalog(spark, s"$dir/wh")
    intercept[Catalog.ConcurrentWriteException](
      graft.operators.ShardedExport.export(b,
        "export_docs", "export_manifest", docs,
        Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars"))
    assert(!b.snapshotVersions.contains("export_docs"),
      "registration published the crashed transaction's uncommitted head")
    assert(b.recoverTransaction())
    // rollback was NOT floored by a published aborted version: the data
    // head rolled back to nonexistence
    assert(Files.notExists(
      Paths.get(s"$dir/wh/export_docs/_manifests/LATEST")))
    // rerun succeeds and a reader sees a consistent pair
    graft.operators.ShardedExport.export(b,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    val reader = new Catalog(spark, s"$dir/wh")
    reader.registerSnapshotScoped("export_docs", "export_manifest")
    assert(reader.table("export_docs").count() === 8L)
    assert(reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 8L)
  }

  test("cross-instance recovery: a fresh instance with EMPTY extra scope " +
      "rolls back a crashed writer's registered export tables") {
    // Round-12 verdict #4: the doc-comment promises rollback works even
    // when the RECOVERING instance never registered the export pair —
    // the INFLIGHT marker's recorded tables drive the rollback union.
    val dir = Files.createTempDirectory("cat_cross_recover").toString
    val docs = (0L until 8L).map(i => (i, s"l${i % 2}", 100L + i))
      .toDF("doc_id", "lang", "n_chars")
    val a = new Catalog(spark, s"$dir/wh")
    graft.operators.ShardedExport.export(a,
      "export_docs", "export_manifest", docs,
      Seq("lang", "doc_id"), shardSize = 4L, byteCol = "n_chars")
    // writer A crashes mid-second-export, AFTER replacing both tables
    // (heads at v2) but before the snapshot flip
    intercept[RuntimeException](a.transaction {
      a.replace("export_docs", graft.operators.ShardedExport.withShards(
        docs.filter($"doc_id" < 4), Seq("lang", "doc_id"), 4L),
        partitionBy = Seq("shard"))
      a.replace("export_manifest", graft.operators.ShardedExport
        .manifest(a.table("export_docs"), "n_chars"))
      throw new RuntimeException("crash before the flip")
    })
    // instance B: brand-new process, no registerSnapshotScoped call at
    // all — its own scope is just the base star-schema tables
    val b = new Catalog(spark, s"$dir/wh")
    assert(b.recoverTransaction())
    // BOTH export tables rolled back to the committed v1 pair
    def head(t: String): Int = new String(Files.readAllBytes(
      Paths.get(s"$dir/wh/$t/_manifests/LATEST"))).trim.toInt
    assert(head("export_docs") === 1 && head("export_manifest") === 1)
    val reader = new Catalog(spark, s"$dir/wh")
    reader.registerSnapshotScoped("export_docs", "export_manifest")
    assert(reader.table("export_docs").count() === 8L)
    assert(reader.table("export_manifest")
      .agg(org.apache.spark.sql.functions.sum("n_docs"))
      .head().getLong(0) === 8L)
  }

  test("tags are create-exclusive and immutable; dropTag releases the pin") {
    val dir = Files.createTempDirectory("cat_tags2").toString
    val cat = new Catalog(spark, s"$dir/wh")
    cat.replace("dim_tipo", tipoDf("a"))               // v1
    cat.replace("dim_tipo", tipoDf("b"))               // v2
    cat.tag("dim_tipo", "rel", version = 1)
    intercept[Catalog.ConcurrentWriteException](cat.tag("dim_tipo", "rel"))
    intercept[IllegalArgumentException](cat.tag("dim_tipo", "nope", version = 9))
    intercept[IllegalArgumentException](cat.tableAtTag("dim_tipo", "absent"))
    assert(cat.dropTag("dim_tipo", "rel"))
    assert(!cat.dropTag("dim_tipo", "rel"))
    cat.vacuum("dim_tipo") // pin released: v1's commit dir may go
    val e = intercept[IllegalStateException](cat.tableAt("dim_tipo", 1).count())
    assert(e.getMessage.contains("vacuumed"))
  }
}
