package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ledger.{Catalog, Ingest, Warehouse}

/** The three workloads. Every op is issued by one closed-loop client: the
  * next op starts when the previous one has returned. The timed phase runs
  * whole passes over the workload's op list until `--seconds` have
  * elapsed (at least one pass; two in a traced run, so that it has a
  * traced and an untraced sample of each op, see [[Recorder.tracedAt]]). */
object Workloads {

  /** Distinct queries drawn per bi-floor run, one from each stratum of
    * the population sorted by reference time. Stratifying keeps every
    * seed's draw at the same cost profile, so seeds differ in which
    * queries run, not in how expensive the run is. */
  val BiFloorDraw = 20
  /** Timed passes over the draw: 40 query ops, enough for a 75th
    * percentile with ten samples above it. */
  val BiFloorPasses = 2

  /** The catalog's auto-fold threshold. A warehouse-load pass uploads
    * this many months (`run.py`'s NEW_MONTHS), so the fact table folds on
    * the pass's last one. The ledger documents 16 for month-cadence
    * uploads; four keeps a run inside the benchmark's time budget while
    * every pass still exercises the fold. */
  val CompactEvery = 4

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  def shuffled[T](xs: Seq[T], rnd: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def timedPasses(rec: Recorder, minPasses: Int)(one: => Unit): Unit = {
    val t0 = System.nanoTime()
    while (rec.pass < minPasses || (System.nanoTime() - t0) / 1e9 < rec.o.seconds) {
      one
      rec.pass += 1
    }
  }

  /** One query op: build the frame, then materialize every column to the
    * noop sink. Traced and untraced ops make the same calls; traced, the
    * build and the write are phases, and the tracer splits the write's
    * planning off it (see [[Tracer]]). */
  def queryOp(rec: Recorder, name: String, dir: String, traced: Boolean): OpRec =
    rec.op(name, "query", traced) { ph =>
      val df = ph("build")(SparkEntry.queries(name)(rec.spark, dir))
      ph("execute")(df.write.format("noop").mode("overwrite").save())
    }

  /** Untimed correctness pass: each query's rows go to parquet, and
    * `run.py` compares their digests with the committed ones. The pass
    * also warms codegen and the JIT for the timed ops; it runs `slots`
    * queries at a time because that cold compilation parallelizes. Pins
    * are released once all have finished, never under a running query. */
  def checkAll(rec: Recorder, names: Seq[String], dir: String, scale: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(rec.o.slots)
    try names.map(n => pool.submit(new Runnable {
      def run(): Unit = {
        val out = s"${rec.o.work}/check/$scale/$n"
        try {
          SparkEntry.queries(n)(rec.spark, dir).write.mode("overwrite").parquet(out)
          rec.synchronized {
            rec.checks += Map("name" -> n, "kind" -> "digest", "scale" -> scale, "dir" -> out)
          }
        } catch { case NonFatal(e) => rec.synchronized(rec.fail(n, e.toString.take(500))) }
      }
    })).foreach(_.get())
    finally pool.shutdown()
    Operators.release(rec.spark)
  }

  /** Writes every benchmarked query's rows for `make_digests.py`: the
    * bi-floor population and corpus-heavy at sf0.1, corpus-heavy also at
    * sf0.01 (its warm-pass scale). */
  def digests(rec: Recorder): Unit = {
    val pop = lines(s"${rec.o.population}/bi-floor.txt").map(_.split("\\s+")(0))
    val heavy = lines(s"${rec.o.population}/corpus-heavy.txt")
    checkAll(rec, pop ++ heavy, rec.o.data, "sf0.1")
    checkAll(rec, heavy, rec.o.small, "sf0.01")
    val oracle = SparkEntry.oracleSql
    rec.extra("oracle_sql") = (pop ++ heavy).flatMap(n => oracle.get(n).map(n -> _)).toMap
  }

  // ---------------------------------------------------------------- bi-floor

  def biFloor(rec: Recorder): Unit = {
    val rnd = new java.util.Random(rec.o.seed)
    val pop = lines(s"${rec.o.population}/bi-floor.txt").map { l =>
      val Array(n, ref) = l.split("\\s+"); (n, ref.toDouble)
    }.sortBy { case (n, ref) => (ref, n) }
    val k = BiFloorDraw
    val drawn = (0 until k).map { i =>
      val lo = i * pop.size / k
      val hi = (i + 1) * pop.size / k
      pop(lo + rnd.nextInt(hi - lo))._1
    }
    rec.extra("drawn") = drawn
    checkAll(rec, drawn, rec.o.data, "sf0.1")
    rec.extra("checked_ms") = System.currentTimeMillis()
    // one untimed pass more: after the parallel check pass alone, the first
    // timed pass still ran 15-20% slower than the second, by a margin that
    // varied from run to run
    shuffled(drawn, rnd).foreach { n =>
      SparkEntry.queries(n)(rec.spark, rec.o.data).write.format("noop").mode("overwrite").save()
      Operators.release(rec.spark)
    }
    timedPasses(rec, BiFloorPasses) {
      shuffled(drawn.zipWithIndex, rnd).foreach { case (n, i) =>
        queryOp(rec, n, rec.o.data, rec.tracedAt(i))
      }
    }
  }

  // ------------------------------------------------------------ corpus-heavy

  def corpusHeavy(rec: Recorder): Unit = {
    val rnd = new java.util.Random(rec.o.seed)
    val heavy = shuffled(lines(s"${rec.o.population}/corpus-heavy.txt"), rnd)
    // the correctness and warm pass runs at the small scale: the same plans
    // and kernels over a tenth of the rows
    checkAll(rec, heavy, rec.o.small, "sf0.01")
    rec.extra("checked_ms") = System.currentTimeMillis()
    timedPasses(rec, if (rec.o.trace) 2 else 1) {
      heavy.zipWithIndex.foreach { case (n, i) =>
        queryOp(rec, n, rec.o.data, rec.tracedAt(i))
      }
    }
  }

  // ---------------------------------------------------------- warehouse-load

  /** The benchmark's own BI read, issued after every commit. */
  val BiSql: String =
    """SELECT t.ano, t.mes, tp.nome_tipo, c.nome_classificacao,
      |       COUNT(*) AS lancamentos, SUM(f.valor) AS total
      |FROM fato_lancamento f
      |JOIN dim_tempo t ON f.id_tempo = t.id_tempo
      |JOIN dim_tipo tp ON f.id_tipo = tp.id_tipo
      |JOIN dim_classificacao c ON f.id_classificacao = c.id_classificacao
      |GROUP BY t.ano, t.mes, tp.nome_tipo, c.nome_classificacao
      |ORDER BY t.ano, t.mes, tp.nome_tipo, c.nome_classificacao""".stripMargin

  val StarTables: Seq[String] = Seq("dim_tempo", "dim_tipo", "dim_grupo",
    "dim_categoria", "dim_classificacao", "fato_lancamento")

  /** Set-up (in `run.py`) wrote one CSV directory per month under
    * `work/csv` and the seeded upload plan, one `<yyyy-MM> <kind>` line per
    * upload: `base` (the history a pass starts from, loaded untimed, which
    * also warms the load path), `new` or `again` (a re-upload). */
  def warehouseLoad(rec: Recorder): Unit = {
    val csvRoot = s"${rec.o.work}/csv"
    val plan = lines(s"$csvRoot/plan.txt").map { l =>
      val Array(m, kind) = l.split(" "); (m, kind)
    }
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    // traced, two passes: the parity of traced ops swaps between them, so
    // every upload, re-upload and read has a traced and an untraced sample
    timedPasses(rec, if (rec.o.trace) 2 else 1) {
      passes += warehousePass(rec, csvRoot, plan)
    }
    rec.extra("ledger_passes") = passes.toSeq
    rec.extra("csv_root") = csvRoot
  }

  private def warehousePass(rec: Recorder, csvRoot: String,
                            plan: Seq[(String, String)]): Map[String, Any] = {
    val spark = rec.spark
    val root = s"${rec.o.work}/catalog-${rec.pass}"
    val cat = new Catalog(spark, root, compactEvery = CompactEvery)
    var offered = 0L
    var factAppended = 0L
    var compactions = 0
    var factCommits = 0
    def upload(month: String, ph: Phases): Map[String, Long] = {
      val staged = ph("ledger.ingest")(Ingest.run(cat, s"$csvRoot/ym=$month"))
      val appended = ph("ledger.build")(new Warehouse(cat).run())
      offered += staged
      factAppended += appended("fato_lancamento")
      appended
    }
    plan.zipWithIndex.foreach {
      case ((month, "base"), _) =>
        upload(month, new Phases(None, -1, -1))
        spark.sql(BiSql).collect() // the read path's first, cold, execution
      case ((month, kind), i) =>
        val kindName = if (kind == "again") "reupload" else "upload"
        val up = rec.op(s"$kindName $month", kindName, rec.tracedAt(i)) { ph =>
          val appended = upload(month, ph)
          if (kind == "again" && appended.values.exists(_ != 0))
            throw new IllegalStateException(s"re-upload of $month appended $appended")
        }
        if (up.ok) {
          val live = liveCommits(cat, "fato_lancamento")
          if (live < factCommits) compactions += 1
          factCommits = live
        }
        rec.op(s"read after $kindName $month", "read", rec.tracedAt(i + 1)) { ph =>
          val df = ph("build")(spark.sql(BiSql))
          ph("execute")(df.collect())
        }
    }
    val result = passSummary(cat, root) ++ Map(
      "months" -> plan.filter(_._2 != "again").map(_._1),
      "rows_offered" -> offered, "fact_appended" -> factAppended,
      "compactions" -> compactions)
    deleteTree(Paths.get(root))
    result
  }

  /** Distinct commit directories behind a table's live files. */
  private def liveCommits(cat: Catalog, table: String): Int =
    if (!cat.exists(table)) 0
    else cat.table(table).inputFiles.map { f =>
      val rel = f.substring(f.indexOf(s"/$table/") + table.length + 2)
      rel.takeWhile(_ != '/')
    }.distinct.length

  /** End-of-pass state for the invariant checks and the storage counters. */
  private def passSummary(cat: Catalog, root: String): Map[String, Any] = {
    val fact = cat.table("fato_lancamento")
    val agg = fact.agg(count(lit(1)), sum(col("valor")).cast("string")).head()
    val keys = Map(
      "dim_tempo" -> Seq("ano", "mes"), "dim_tipo" -> Seq("nome_tipo"),
      "dim_grupo" -> Seq("id_tipo", "nome_grupo"),
      "dim_categoria" -> Seq("id_grupo", "nome_categoria"),
      "dim_classificacao" -> Seq("nome_classificacao"))
    val ids = Map("dim_tempo" -> "id_tempo", "dim_tipo" -> "id_tipo",
      "dim_grupo" -> "id_grupo", "dim_categoria" -> "id_categoria",
      "dim_classificacao" -> "id_classificacao")
    val dimsDistinct = keys.toSeq.sortBy(_._1).map { case (t, k) =>
      val r = cat.table(t).agg(count(lit(1)),
        countDistinct(col(k.head), k.tail.map(col): _*),
        countDistinct(col(ids(t)))).head()
      t -> (r.getLong(0) == r.getLong(1) && r.getLong(0) == r.getLong(2))
    }.toMap
    val liveFiles = StarTables.flatMap(t => cat.table(t).inputFiles).distinct
    def size(f: String) = Files.size(Paths.get(new java.net.URI(f)))
    val all = Files.walk(Paths.get(root))
    val (files, bytes) = try {
      val fs = all.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.count(_.toString.endsWith(".parquet")), fs.map(Files.size).sum)
    } finally all.close()
    Map(
      "fact_rows" -> agg.getLong(0), "fact_sum_valor" -> agg.getString(1),
      "dims_distinct" -> dimsDistinct,
      "live_bytes" -> liveFiles.map(size).sum,
      "live_commits" -> StarTables.map(t => liveCommits(cat, t)).sum,
      "files_written" -> files, "bytes_on_disk" -> bytes)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally w.close()
  }
}

/** Throughput probes of the program's native SQL functions over the sf0.1
  * columns each one consumes. Inputs are cached first so a probe times
  * the kernel, not the scan. */
object Kernels {
  def probe(rec: Recorder): Unit = {
    val spark = rec.spark
    val d = rec.o.data
    def pinned(df: DataFrame): (DataFrame, Long) = {
      val p = df.repartition(rec.o.slots).persist()
      (p, p.count())
    }
    // 5,000 short documents are too few to time a cheap kernel over
    val text = pinned(spark.range(4).crossJoin(
      spark.read.parquet(s"$d/documents.parquet").select("text")).select("text"))
    val shingles = pinned(text._1.selectExpr("word_shingles(text, 5, false) AS sh"))
    val emb = spark.read.parquet(s"$d/embeddings.parquet").select("embedding")
    val pairs = pinned(emb.crossJoin(broadcast(
      emb.limit(16).select(col("embedding").as("q")))))
    val sets = pinned(spark.read.parquet(s"$d/lineitem.parquet")
      .groupBy("l_orderkey").agg(
        array_sort(collect_set(col("l_partkey") % 4096)).as("a"),
        array_sort(collect_set(col("l_suppkey") % 4096)).as("b")))
    val kernels = Seq(
      "nfc_normalize" -> (text, "nfc_normalize(text)"),
      "text_stats" -> (text, "text_stats(text)"),
      "word_shingles" -> (text, "word_shingles(text, 5, false)"),
      "minhash_sigs" -> (shingles, "minhash_sigs(sh, 64)"),
      "markup_clean" -> (text, "markup_clean(text)"),
      "sorted_intersect_count" -> (sets, "sorted_intersect_count(a, b)"),
      "dot_product_float" -> (pairs, "dot_product_float(embedding, q)"))
    kernels.foreach { case (name, ((df, rows), e)) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.selectExpr(s"sum(hash($e))").collect()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      rec.layers(s"expressions.$name.rows_per_s") = rows / times(1)
      System.err.println(f"[perfbench] kernel   $name%-28s ${times(1)}%7.3f s")
    }
    Seq(text, shingles, pairs, sets).foreach(_._1.unpersist(blocking = true))
  }
}
