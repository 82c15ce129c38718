package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ledger.{Catalog, Ingest, Warehouse}
import graft.operators.SurrogateKeys

/** The warehouse build's resolution step: driver-assigned surrogate ids
  * equal the window-assigned ones, and the job count of an upload stays
  * within its budget. */
class WarehouseSpec extends SparkSpec {

  private val header = "Descrição,Tipo,Grupo,Categoria,Classificação,Data,Valor"

  private def writeCsv(dir: String, name: String, rows: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    Files.writeString(p, (header +: rows).mkString("\n"))
    p.toString
  }

  /** id column and SurrogateKeys.assign order of every dim. */
  private val idOrder = Map(
    "dim_tipo" -> ("id_tipo", Seq("nome_tipo")),
    "dim_classificacao" -> ("id_classificacao", Seq("nome_classificacao")),
    "dim_grupo" -> ("id_grupo", Seq("id_tipo", "nome_grupo")),
    "dim_categoria" -> ("id_categoria", Seq("id_grupo", "nome_categoria")),
    "dim_tempo" -> ("id_tempo", Seq("ano", "mes")))

  private def snapshot(cat: Catalog): Map[String, Set[Row]] =
    idOrder.keys.map(t => t -> cat.table(t).collect().toSet).toMap

  /** Every row above the previous max id carries exactly
    * `row_number() OVER (ORDER BY keys) + offset` over the same rows, and
    * every row at or below it is unchanged. */
  private def assertSerialIds(cat: Catalog, before: Map[String, Set[Row]]): Unit =
    for ((t, (id, keys)) <- idOrder) {
      val offset = before(t).map(_.getAs[Int](id)).maxOption.getOrElse(0)
      val all = cat.table(t)
      val fresh = all.filter(col(id) > offset)
      val expected = SurrogateKeys.assign(fresh.drop(id), id, keys, offset)
        .select(all.columns.map(col): _*)
      assert(fresh.collect().toSet === expected.collect().toSet,
        s"$t: new ids differ from row_number() over ${keys.mkString(", ")} + $offset")
      assert(all.filter(col(id) <= offset).collect().toSet === before(t),
        s"$t: a stored id changed")
    }

  private def row(desc: String, tipo: String, grupo: String, cat: String,
                  cls: String, month: String): String =
    s"$desc,$tipo,$grupo,$cat,$cls,$month,\"1,00\""

  test("driver-side surrogate ids equal row_number() + offset in Spark's string order") {
    val dir = Files.createTempDirectory("wh_ids").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat)
    // non-ASCII, case variants and a supplementary-plane character: its
    // UTF-8 bytes (F0 ..) sort after U+FF21's (EF ..), its UTF-16
    // surrogates (D835 ..) before — Spark orders by the bytes
    val first = Seq("Água", "agua", "Zebra", "émile", "𝔘ni")
    val second = Seq("Agua", "zebra", "Émile", "Ａfull", "ágUA", "Água", "𝔘ni")
    def batch(names: Seq[String], months: Seq[String], tag: String) =
      for { (n, i) <- names.zipWithIndex; m <- months; g <- Seq(s"g$n", "Grupo") }
        yield row(s"$tag $i $m $g", n, g, if (i % 2 == 0) n else "Cat", s"c$n", m)
    val empty = idOrder.keys.map(_ -> Set.empty[Row]).toMap

    Ingest.run(cat, writeCsv(dir, "b1.csv", batch(first, Seq("01/2024"), "a")))
    wh.run()
    assertSerialIds(cat, empty)
    val afterFirst = snapshot(cat)
    assert(afterFirst("dim_tipo").size === first.size)

    // new names interleave between the stored ones, new months land on
    // both sides of the stored one
    Ingest.run(cat, writeCsv(dir, "b2.csv",
      batch(second, Seq("12/2023", "01/2024", "03/2024"), "b")))
    val appended = wh.run()
    assertSerialIds(cat, afterFirst)
    assert(appended("dim_tipo") === (second.toSet -- first).size)
    assert(appended("dim_tempo") === 2)

    // every fact row resolves back to the names it was staged with
    cat.registerAll()
    val resolved = spark.sql(
      """SELECT f.descricao, t.nome_tipo, g.nome_grupo, c.nome_categoria,
        |       cl.nome_classificacao
        |FROM fato_lancamento f
        |JOIN dim_tipo t ON f.id_tipo = t.id_tipo
        |JOIN dim_grupo g ON f.id_grupo = g.id_grupo AND g.id_tipo = t.id_tipo
        |JOIN dim_categoria c ON f.id_categoria = c.id_categoria AND c.id_grupo = g.id_grupo
        |JOIN dim_classificacao cl ON f.id_classificacao = cl.id_classificacao
        |WHERE f.descricao LIKE 'b %'""".stripMargin).collect().toSet
    val staged = cat.table("staging_lancamentos")
      .select("Descrição", "Tipo", "Grupo", "Categoria", "Classificação")
      .collect().toSet
    assert(resolved === staged)
    assert(wh.run().values.sum === 0L)
  }

  test("strictQuirks: blind-appended months get row_number() ids; facts take the min id_tempo") {
    val dir = Files.createTempDirectory("wh_strict_ids").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val wh = new Warehouse(cat, strictQuirks = true)
    Ingest.run(cat, writeCsv(dir, "b1.csv", Seq(
      row("a1", "Despesa", "Casa", "Luz", "Fixo", "02/2024"),
      row("a2", "Despesa", "Casa", "Luz", "Fixo", "01/2024"))))
    wh.run()
    val afterFirst = snapshot(cat)
    // the re-upload repeats both months (blind append re-adds them), adds
    // one, and carries one new fact row in an already-stored month
    Ingest.run(cat, writeCsv(dir, "b2.csv", Seq(
      row("a1", "Despesa", "Casa", "Luz", "Fixo", "02/2024"),
      row("a3", "Despesa", "Casa", "Luz", "Fixo", "01/2024"),
      row("a4", "Despesa", "Casa", "Luz", "Fixo", "03/2024"))))
    val appended = wh.run()
    assert(appended("dim_tempo") === 3 && appended("fato_lancamento") === 2)
    assertSerialIds(cat, afterFirst)
    val tempo = cat.table("dim_tempo").select("id_tempo", "ano", "mes")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(tempo === Seq((1, 2024, 1), (2, 2024, 2), (3, 2024, 1), (4, 2024, 2), (5, 2024, 3)))
    val factTempo = cat.table("fato_lancamento").select("descricao", "id_tempo")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(factTempo === Map("a1" -> 2, "a2" -> 1, "a3" -> 1, "a4" -> 5))
  }

  test("job budget: Ingest.run + Warehouse.run on a first upload and its re-upload") {
    val dir = Files.createTempDirectory("wh_jobs").toString
    val cat = new Catalog(spark, s"$dir/wh")
    val csv = writeCsv(dir, "b.csv", Seq(
      row("Aluguel", "Despesa", "Moradia", "Aluguel", "Essencial", "01/2024"),
      row("Mercado", "Despesa", "Alimentação", "Supermercado", "Essencial", "01/2024"),
      row("Salário", "Receita", "Trabalho", "CLT", "Fixo", "01/2024"),
      row("Cinema", "Despesa", "Lazer", "Entretenimento", "Supérfluo", "02/2024")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def upload(): (Int, Map[String, Long]) = {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      Ingest.run(cat, csv)
      val appended = new Warehouse(cat).run()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (jobs.get, appended)
    }
    spark.sparkContext.addSparkListener(listener)
    val ((firstJobs, first), (againJobs, again)) =
      try (upload(), upload())
      finally spark.sparkContext.removeSparkListener(listener)
    assert(first("fato_lancamento") === 4L && again.values.sum === 0L)
    // measured: ingest 2 (null audit, staging write); resolve 1 key
    // aggregate + 1 stored-dims scan (none before the first build); one
    // write per dim that gains keys (5, then 0); fact 6, then 7 with the
    // existing-hash side (3 local-relation broadcasts, the id_hash dedup
    // and id-window shuffle stages, the write)
    assert(firstJobs <= 14, s"first upload ran $firstJobs jobs")
    assert(againJobs <= 11, s"re-upload ran $againJobs jobs")
  }
}
