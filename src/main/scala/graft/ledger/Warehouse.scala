package graft.ledger

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.LedgerFunctions._
import graft.operators.{MergeIgnore, SurrogateKeys}

/** Entry point 2 (SURVEY §3.2): staging → star schema, merge-ignore on
  * every table (reference app/etl.py:136-149).
  *
  * A build is one [[Catalog.transaction]] of two steps:
  *  1. [[resolve]]: one aggregate over `staging_lancamentos` collects the
  *     batch's key set of every dimension while one scan collects the
  *     five stored dims; the driver gives each new key its surrogate id.
  *  2. The dim deltas ([[loadDim]]) and the fact delta ([[loadFato]]) are
  *     written concurrently: the fact joins staging against the batch's
  *     key→id maps, so it depends on the resolution, not on the dim
  *     commits. A dim that gains no keys writes nothing; one that does
  *     appends ONE single-file commit.
  * Readers see the previous warehouse or the complete new one, never
  * dims without their fact.
  *
  * Dimension keys: dim_tipo `nome_tipo`, dim_classificacao
  * `nome_classificacao`, dim_grupo `(id_tipo, nome_grupo)`, dim_categoria
  * `(id_grupo, nome_categoria)`, dim_tempo `(ano, mes)`. Stored dims are
  * key-distinct (dim_tempo under `strictQuirks` excepted). A key with a
  * NULL part never equals a stored key (SQL equality), so every upload
  * that carries it appends it again, and no fact row joins to it.
  *
  * Surrogate ids are SERIAL-like: dense, continuing from the stored max,
  * and new keys are numbered in exactly [[SurrogateKeys.assign]]'s order —
  * ascending, strings by unsigned UTF-8 bytes (Spark's order, not Java's
  * UTF-16 `compareTo`), NULLs first. Stored ids never change.
  *
  * Driver memory: resolution collects every stored dim and the batch's
  * key sets. Dims are vocabulary-sized, and the fact load broadcasts the
  * resolved keys, so a dim that does not fit on the driver could not be
  * broadcast either. The fact itself is never collected.
  *
  * Documented divergence (SURVEY §1.4-2): `dim_tempo` merges on
  * (ano, mes) instead of blind-appending, so re-uploading a month cannot
  * create duplicate time rows. The reference's behavior is an
  * unconstrained artifact; final fact content is identical either way.
  *
  * Operational note: every build that gains keys appends one commit per
  * table, so live commit counts grow without bound — construct the
  * catalog with `compactEvery = 16` (one auto-fold roughly per year of
  * monthly uploads; see [[Catalog.compactEvery]]) so table scans keep a
  * bounded file-listing cost. The fold is atomic and restores the fact's
  * (id_tipo, id_grupo, id_categoria) clustering.
  *
  * `strictQuirks = true` reproduces the reference bit-for-bit for
  * byte-level migration testing: `dim_tempo` blind-appends (per-batch
  * dedup only, reference app/etl.py:26-39 — re-uploads create duplicate
  * (ano, mes) rows with fresh ids), and the fact load collapses the
  * resulting join multiples to one row per `id_hash` exactly like
  * `ON CONFLICT DO NOTHING` (app/etl.py:129; the reference winner is
  * arbitrary — we pick min id_tempo so the state is reproducible).
  */
object Warehouse {
  /** Batches at or under this many rows (from footer metadata) take the
    * single-window [[SurrogateKeys.assignBounded]] fact-id path; larger
    * ones take [[SurrogateKeys.assignScalable]]. A few million short
    * rows through one window task is well under a second — cheaper than
    * the three extra jobs the scalable path schedules. */
  val boundedIdBatchRows: Long = 4L * 1000 * 1000

  /** Batches at or under this many rows ALSO skip the fact write's
    * range repartition and write straight from the id window's single
    * partition: for a small delta the boundary-sampling job + the range
    * exchange cost more than one writer task. The bound is much tighter
    * than [[boundedIdBatchRows]] because the single WRITER serializes
    * parquet encoding + one directory per month, where the id window
    * only numbers rows: a 64k-row write is ~0.1 s, but the same trade at
    * ~1M rows measured 19 vs 15 s on the whole q68 e2e at the 100×
    * decade (single-task encode of 36 month directories). */
  val singleTaskWriteRows: Long = 64L * 1024

  /** Spark's StringType order: unsigned UTF-8 bytes, NULL first. */
  private val sparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))
  }

  private val byIdAndName: Ordering[(Int, String)] =
    Ordering.Tuple2(Ordering.Int, sparkStringOrder)

  /** `batch` keys absent from `stored`, numbered in `ord` from
    * `offset + 1` — row_number() over `ord`, offset by the stored max. */
  private def assignNew[K](batch: Iterable[K], stored: K => Boolean,
                           offset: Int)(ord: Ordering[K]): Seq[(K, Int)] =
    batch.iterator.filterNot(stored).toSeq.distinct.sorted(ord)
      .zipWithIndex.map { case (k, i) => k -> (offset + i + 1) }

  private val hierarchySchema: StructType = StructType(Seq(
    StructField("Tipo", StringType), StructField("Grupo", StringType),
    StructField("Categoria", StringType), StructField("id_tipo", IntegerType),
    StructField("id_grupo", IntegerType), StructField("id_categoria", IntegerType)))

  private val classSchema: StructType = StructType(Seq(
    StructField("Classificação", StringType),
    StructField("id_classificacao", IntegerType)))

  private val monthSchema: StructType = StructType(Seq(
    StructField("ano", IntegerType), StructField("mes", IntegerType),
    StructField("id_tempo", IntegerType)))

  /** One batch's dimension keys resolved against the stored dims.
    *
    * @param batchRows staged rows (parquet footers)
    * @param deltas    per dim table, the rows to append (table column
    *                  order, ids ascending; empty = nothing to write)
    * @param hierarchy (Tipo, Grupo, Categoria) → (id_tipo, id_grupo,
    *                  id_categoria) for every batch triple without NULLs
    * @param classes   Classificação → id_classificacao
    * @param months    (ano, mes) → id_tempo for every batch month; under
    *                  `strictQuirks` every stored row of the month, so the
    *                  fact still sees the blind-append duplicates */
  private[graft] final case class Resolution(
      batchRows: Long, deltas: Map[String, Seq[Row]],
      hierarchy: Seq[Row], classes: Seq[Row], months: Seq[Row]) {
    /** The batch's (ano, mes) months. */
    def batchMonths: Seq[(Int, Int)] =
      months.map(r => (r.getInt(0), r.getInt(1))).distinct
  }
}

final class Warehouse(catalog: Catalog, strictQuirks: Boolean = false) {
  import Warehouse._

  private def spark = catalog.spark

  private def staging: DataFrame = catalog.table("staging_lancamentos")

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Every dimension's batch key set, from ONE aggregate over staging:
    * tipo, classificação, (tipo, grupo), (tipo, grupo, categoria) and the
    * dim_tempo rows (ano, mes, semana, data_inicio, data_fim). Each set
    * holds exactly the keys its reference loader would see: a grupo needs
    * its tipo, a categoria its tipo and grupo (the reference joins them
    * through their parents), a month a parseable `Data`. A small batch
    * is aggregated in one task (the fact write's size rule): the file
    * scan has no known partitioning, so a parallel global aggregate pays
    * an exchange and a second job. */
  private def batchKeys(batchRows: Long): Row = {
    val d = parseMonth(col("Data"))
    val (tipo, grupo) = (col("Tipo"), col("Grupo"))
    val src = if (batchRows <= singleTaskWriteRows) staging.coalesce(1) else staging
    src.agg(
      collect_set(tipo),
      collect_set(col("Classificação")),
      collect_set(when(tipo.isNotNull, struct(tipo, grupo))),
      collect_set(when(tipo.isNotNull && grupo.isNotNull,
        struct(tipo, grupo, col("Categoria")))),
      collect_set(when(d.isNotNull, struct(
        yearOf(d).cast("int"), monthOf(d).cast("int"), isoWeek(d).cast("int"),
        monthStart(d), monthEnd(d))))).head()
  }

  /** The stored dims in ONE scan, as (table, id, name, parent id, ano,
    * mes) rows; absent columns are NULL. No job before the first build. */
  private def storedDims(): Map[String, Seq[Row]] = {
    val none = lit(null)
    def dim(t: String, id: String, name: String, parent: String,
            ano: String, mes: String): DataFrame = {
      def c(n: String) = if (n == null) none else col(n)
      catalog.table(t).select(lit(t), col(id), c(name).cast("string"),
        c(parent).cast("int"), c(ano).cast("int"), c(mes).cast("int"))
    }
    Seq(
      ("dim_tipo", "id_tipo", "nome_tipo", null, null, null),
      ("dim_classificacao", "id_classificacao", "nome_classificacao", null, null, null),
      ("dim_grupo", "id_grupo", "nome_grupo", "id_tipo", null, null),
      ("dim_categoria", "id_categoria", "nome_categoria", "id_grupo", null, null),
      ("dim_tempo", "id_tempo", null, null, "ano", "mes"))
      .filter(d => catalog.exists(d._1))
      .map((dim _).tupled)
      .reduceOption(_.unionAll(_))
      .fold(Map.empty[String, Seq[Row]])(_.collect().toSeq.groupBy(_.getString(0)))
  }

  /** Resolve the staged batch's dimension keys: the batch key sets and
    * the stored dims are read concurrently (two jobs), then the driver
    * assigns ids to the new keys. No table is written. */
  private[graft] def resolve(): Resolution = {
    // footer metadata: the staged row count sizes both the key
    // aggregate and the fact write
    val batchRows = catalog.stats("staging_lancamentos").rows
    val keysF = Future(blocking(batchKeys(batchRows)))
    val stored = storedDims()
    val keys = Await.result(keysF, Duration.Inf)

    def rows(t: String): Seq[Row] = stored.getOrElse(t, Seq.empty)
    def offset(t: String): Int = rows(t).map(_.getInt(1)).maxOption.getOrElse(0)
    // stored keys with a NULL part are left out: they never match
    def byName(t: String): Map[String, Int] =
      rows(t).filterNot(_.isNullAt(2)).map(r => r.getString(2) -> r.getInt(1)).toMap
    def byParentAndName(t: String): Map[(Int, String), Int] =
      rows(t).filterNot(_.isNullAt(2))
        .map(r => (r.getInt(3), r.getString(2)) -> r.getInt(1)).toMap

    val storedTipo = byName("dim_tipo")
    val newTipo = assignNew(keys.getSeq[String](0), storedTipo.contains,
      offset("dim_tipo"))(sparkStringOrder)
    val tipoId = storedTipo ++ newTipo

    val storedCls = byName("dim_classificacao")
    val newCls = assignNew(keys.getSeq[String](1), storedCls.contains,
      offset("dim_classificacao"))(sparkStringOrder)
    val clsId = storedCls ++ newCls

    val storedGrupo = byParentAndName("dim_grupo")
    val newGrupo = assignNew(
      keys.getSeq[Row](2).map(r => (tipoId(r.getString(0)), r.getString(1))),
      storedGrupo.contains, offset("dim_grupo"))(byIdAndName)
    val grupoId = storedGrupo ++ newGrupo

    val triples = keys.getSeq[Row](3).map(r =>
      (r.getString(0), r.getString(1), r.getString(2)))
    def grupoOf(t: String, g: String): Int = grupoId((tipoId(t), g))
    val storedCat = byParentAndName("dim_categoria")
    val newCat = assignNew(triples.map { case (t, g, c) => (grupoOf(t, g), c) },
      storedCat.contains, offset("dim_categoria"))(byIdAndName)
    val catId = storedCat ++ newCat

    val batchMonths = keys.getSeq[Row](4)
      .map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    val storedMonths = rows("dim_tempo").map(r => (r.getInt(4), r.getInt(5)) -> r.getInt(1))
    val storedMonthKeys = storedMonths.map(_._1).toSet
    // strictQuirks: blind append — every batch month gets a fresh row
    val newTempo = assignNew(batchMonths.keys,
      (k: (Int, Int)) => !strictQuirks && storedMonthKeys(k),
      offset("dim_tempo"))(Ordering.Tuple2(Ordering.Int, Ordering.Int))

    Resolution(batchRows,
      deltas = Map(
        "dim_tempo" -> newTempo.map { case (k, id) =>
          val m = batchMonths(k)
          Row(id, m.get(0), m.get(1), m.get(2), m.get(3), m.get(4))
        },
        "dim_tipo" -> newTipo.map { case (n, id) => Row(id, n) },
        "dim_grupo" -> newGrupo.map { case ((t, g), id) => Row(id, t, g) },
        "dim_categoria" -> newCat.map { case ((g, c), id) => Row(id, g, c) },
        "dim_classificacao" -> newCls.map { case (n, id) => Row(id, n) }),
      hierarchy = triples.collect { case (t, g, c) if c != null =>
        val gid = grupoOf(t, g)
        Row(t, g, c, tipoId(t), gid, catId((gid, c)))
      },
      classes = keys.getSeq[String](1).map(n => Row(n, clsId(n))),
      months = (storedMonths.filter(m => batchMonths.contains(m._1)) ++ newTempo)
        .map { case ((a, m), id) => Row(a, m, id) })
  }

  /** Append `table`'s resolved delta as one single-file commit; nothing
    * is written when the batch brought no new keys. */
  private[graft] def loadDim(table: String, r: Resolution): Long = {
    val rows = r.deltas(table)
    if (rows.isEmpty) 0L
    else catalog.appendDelta(table, local(rows, Schemas.schemaOf(table)).coalesce(1))
  }

  /** fato_lancamento (reference app/etl.py:105-133): staging joined to the
    * batch's key→id maps (three broadcast local relations: the
    * tipo→grupo→categoria hierarchy, classificação and month) + merge-
    * ignore on id_hash. The only shuffle left is the anti-join against
    * existing hashes, and that prunes to the (ano, mes) partitions of the
    * batch's months.
    */
  private[graft] def loadFato(r: Resolution): Long = {
    val sl = staging.withColumn("__d", parseMonth(col("Data")))
      .withColumn("ano", yearOf(col("__d")).cast("int"))
      .withColumn("mes", monthOf(col("__d")).cast("int"))
    val joined = sl
      .join(broadcast(local(r.hierarchy, hierarchySchema)), Seq("Tipo", "Grupo", "Categoria"))
      .join(broadcast(local(r.classes, classSchema)), Seq("Classificação"))
      .join(broadcast(local(r.months, monthSchema)), Seq("ano", "mes"))
      .select(
        col("id_tipo"), col("id_grupo"), col("id_categoria"),
        col("id_tempo"), col("id_classificacao"),
        col("Descrição").as("descricao"),
        col("Valor").as("valor"),
        col("id_hash"),
        col("ano"), col("mes"))
    // strict parity: duplicate (ano, mes) dim_tempo rows (quirk 2) fan a
    // staging row into N candidates; keep one per id_hash like the
    // reference's ON CONFLICT DO NOTHING, deterministically (min id_tempo)
    val candidates =
      if (!strictQuirks) joined
      else {
        val w = Window.partitionBy(col("id_hash")).orderBy(col("id_tempo"))
        joined.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }

    val offset = catalog.maxId("fato_lancamento", "id_lancamento")
    val existing =
      if (!catalog.exists("fato_lancamento")) null
      else existingFactForMerge(r.batchMonths)
    val delta = MergeIgnore.newRows(candidates, existing, Seq("id_hash"))
    // Size-aware id assignment (AQE-style, decided from table-format
    // FOOTER row counts — metadata only, no extra job): the delta is at
    // most the staged batch, so a bounded batch (the month-upload
    // cadence this pipeline serves) takes the one-job single-window
    // path; anything larger — a backfill, a migration — pays
    // assignScalable's two-pass scheme and keeps every task bounded.
    val batchRows = r.batchRows
    val assigned =
      if (batchRows <= Warehouse.boundedIdBatchRows)
        SurrogateKeys.assignBounded(delta, "id_lancamento", Seq("id_hash"), offset)
      else
        SurrogateKeys.assignScalable(delta, "id_lancamento", Seq("id_hash"), offset)
    val keyed = assigned
      .select(Schemas.fatoLancamento.fieldNames.map(col): _*)
    // Cluster rows by the dimension hierarchy inside each written file:
    // parquet row-group min/max stats then prune category-filtered BI
    // scans, on top of the (ano, mes) directory pruning. The range
    // repartition leads with the write-partition columns, so each task
    // owns a CONTIGUOUS (ano, mes) span: the partitioned writer opens
    // ~1 directory per task in parallel instead of one task grinding
    // through every month serially (the bounded-id path funnels through
    // one window task) or every task touching every month (tasks ×
    // months tiny files — the small-files antipattern at scale). Big
    // months split across tasks by the range boundaries; the sort MUST
    // lead with the partition columns or the writer stacks its own
    // sort on top, destroying the clustering it sits above.
    //
    // On the SMALL-BATCH path (≤ singleTaskWriteRows) the delta just
    // came out of assignBounded's GLOBAL id_hash window, i.e. it sits in
    // ONE partition — a partition-local sort leading with the
    // write-partition columns is already a TOTAL sort, so the single
    // write task hands the partitioned writer strictly contiguous
    // (ano, mes) spans and the same row-group clustering the range
    // shuffle would produce, without the range repartition (whose
    // boundary sampling re-executes the whole fact plan), the persist
    // that sampling needs, or the extra shuffle: one job instead of
    // three, identical rows and ids. Single-task write of a
    // ≤ boundedIdBatchRows batch is the same trade assignBounded itself
    // already makes.
    //
    // The SCALABLE path (backfills, migrations) keeps the range
    // repartition: there the delta is fact-scale, the id assignment is
    // already parallel, and each task must own a contiguous (ano, mes)
    // span so the partitioned writer opens ~1 directory per task
    // instead of tasks × months tiny files. It must NOT pin a
    // table-sized delta in executor memory, so it keeps the recompute.
    if (batchRows <= Warehouse.singleTaskWriteRows)
      catalog.appendDelta("fato_lancamento",
        keyed.sortWithinPartitions(
          "ano", "mes", "id_tipo", "id_grupo", "id_categoria"),
        partitionBy = Seq("ano", "mes"),
        clusterBy = Seq("id_tipo", "id_grupo", "id_categoria"))
    else {
      // mid-size bounded batches (single-window ids, parallel write)
      // still persist across the boundary sample + write double
      // execution; the UNBOUNDED scalable path must not pin a
      // table-sized delta in executor memory and keeps the recompute
      // (assignScalable is parallel there).
      val cached =
        if (batchRows <= Warehouse.boundedIdBatchRows)
          keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else keyed
      try {
        val clustered = cached
          .repartitionByRange(col("ano"), col("mes"),
            col("id_tipo"), col("id_grupo"), col("id_categoria"))
          .sortWithinPartitions(
            "ano", "mes", "id_tipo", "id_grupo", "id_categoria")
        catalog.appendDelta("fato_lancamento", clustered,
          partitionBy = Seq("ano", "mes"),
          clusterBy = Seq("id_tipo", "id_grupo", "id_categoria"))
      } finally if (cached ne keyed) cached.unpersist(blocking = false)
    }
  }

  /** The existing-fact side of the id_hash anti-join, restricted to the
    * batch's (ano, mes) months. id_hash embeds the trimmed Data field,
    * so equal hashes imply equal months — the restriction is
    * semantics-preserving, and because (ano, mes) are the fact's write
    * partitions, the existing side becomes a statically
    * partition-pruned scan: a month re-upload reads one month of
    * hashes, not the whole fact (plan shape pinned in PlanSpec). */
  private[graft] def existingFactForMerge(batchMonths: Seq[(Int, Int)]): DataFrame = {
    val pred = batchMonths.map { case (a, m) =>
      col("ano") === a && col("mes") === m
    }.reduceOption(_ || _).getOrElse(lit(false))
    catalog.table("fato_lancamento").filter(pred)
  }

  /** The full build: [[resolve]], then the five dim deltas and the fact
    * delta written concurrently, all inside one [[Catalog.transaction]].
    * Every write finishes before the transaction ends, even when one
    * fails, so no commit lands after the rollback point. Temp views of
    * the tables written are re-pointed after the snapshot flip
    * ([[Catalog.registerAll]] registers the rest). Returns per-table
    * appended row counts. */
  def run(): Map[String, Long] = catalog.transaction {
    val r = resolve()
    val dims = r.deltas.keys.toSeq.map(t => t -> Future(blocking(loadDim(t, r))))
    val fato = "fato_lancamento" -> Try(loadFato(r))
    val counts = dims.map { case (t, f) => t -> Try(Await.result(f, Duration.Inf)) } :+ fato
    counts.collectFirst { case (_, Failure(e)) => throw e }
    counts.map { case (t, n) => t -> n.get }.toMap
  }
}
