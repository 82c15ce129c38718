package graft.ledger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.LedgerFunctions._

/** Entry point 1 (SURVEY §3.1): CSV → validate → hash → normalize →
  * staging overwrite. One lazy DataFrame chain; the reference's eager
  * pandas steps (reference app/app.py:17-79) become one cheap action
  * (the null audit) and one write job.
  */
object Ingest {

  final case class Rejected(missingColumns: Seq[String], violations: DataFrame)
    extends RuntimeException(
      s"validation failed: missing=${missingColumns.mkString(",")}")

  /** Read the ledger CSV with the reference's parse config
    * (sep=",", quote='"', header; reference app/app.py:22). The
    * Brazilian decimal format is NOT handled by the reader — `Valor`
    * stays a raw string so the dedup hash sees pre-normalization bytes
    * (SURVEY §1.4-1).
    */
  def readCsv(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("sep", ",").option("quote", "\"")
      .option("header", "true").option("encoding", "UTF-8")
      .schema(Schemas.csvSchema)
      .csv(csvPath)

  /** The staging transform: blanks→null, Valor fillna "0", raw-value
    * id_hash, then money normalization — in exactly the reference's
    * order (app/app.py:65-67: fillna, hash, THEN normalize).
    */
  def toStaging(df: DataFrame): DataFrame = {
    val filled = Validate.normalizeBlanks(df)
      .withColumn("Valor", coalesce(col("Valor"), lit("0")))
    filled
      .withColumn("id_hash", ledgerHash(
        col("Tipo"), col("Grupo"), col("Categoria"),
        col("Data"), col("Descrição"), col("Valor")))
      .withColumn("Valor", parseBrazilianMoney(col("Valor")).cast(DecimalType(15, 2)))
      .select(Schemas.stagingSchema.fieldNames.map(col): _*)
  }

  /** Full ingestion: validate (strict = throw with the violation report,
    * mirroring the reference's hard stop at app/app.py:53-62), transform,
    * overwrite staging. Permissive mode routes offending rows to
    * `rejects_lancamentos` with the violated-column list (SURVEY
    * §1.4-7) instead of failing the batch. Returns the staged count.
    */
  def run(catalog: Catalog, csvPath: String, strict: Boolean = true): Long = {
    val raw = readCsv(catalog.spark, csvPath)
    val v = Validate(raw)
    if (strict && !v.ok()) throw Rejected(v.missingColumns, v.violations)
    val normalized = Validate.normalizeBlanks(raw)
    val clean =
      if (strict) raw
      else {
        val motivo = array_join(array_compact(array(
          Schemas.requiredColumns.map(c => when(col(c).isNull, lit(c))): _*)), ",")
        val rejected = normalized
          .withColumn("motivo", motivo)
          .filter(col("motivo") =!= "")
          .select(Schemas.rejects.fieldNames.map(col): _*)
        catalog.replace("rejects_lancamentos", rejected)
        normalized.na.drop(Schemas.requiredColumns)
      }
    catalog.replace("staging_lancamentos", toStaging(clean))
    // exact, from the staging commit's parquet footers: no count job
    catalog.stats("staging_lancamentos").rows
  }
}
