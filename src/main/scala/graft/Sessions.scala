package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the mains (Bench, Verify, EntrySmoke,
  * Explain, ScaleUp): graft extensions, `local[cpus]` with one shuffle
  * partition per task slot, UTC session time zone, UI off, WARN logs. */
object Sessions {

  /** Task slots for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
