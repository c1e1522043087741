package perfbench

import org.apache.spark.sql.SparkSession

/** Lands the DAG's raw tables once per build, before any run:
  * `TestdataRaw.sources` over the input tables, written as parquet to the
  * directory every `dag_refresh` run reads them from.
  *
  * Usage: `perfbench.Land <input dir> <raw dir> <scratch dir>`
  */
object Land {
  def main(argv: Array[String]): Unit = {
    val Array(data, raw, scratch) = argv
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("perfbench-land")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    try Dag.landRaw(spark, data, raw) finally spark.stop()
  }
}
