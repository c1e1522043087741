package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.YearMonth

import scala.jdk.CollectionConverters._

import graft.analytics.{Anomaly, Forecast, QualityScores}
import graft.core.Tables
import graft.model.{Materialization, Model, Runner}
import graft.models.{EurostatModels, Intermediate, Marts, Staging, TestdataRaw}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The dbt-style DAG refresh: `Runner.run` over `EurostatModels` into an
  * empty warehouse (full refresh), then incremental runs, each over its own
  * seeded revision of the raw tables (incremental append + anti-join, SCD2
  * snapshot merge, table rebuilds).
  *
  * The raw tables are the DAG's inputs, as the extractor would land them:
  * they are written once per build from `TestdataRaw.sources` (see
  * [[Land]]), outside every run; revisions go to the run's own directory.
  * Models run one at a time in `Runner.topoOrder`, each a `Runner.run`
  * call, so each model's latency is one operation (the analogue of dbt's
  * per-model `run_results.json`).
  */
final class Dag(spark: SparkSession, rawDir: String, work: String, seed: Long) {

  val asOf = Timestamp.valueOf("2026-01-10 00:00:00")
  val runId = "perfbench"
  val models: Seq[Model] = EurostatModels.models(asOf, runId)
  /** Models written to the warehouse; the rest are views. */
  val tableModels: Seq[String] =
    models.filter(_.materialization != Materialization.View).map(_.name)
  val Snapshot = "snap_gdp_history"
  val Incremental = "fct_economic_indicators"

  private val rawNames =
    Seq("raw_gdp", "raw_unemployment", "raw_inflation", "raw_population", "country_metadata")

  def landed: Boolean = rawNames.forall(n => Files.exists(Paths.get(s"$rawDir/$n/_SUCCESS")))

  def sources(revision: Option[Dag.Revision]): Map[String, DataFrame] =
    rawNames.map { n =>
      n -> spark.read.parquet(revision.flatMap(_.dirs.get(n)).getOrElse(s"$rawDir/$n"))
    }.toMap

  private def rows(name: String): (StructType, Array[Row]) = {
    val df = spark.read.parquet(s"$rawDir/$name")
    (df.schema, df.collect().sortBy(r => (r.getAs[String]("geo_code"), r.getAs[String]("time_code"))))
  }

  /** Writes the pass's revision of the raw tables (untimed). The seed and
    * the pass number pick which `raw_gdp` values change and which nations
    * gain a new period: a `raw_gdp` row for the year after the last one,
    * and `raw_unemployment` and `raw_inflation` rows for month `pass` of
    * that year. Each pass's month lies past the previous pass's, so every
    * incremental run appends one row per added nation.
    */
  def revise(pass: Int): Dag.Revision = {
    val rng = new scala.util.Random(seed * 1000003L + pass)
    val (gdpSchema, gdp) = rows("raw_gdp")
    val vi = gdpSchema.fieldIndex("value")
    val changed = rng.shuffle(gdp.indices.toList).take(3 + rng.nextInt(6)).toSet
    val revised = gdp.indices.map { i =>
      val r = gdp(i)
      if (!changed(i)) r
      else Row.fromSeq(r.toSeq.updated(vi, r.getDouble(vi) + 1.0 + rng.nextInt(50)))
    }
    val nextYear = gdp.map(_.getAs[String]("time_code").toInt).max + 1
    val month = YearMonth.of(nextYear, 1).plusMonths(pass - 1L).toString
    val (unempSchema, unemp) = rows("raw_unemployment")
    val (inflSchema, infl) = rows("raw_inflation")
    // nations with monthly rows in both tables (not the aggregate row)
    def monthlyGeos(rs: Array[Row]): Set[String] =
      rs.filter(_.getAs[String]("time_code").length >= 7).map(_.getAs[String]("geo_code")).toSet
    val geos = (monthlyGeos(unemp) intersect monthlyGeos(infl)).toList.sorted
    val addedGeos = rng.shuffle(geos).take(1 + rng.nextInt(4))
    // a nation's first row with `time` as its period and a new value
    def add(schema: StructType, rs: Array[Row], time: String, value: () => Double): Seq[Row] = {
      val Seq(ti, tl, v) = Seq("time_code", "time_label", "value").map(schema.fieldIndex)
      addedGeos.map { g =>
        val r = rs.find(_.getAs[String]("geo_code") == g).get
        Row.fromSeq(r.toSeq.updated(ti, time).updated(tl, time).updated(v, value()))
      }
    }
    def write(name: String, schema: StructType, rs: Seq[Row]): (String, String) = {
      val dir = s"$work/${name}_rev$pass"
      spark.createDataFrame(rs.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir)
      name -> dir
    }
    val dirs = Map(
      write("raw_gdp", gdpSchema,
        revised ++ add(gdpSchema, gdp, nextYear.toString, () => 1000.0 + rng.nextInt(100000))),
      write("raw_unemployment", unempSchema,
        unemp.toSeq ++ add(unempSchema, unemp, month, () => (1 + rng.nextInt(4000)) / 100.0)),
      write("raw_inflation", inflSchema,
        infl.toSeq ++ add(inflSchema, infl, month, () => (rng.nextInt(1000) - 500) / 100.0)))
    Dag.Revision(dirs, changed.size, addedGeos.size)
  }

  def runner(warehouse: String): Runner = new Runner(spark, warehouse, asOf, runId)

  /** One refresh: every model in dependency order, each timed as one
    * operation through `op` (which times it and records failures).
    */
  def refresh(r: Runner, srcs: Map[String, DataFrame],
              op: (String, () => Unit) => Unit): Unit = {
    var resolved = srcs
    r.topoOrder(models).foreach { m =>
      op(m.name, () => resolved = r.run(Seq(m), resolved))
    }
  }

  /** Rows the runner logged as written (`Runner.auditLog`). */
  def rowsLogged(r: Runner): Long = r.auditLog.map(_.split(": ").last.trim.toLong).sum

  /** (bytes, files) under a warehouse directory. */
  def diskUse(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val walk = Files.walk(root)
      try {
        val files = walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
        (files.map(p => Files.size(p)).sum, files.size.toLong)
      } finally walk.close()
    }
  }

  /** Bytes in the current version of every table model (the directory the
    * `Runner.currentVersion` pointer names, or the table's own directory).
    */
  def liveBytes(warehouse: String): Long = {
    val r = runner(warehouse)
    tableModels.map { n =>
      diskUse(r.currentVersion(n).map(v => s"$warehouse/$n/$v").getOrElse(s"$warehouse/$n"))._1
    }.sum
  }

  /** Wall ms of each layer built with the public model functions over the
    * same raw tables. Each layer reads its upstream layer pinned in memory
    * (pinned outside the timed region), so a layer's time is its own.
    */
  def layerTimes(time: (String, Seq[DataFrame]) => Double): Map[String, Double] = {
    val raw = sources(None)
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val stg = Seq(Staging.gdp(raw("raw_gdp")), Staging.population(raw("raw_population")),
      Staging.unemployment(raw("raw_unemployment")), Staging.inflation(raw("raw_inflation")))
    val staging = time("staging", stg)
    val Seq(gdp, pop, unemp, infl) = stg.map(pin)
    val annual = Intermediate.annualMetrics(gdp, pop, unemp, infl)
    val intermediateA = time("intermediate", Seq(annual))
    val annualP = pin(annual)
    val monthly = Intermediate.monthlyIndicators(unemp, infl, annualP)
    val intermediate = intermediateA + time("intermediate", Seq(monthly))
    val monthlyP = pin(monthly)
    val dim = Marts.dimCountry(raw("country_metadata"), gdp, asOf)
    val martsA = time("marts", Seq(dim))
    val dimP = pin(dim)
    val fct = Marts.fctEconomicIndicators(monthlyP, dimP, asOf, runId)
    val rpt = Marts.rptAnnualSummary(annualP, dimP, asOf, EurostatModels.AggregateCode)
    val marts = martsA + time("marts", Seq(fct, rpt))
    val fctP = pin(fct)
    val analytics = time("analytics",
      Seq(Anomaly.detect(fctP), QualityScores.score(fctP, asOf), Forecast.forecast(fctP, asOf)))
    Map("staging_ms" -> staging, "intermediate_ms" -> intermediate,
      "marts_ms" -> marts, "analytics_ms" -> analytics)
  }

  /** Row counts read back through a fresh `Runner.readTable`. */
  def counts(warehouse: String): Dag.Counts = {
    val r = runner(warehouse)
    val snap = r.readTable(Snapshot)
    val all = snap.count()
    val open = snap.filter(col("dbt_valid_to").isNull).count()
    Dag.Counts(all, open, all - open, r.readTable(Incremental).count())
  }
}

object Dag {

  /** A revision of the raw tables, written to `dirs` (table → directory):
    * `changed` existing `raw_gdp` rows get a new value and `added` nations
    * get a new period.
    */
  final case class Revision(dirs: Map[String, String], changed: Int, added: Int)

  /** Lands the raw tables: `TestdataRaw.sources` over the input tables,
    * written as parquet, as the extractor would land them.
    */
  def landRaw(spark: SparkSession, data: String, rawDir: String): Unit =
    TestdataRaw.sources(Tables(spark, data)).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$rawDir/$name")
    }

  /** Snapshot rows (all, open, closed) and incremental-model rows. */
  final case class Counts(snapshot: Long, open: Long, closed: Long, incremental: Long)
}
