package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three code→name decode dictionaries, re-expressed as
  * dimension tables (SURVEY.md §1.1 D3; reference ETL.py:120–181).
  *
  * Each dim carries a stable `idx` (0-based position in key order) so that
  * deterministic synthetic manifests can pick an entry by `key % size` in
  * both Spark and the DuckDB oracle. A single Scala Seq is the source of
  * truth for the Spark DataFrame *and* the oracle's `VALUES` CTE text —
  * the two sides can never drift.
  *
  * At 100 TB scale these stay what they are here: tiny broadcast
  * dimensions (16–17 rows). Every decode join over them is a
  * BroadcastHashJoin with zero shuffle.
  */
object Lookups {

  /** Period token → display name (ETL.py:120–138). */
  val periods: Seq[(String, String)] = Seq(
    "monthly1"  -> "January",
    "monthly2"  -> "February",
    "monthly3"  -> "March",
    "monthly4"  -> "April",
    "monthly5"  -> "May",
    "monthly6"  -> "June",
    "monthly7"  -> "July",
    "monthly8"  -> "August",
    "monthly9"  -> "September",
    "monthly10" -> "October",
    "monthly11" -> "November",
    "monthly12" -> "December",
    "seasonal1" -> "Summer",
    "seasonal2" -> "Autumn",
    "seasonal3" -> "Winter",
    "seasonal4" -> "Spring",
    "annual"    -> "Annual",
  )

  /** Parameter code → display name (ETL.py:141–159). */
  val parameters: Seq[(String, String)] = Seq(
    "00" -> "Total-Rainfall",
    "01" -> "Wet-Days-GT-1mm",
    "02" -> "Mean-Air-Temperature",
    "03" -> "Mean-Daily-Maximum-Air-Temperature",
    "04" -> "Mean-Daily-Minimum-Air-Temperature",
    "09" -> "Total-Sunshine",
    "11" -> "Mean-Earth-Temperature-At-10cm",
    "17" -> "Mean-Daily-Global-Irradiance",
    "23" -> "Screen-Frost-Days",
    "33" -> "Mean-Daily-Wind-Speed-At-10m",
    "34" -> "Total-Penman-PET",
    "37" -> "Total-Growing-Degree-Days-GDD-base-5degC",
    "38" -> "Total-Growing-Degree-Days-GDD-base-10degC",
    "64" -> "Mean-9AM-RH",
    "68" -> "Total-Heating-Degree-Days-HDD-base-18degC",
    "74" -> "Days-Of-Soil-Moisture-Deficit",
  )

  /** Region code → display name (ETL.py:162–181). Code "99" is the
    * Chatham Islands, excluded from clipping by the reference
    * (ETL.py:272–273).
    */
  val regions: Seq[(String, String)] = Seq(
    "01" -> "Northland",
    "02" -> "Auckland",
    "03" -> "Waikato",
    "04" -> "Bay-Of-Plenty",
    "05" -> "Gisborne",
    "06" -> "Hawkes-Bay",
    "07" -> "Taranaki",
    "08" -> "Manawatu-Whanganui",
    "09" -> "Wellington",
    "12" -> "West-Coast",
    "13" -> "Canterbury",
    "14" -> "Otago",
    "15" -> "Southland",
    "16" -> "Tasman",
    "17" -> "Nelson",
    "18" -> "Marlborough",
    "99" -> "Chatham-Islands",
  )

  /** Statistic tokens used by the synthetic manifest for parts[4]
    * (the reference treats the statistic as a free token, ETL.py:251).
    */
  val statistics: Seq[String] = Seq("Mean", "Median", "StdDev")

  private def dim(spark: SparkSession, rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((code, name), i) => (i.toLong, code, name) }
      .toDF("idx", "code", "name")
  }

  def periodDim(spark: SparkSession): DataFrame    = dim(spark, periods)
  def parameterDim(spark: SparkSession): DataFrame = dim(spark, parameters)
  def regionDim(spark: SparkSession): DataFrame    = dim(spark, regions)

  /** Region code of the Chatham Islands (ETL.py:181). */
  val ChathamIslands = "99"

  /** PRJ-3: every region but the Chatham Islands is clipped
    * (ETL.py:272–273).
    */
  def clipped(regionCode: Column): Column = regionCode =!= ChathamIslands

  private def regionKeyed(regions: DataFrame, extra: Seq[Column]): DataFrame =
    broadcast(regions.select(
      extra ++ Seq(col("code").as("region_code"), col("name").as("region_name")): _*))

  /** Region code → name, keyed for a broadcast join on `region_code`
    * (ETL.py:275).
    */
  def regionNames(spark: SparkSession): DataFrame = regionKeyed(regionDim(spark), Nil)

  /** JOIN-1's region side: the clipped regions of a `code, name, …` dim
    * as the `extra` columns followed by `region_code`, `region_name`,
    * broadcast.
    */
  def clipRegions(regions: DataFrame, extra: Column*): DataFrame =
    regionKeyed(regions.filter(clipped(col("code"))), extra)

  /** A region's raw title as the feature layer spells it (ETL.py:276–279
    * reads it back): "<name, dashes as spaces> Region", and
    * "Area Outside Region" for the Chatham Islands.
    */
  def rawTitle(code: Column, name: Column): Column =
    when(code === ChathamIslands, lit("Area Outside Region"))
      .otherwise(concat(Filenames.dashToSpace(name), lit(" Region")))

  /** The default region dimension (`code, name, raw_title, wkt`): every
    * reference region with one NZTM box covering all of New Zealand, so
    * each clip keeps its whole grid.
    */
  def fullCoverRegions(spark: SparkSession): DataFrame =
    regionDim(spark).select(col("code"), col("name"),
      rawTitle(col("code"), col("name")).as("raw_title"),
      lit("POLYGON ((1000000 4700000, 2200000 4700000, 2200000 6300000, " +
        "1000000 6300000, 1000000 4700000))").as("wkt"))

  // ---- DuckDB oracle text (same data, VALUES form) -------------------

  private def valuesCte(alias: String, rows: Seq[(String, String)]): String = {
    val vals = rows.zipWithIndex
      .map { case ((code, name), i) => s"($i, '$code', '$name')" }
      .mkString(", ")
    s"$alias(idx, code, name) AS (SELECT * FROM (VALUES $vals) t(idx, code, name))"
  }

  /** CTE bodies for the DuckDB oracle; compose as
    * `WITH ${Lookups.periodCte}, ${Lookups.parameterCte}, ...`.
    */
  val periodCte: String    = valuesCte("period_dim", periods)
  val parameterCte: String = valuesCte("parameter_dim", parameters)
  val regionCte: String    = valuesCte("region_dim", regions)

  val statisticCte: String = {
    val vals = statistics.zipWithIndex
      .map { case (s, i) => s"($i, '$s')" }.mkString(", ")
    s"stat_dim(idx, stat) AS (SELECT * FROM (VALUES $vals) t(idx, stat))"
  }
}
