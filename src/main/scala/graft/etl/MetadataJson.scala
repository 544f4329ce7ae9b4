package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The nested JSON metadata document (SURVEY.md §1.1 D5; built at
  * ETL.py:474–490): Mongo-extended `$date` wrappers, a GeoJSON Polygon
  * footprint, and catalog strings, serialized with `to_json(struct)`.
  *
  * `updatedAt` is a caller-supplied constant (the reference stamps
  * `datetime.now()`, ETL.py:462 — parameterized here for
  * deterministic verification, SURVEY.md §7.6.3).
  */
object MetadataJson {

  val DateMin = "1991-01-01T00:00:00Z" // ETL.py:110–112, 454
  val DateMax = "2020-12-31T00:00:00Z" // ETL.py:115–117, 458

  private def dollarDate(v: Column): Column = struct(v.as("$date"))

  /** The product's zip object path, `/{prefix}/{stem}.zip` (ETL.py:474–490). */
  def src(prefix: Column, fileStem: Column): Column =
    concat(lit("/"), prefix, lit("/"), fileStem, lit(".zip"))

  /** Assemble the document column. `coords` must be
    * array<array<array<double>>> (GeoJSON Polygon rings, ETL.py:451).
    */
  def doc(prefix: Column, fileStem: Column, title: Column, description: Column,
      coords: Column, parameter: Column, period: Column, statistic: Column,
      region: Column, updatedAt: Column): Column =
    to_json(struct(
      src(prefix, fileStem).as("src"),
      prefix.as("productRef"),
      struct(
        title.as("title"),
        description.as("description"),
        struct(lit("Polygon").as("type"), coords.as("coordinates")).as("geojson"),
        dollarDate(lit(DateMin)).as("dateMin"),
        dollarDate(lit(DateMax)).as("dateMax"),
        lit("1.0").as("version"),
        dollarDate(updatedAt).as("updatedAt"),
        parameter.as("parameter"),
        period.as("period"),
        statistic.as("statistic"),
        region.as("region"),
      ).as("metadata"),
    ))

  /** The document of one clip product, every catalog string composed
    * from the product's parameter name, statistic, period name and region
    * title (ETL.py:474–489).
    */
  def product(prefix: Column, fileStem: Column, parameterName: Column,
      statistic: Column, periodName: Column, regionTitle: Column,
      coords: Column, updatedAt: Column): Column = {
    val typeParam = Filenames.dashToSpace(parameterName)
    doc(prefix, fileStem,
      title = title(typeParam, periodName, regionTitle),
      description = description(typeParam, statistic, lit(Filenames.Normals),
        periodName, regionTitle),
      coords = coords, parameter = typeParam, period = periodName,
      statistic = statistic, region = regionTitle, updatedAt = updatedAt)
  }

  /** Title/description templates (ETL.py:478–479). */
  def title(typeParam: Column, monthSeason: Column, regionTitle: Column): Column =
    concat(lit("Climatology Grid "), typeParam, lit(" (1991-2020), "),
      monthSeason, lit(", Region: "), regionTitle)

  def description(typeParam: Column, statistic: Column, period: Column,
      monthSeason: Column, regionTitle: Column): Column =
    concat(
      lit("This dataset comprises a 500m resolution grid of climatologic normals (averages) for: Parameter: "),
      typeParam, lit("; Statistic: "), statistic, lit("; Period: "), period,
      lit("; "), monthSeason, lit("; Region: "), regionTitle)
}
