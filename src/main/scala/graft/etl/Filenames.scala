package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's filename algebra as pure Column expressions
  * (SURVEY.md §1.3; parse sites ETL.py:243–255, 417–425), and the one
  * decode → rename path every product name goes through.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * — no UDFs — so the whole decode stays inside whole-stage codegen and
  * filters over decoded fields can still be pushed around by Catalyst.
  */
object Filenames {

  /** The climate-normals period every product covers (ETL.py:251, 479). */
  val Normals = "1991-2020"

  /** `base_name` of an `.asc` path: the file name without its `.asc`
    * suffix (ETL.py:243).
    */
  def baseName(path: Column): Column =
    element_at(split(element_at(split(path, "/"), -1), "\\.asc$"), 1)

  /** `parts = base_name.split("_")` (ETL.py:244). */
  def parts(base: Column): Column = split(base, "_")

  /** `parameter_code = parts[1]` (ETL.py:246). element_at is 1-based. */
  def parameterCode(base: Column): Column = element_at(parts(base), 2)

  /** `statistic = parts[4]` (ETL.py:251). */
  def statistic(base: Column): Column = element_at(parts(base), 5)

  /** `parts[-1]`, the period token (ETL.py:248). */
  def periodToken(base: Column): Column = element_at(parts(base), -1)

  /** Region code from the parent directory of a path (ETL.py:234:
    * `os.path.basename(os.path.dirname(file_path))`).
    */
  def regionCodeFromPath(path: Column): Column =
    element_at(split(path, "/"), -2)

  /** `new_file_name` recomposition (ETL.py:251):
    * `{parameter_name}_{statistic}_1991-2020_{period_name}`.
    * Takes already-decoded display names (from the dim joins).
    */
  def newFileName(parameterName: Column, statistic: Column,
      periodName: Column): Column =
    concat_ws("_", parameterName, statistic, lit(Normals), periodName)

  /** PRJ-1: the three positional decodes of a `base_name` column, added
    * as `parameter_code`, `statistic` and `period_token`.
    */
  def decode(bases: DataFrame): DataFrame = bases
    .withColumn("parameter_code", parameterCode(col("base_name")))
    .withColumn("statistic", statistic(col("base_name")))
    .withColumn("period_token", periodToken(col("base_name")))

  /** PRJ-2 + JOIN-2: decode, look the parameter and period codes up in
    * their broadcast dims (adding `parameter_name` / `period_name`) and
    * compose `new_file_name` (ETL.py:244–255). The lookups are inner
    * joins: a name with an unknown parameter code or period token yields
    * no row (the reference aborts on that `KeyError`, SURVEY.md §2.4).
    */
  def rename(bases: DataFrame): DataFrame = {
    val spark = bases.sparkSession
    val pDim = broadcast(Lookups.parameterDim(spark)
      .select(col("code").as("parameter_code"), col("name").as("parameter_name")))
    val tDim = broadcast(Lookups.periodDim(spark)
      .select(col("code").as("period_token"), col("name").as("period_name")))
    decode(bases)
      .join(pDim, "parameter_code")
      .join(tDim, "period_token")
      .withColumn("new_file_name",
        newFileName(col("parameter_name"), col("statistic"), col("period_name")))
  }

  /** Clipped-raster name (ETL.py:290–293):
    * `{new_file_name}_{region_name}.tif`.
    */
  def clippedName(newFileName: Column, regionName: Column): Column =
    concat(concat_ws("_", newFileName, regionName), lit(".tif"))

  /** Title normalization (ETL.py:276–279): strip a trailing " Region",
    * then map any "Area…" remainder to "Chatham Islands". A title starts
    * with "Area" exactly when its part before the first " Region" does,
    * so the test reads the raw title.
    */
  def normalizeTitle(rawTitle: Column): Column =
    when(rawTitle.startsWith("Area"), lit("Chatham Islands"))
      .otherwise(split(rawTitle, " Region").getItem(0))

  /** Dash→space display form (ETL.py:421). */
  def dashToSpace(c: Column): Column = translate(c, "-", " ")

  /** S3 object key (ETL.py:389–393): for a truthy prefix,
    * `f"{prefix.strip('/')}/{file_name}"`; else the bare file name.
    * Faithful to the Python even for the degenerate prefix "/" (strips
    * to empty but still yields a leading-slash key, because the branch
    * tests the ORIGINAL prefix).
    */
  def s3Key(prefix: Column, fileName: Column): Column = {
    val stripped = trim(prefix, "/")
    when(length(coalesce(prefix, lit(""))) > 0,
      concat(stripped, lit("/"), fileName)).otherwise(fileName)
  }
}
