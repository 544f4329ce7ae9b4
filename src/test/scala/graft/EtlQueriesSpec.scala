package graft

import org.apache.spark.sql.functions._
import graft.queries.EtlQueries

class EtlQueriesSpec extends SparkSpecBase {

  test("every ETL query runs and returns rows at sf0.001") {
    EtlQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every ETL query has an oracle") {
    assert(EtlQueries.queries.keySet == EtlQueries.oracles.keySet)
  }

  test("filename decode round-trips the grammar (PRJ-1)") {
    val rows = EtlQueries.queries("q_parse_filename")(spark, sf)
      .filter(col("base_name") === "grid_02_NZ_norm_StdDev_1991-2020_monthly7")
      .collect()
    if (rows.nonEmpty) {
      val r = rows.head
      assert(r.getAs[String]("parameter_code") == "02")
      assert(r.getAs[String]("statistic") == "StdDev")
      assert(r.getAs[String]("period_token") == "monthly7")
    }
    // decode of a literal, independent of manifest contents
    import spark.implicits._
    val one = Seq("grid_02_NZ_norm_Mean_1991-2020_monthly7").toDF("b")
      .select(
        graft.etl.Filenames.parameterCode(col("b")).as("p"),
        graft.etl.Filenames.statistic(col("b")).as("s"),
        graft.etl.Filenames.periodToken(col("b")).as("t"))
      .head()
    assert(one.getString(0) == "02" && one.getString(1) == "Mean" && one.getString(2) == "monthly7")
  }

  test("rename composes parameter/statistic/period display names (ETL.py:251)") {
    val df = EtlQueries.queries("q_rename_lookup")(spark, sf)
      .filter(col("base_name").startsWith("grid_02_NZ_norm_Mean_1991-2020_monthly7"))
    df.collect().foreach { r =>
      assert(r.getAs[String]("new_file_name") ==
        "Mean-Air-Temperature_Mean_1991-2020_July")
    }
  }

  test("rename keeps only names whose parameter code and period token are known") {
    import spark.implicits._
    val df = graft.etl.Filenames.rename(Seq(
      "grid_02_NZ_norm_Mean_1991-2020_monthly7",
      "grid_98_NZ_norm_Mean_1991-2020_monthly7", // no parameter 98
      "grid_02_NZ_norm_Mean_1991-2020_monthly13", // no period monthly13
    ).toDF("base_name"))
    assert(df.select("base_name", "new_file_name").as[(String, String)].collect().toSeq ==
      Seq("grid_02_NZ_norm_Mean_1991-2020_monthly7" -> "Mean-Air-Temperature_Mean_1991-2020_July"))
  }

  test("title normalization: ' Region' stripped, Area→Chatham Islands (ETL.py:276–279)") {
    val m = EtlQueries.queries("q_title_normalize")(spark, sf)
      .collect().map(r => r.getAs[String]("region_code") -> r.getAs[String]("title")).toMap
    assert(m("99") == "Chatham Islands")
    assert(m("06") == "Hawkes Bay")
    assert(m("13") == "Canterbury")
  }

  test("s3 key strips slashes but keeps reference's '/'-prefix quirk (ETL.py:389–393)") {
    import spark.implicits._
    val df = Seq(
      ("/climate/grids/", "f.zip"),
      ("climate/grids", "f.zip"),
      ("/", "f.zip"),
      ("", "f.zip"),
    ).toDF("prefix", "name")
      .select(graft.etl.Filenames.s3Key(col("prefix"), col("name")).as("k"))
    assert(df.as[String].collect().toSeq ==
      Seq("climate/grids/f.zip", "climate/grids/f.zip", "/f.zip", "f.zip"))
  }

  test("region 99 excluded from cross product (ETL.py:272)") {
    val codes = EtlQueries.queries("q_cross_join_regions")(spark, sf)
      .select("region_code").distinct().collect().map(_.getString(0)).toSet
    assert(!codes.contains("99") && codes.size == 16)
  }

  test("zip grouping excludes lockfiles (ETL.py:330–334)") {
    val df = EtlQueries.queries("q_zip_group")(spark, sf)
    assert(df.filter(col("entries").contains(".lock")).count() == 0)
    assert(df.filter(col("n_entries") =!= 4).count() == 0)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("cross join plans as broadcast join, no shuffle of the file side") {
    val plan = EtlQueries.queries("q_cross_join_regions")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast join in plan:\n$plan")
  }
}
