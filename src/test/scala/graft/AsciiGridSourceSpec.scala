package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** DataSource V2 `asciigrid`: .asc trees as a table — recursive suffix
  * listing, one row per grid, real column pruning.
  */
class AsciiGridSourceSpec extends SparkSpecBase {

  private lazy val dir: String = {
    val root = Files.createTempDirectory("graft-ascsrc")
    val sub = root.resolve("05")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve("a.asc"),
      "ncols 2\nnrows 2\nxllcorner 10.5\nyllcorner 20.5\ncellsize 1.5\nNODATA_value -9999\n1.0 2.0\n3.0 -9999\n")
    Files.writeString(root.resolve("b.asc"),
      "ncols 1\nnrows 1\nxllcorner 0.5\nyllcorner 0.5\ncellsize 2.5\nNODATA_value -1\n7.25\n")
    Files.writeString(root.resolve("decoy.txt"), "not a grid")
    root.toString
  }

  test("reads a recursive tree, one row per .asc, decoys skipped") {
    val df = spark.read.format("asciigrid").load(dir)
    assert(df.schema == graft.sources.asciigrid.AsciiGridTable.Schema)
    val rows = df.orderBy("path").collect()
    assert(rows.length == 2)
    val a = rows.find(_.getAs[String]("path").endsWith("a.asc")).get
    assert(a.getAs[Int]("ncols") == 2 && a.getAs[Int]("nrows") == 2)
    assert(a.getAs[Double]("cellsize") == 1.5)
    assert(a.getAs[collection.Seq[Double]]("values") == Seq(1.0, 2.0, 3.0, -9999.0))
    val b = rows.find(_.getAs[String]("path").endsWith("b.asc")).get
    assert(b.getAs[Double]("nodata") == -1.0)
    // text column round-trips through the existing parser
    assert(graft.raster.AsciiGrid.parse(b.getAs[String]("text")).values.toSeq == Seq(7.25))
  }

  test("column pruning reaches the scan (header-only projection)") {
    val df = spark.read.format("asciigrid").load(dir).select("path", "ncols")
    val leaf = df.queryExecution.executedPlan.collectLeaves().head
    val out = leaf.output.map(_.name)
    assert(out == Seq("path", "ncols"), s"scan output: $out")
    assert(df.count() == 2)
  }

  test("aggregates over headers without touching cell text") {
    val df = spark.read.format("asciigrid").load(dir)
      .agg(sum(col("ncols").cast("bigint")).as("total_cols"),
        max(col("cellsize")).as("max_cell"))
    val r = df.head()
    assert(r.getAs[Long]("total_cols") == 3L)
    assert(r.getAs[Double]("max_cell") == 2.5)
  }

  test("path filters are consumed at listing time (no post-scan Filter)") {
    val df = spark.read.format("asciigrid").load(dir)
      .filter(col("path").endsWith("b.asc"))
      .select("path", "nodata")
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("Filter "),
      s"path predicate should be fully pushed:\n$plan")
    assert(plan.toString.contains("PushedFilters"), s"plan:\n$plan")
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Double]("nodata") == -1.0)
  }

  test("MIN/MAX over header fields push into the scan") {
    val df = spark.read.format("asciigrid").load(dir)
      .agg(min(col("xllcorner")).as("min_x"), max(col("cellsize")).as("max_cell"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [MIN(xllcorner), MAX(cellsize)]"),
      s"plan:\n$plan")
    val r = df.head()
    assert(r.getAs[Double]("min_x") == 0.5 && r.getAs[Double]("max_cell") == 2.5)
  }

  test("bare COUNT(*) is answered from the listing (complete pushdown)") {
    val df = spark.read.format("asciigrid").load(dir).groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)]"), s"plan:\n$plan")
    assert(df.head().getLong(0) == 2L)
    // filtered count composes with the path pushdown: listing does both
    val filtered = spark.read.format("asciigrid").load(dir)
      .filter(col("path").contains("/05/")).groupBy().count()
    assert(filtered.head().getLong(0) == 1L)
  }

  test("header-only reads resolve center-convention headers listed before cellsize") {
    val root = Files.createTempDirectory("graft-ascsrc-center")
    Files.writeString(root.resolve("c.asc"),
      "ncols 2\nnrows 2\nxllcenter 100.0\nyllcenter 200.0\n" +
        "cellsize 10.0\nNODATA_value -9999\n1 2\n3 4\n")
    val r = spark.read.format("asciigrid").load(root.toString)
      .select("path", "xllcorner", "yllcorner").head()
    assert(r.getAs[Double]("xllcorner") == 95.0 && r.getAs[Double]("yllcorner") == 195.0, s"$r")
  }

  test("a malformed header fails the read naming the file and the key") {
    val root = Files.createTempDirectory("graft-ascsrc-bad")
    Files.writeString(root.resolve("bad.asc"),
      "ncols 1\nnrows 1\nxllcorner 0\nyllcorner 0\nNODATA_value -9999\n5\n")
    Seq(Seq("path", "ncols"), Seq("path", "values")).foreach { cols =>
      val e = intercept[Exception](
        spark.read.format("asciigrid").load(root.toString).select(cols.map(col): _*).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains("bad.asc") && msgs.contains("cellsize"), s"$cols: $msgs")
    }
  }
}
