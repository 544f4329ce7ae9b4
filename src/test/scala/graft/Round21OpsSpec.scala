package graft

import org.apache.spark.sql.functions._

/** Independent references for the round-21 optimization work: the two
  * ScaleGate-routed scale shapes (q_ntile_window banded ranks,
  * q_pack_sequences chunked prefix sums) pinned row-identical to their
  * window-route twins — including degenerate gate parameters that force
  * band/chunk boundaries through the middle of every group — and the
  * q_skew_join_aqe fresh-scan dim pinned against the old lineage dim.
  */
class Round21OpsSpec extends SparkSpecBase {

  import spark.implicits._

  private def rows(name: String, confs: (String, String)*): Seq[org.apache.spark.sql.Row] = {
    var out: Seq[org.apache.spark.sql.Row] = Seq.empty
    withConf(confs: _*) {
      out = SparkEntry.queries(name)(spark, sf).collect().toSeq
      graft.queries.QueryCaches.releaseAll(spark)
    }
    out
  }

  test("q_ntile_window: banded-rank route is row-identical to the window " +
    "route, under the default band step, a many-band step, and a " +
    "degenerate one-band step") {
    val window = rows("q_ntile_window", "spark.graft.ntile.shape" -> "window")
    assert(window.nonEmpty)
    // default step (50.0)
    assert(rows("q_ntile_window", "spark.graft.ntile.shape" -> "rank") === window)
    // tiny step: every acctbal value becomes (nearly) its own band —
    // offsets do all the work
    assert(rows("q_ntile_window", "spark.graft.ntile.shape" -> "rank",
      "spark.graft.ntile.bandStep" -> "0.01") === window)
    // huge step: one band per segment — the within-band window does all
    // the work (degenerates to the plain shape's partition)
    assert(rows("q_ntile_window", "spark.graft.ntile.shape" -> "rank",
      "spark.graft.ntile.bandStep" -> "1000000000") === window)
    // auto at fixture scale stays on the plain window plan
    val auto = SparkEntry.queries("q_ntile_window")(spark, sf)
    assert(auto.queryExecution.executedPlan.toString.contains("ntile("),
      "fixture-scale auto route must keep the plain window plan")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ntile_window: banded route handles 1-row and n<k segments " +
    "(percent_rank 0.0 branch, ntile n<buckets branch)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_cust_").toString
    Seq(
      (40L, 10.0, "SOLO"),
      (10L, 5.0, "TRIO"), (20L, 5.0, "TRIO"), (30L, 7.5, "TRIO")
    ).toDF("c_custkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def r(confs: (String, String)*): Seq[org.apache.spark.sql.Row] = {
      var out: Seq[org.apache.spark.sql.Row] = Seq.empty
      withConf(confs: _*) {
        out = SparkEntry.queries("q_ntile_window")(spark, dir).collect().toSeq
        graft.queries.QueryCaches.releaseAll(spark)
      }
      out
    }
    val window = r("spark.graft.ntile.shape" -> "window")
    assert(window.size === 4)
    assert(r("spark.graft.ntile.shape" -> "rank") === window)
    assert(r("spark.graft.ntile.shape" -> "rank",
      "spark.graft.ntile.bandStep" -> "1") === window)
  }

  test("q_pack_sequences: chunked route is row-identical to the window " +
    "route, including chunk boundaries through the middle of every " +
    "sequence (chunkDocs=4) and one-doc chunks (chunkDocs=1)") {
    val window = rows("q_pack_sequences", "spark.graft.pack.shape" -> "window")
    assert(window.nonEmpty)
    assert(rows("q_pack_sequences", "spark.graft.pack.shape" -> "chunk") === window)
    assert(rows("q_pack_sequences", "spark.graft.pack.shape" -> "chunk",
      "spark.graft.pack.chunkDocs" -> "4") === window)
    assert(rows("q_pack_sequences", "spark.graft.pack.shape" -> "chunk",
      "spark.graft.pack.chunkDocs" -> "1") === window)
  }

  test("q_pack_sequences: chunked route keeps NULL-source rows grouped " +
    "exactly as the window route (null-safe re-attach join)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_docs_").toString
    Seq[(java.lang.Long, String, String)](
      (1L, "a b c", null), (2L, "d e", null), (3L, "f", null),
      (4L, "g h i j", "s1"), (5L, "k", "s1")
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def r(confs: (String, String)*): Seq[org.apache.spark.sql.Row] = {
      var out: Seq[org.apache.spark.sql.Row] = Seq.empty
      withConf(confs: _*) {
        out = SparkEntry.queries("q_pack_sequences")(spark, dir).collect().toSeq
        graft.queries.QueryCaches.releaseAll(spark)
      }
      out
    }
    val window = r("spark.graft.pack.shape" -> "window")
    assert(window.map(_.getString(0)).contains(null),
      "fixture must exercise a NULL source group")
    assert(r("spark.graft.pack.shape" -> "chunk",
      "spark.graft.pack.chunkDocs" -> "2") === window)
  }

  test("q_skew_join_aqe: fresh-scan dim is row-identical to the lineage " +
    "dim (same distinct key set)") {
    val fresh = rows("q_skew_join_aqe")
    assert(fresh.nonEmpty)
    // the original shape: the dim derived from the repartitioned fact
    val fact = spark.read.parquet(s"$sf/lineitem.parquet").repartition(8)
      .select(when(col("l_orderkey") % 10 < 8, 0L)
        .otherwise(col("l_orderkey")).as("k"), col("l_extendedprice"))
    val dim = fact.select("k").distinct().repartition(8)
      .withColumn("tag", col("k") % 7)
    val lineage = fact.hint("merge").join(dim, "k")
      .groupBy("tag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(24,6)"))
          .cast("double"), 2).as("rev"))
      .orderBy("tag")
    assert(lineage.collect().toSeq === fresh)
  }
}
