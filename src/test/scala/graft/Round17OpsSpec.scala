package graft

import graft.queries.MultimodalQueries

/** Independent references for the round-17 operators. */
class Round17OpsSpec extends SparkSpecBase {

  test("fpband recall: found pairs are a subset of truth and the forced cap " +
      "is restored after the build") {
    val before = spark.conf.getOption("spark.graft.band.cap")
    val row =
      try MultimodalQueries.queries("q_fpband_recall")(spark, sf).head()
      finally graft.queries.QueryCaches.releaseAll(spark)
    // the query sets the cap conf internally; it must restore the
    // session state (shared across every later suite)
    assert(spark.conf.getOption("spark.graft.band.cap") == before,
      "q_fpband_recall leaked spark.graft.band.cap into the session")
    val nTrue = row.getAs[Long]("n_true_pairs")
    val nFound = row.getAs[Long]("n_found")
    val recall = row.getAs[Long]("recall_pm")
    assert(nTrue > 0L, "fixture produced no true near-dup pairs")
    assert(nFound >= 0L && nFound <= nTrue,
      s"found $nFound outside [0, $nTrue] — capped pairs must be ⊆ plain")
    assert(recall == nFound * 10000L / nTrue, "recall arithmetic")
    // every injected +1-bump copy is Hamming ≤ 6 of its base and the
    // plain path finds them all, so truth covers at least those
    import org.apache.spark.sql.functions._
    val nInjected = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 4 === 0 && col("doc_id") % 3 === 0).count()
    assert(nTrue >= nInjected,
      s"truth $nTrue < injected dup count $nInjected")
  }
}
