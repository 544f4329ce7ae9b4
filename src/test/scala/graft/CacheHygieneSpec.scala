package graft

import graft.queries.{DedupQueries, QueryCaches, SimilarityQueries}

/** Caches registered by query builders must be releasable: after consuming
  * a cache-using query and calling QueryCaches.releaseAll, the session
  * holds no persistent RDDs (VERDICT r2 item 6 — long-lived sessions were
  * accumulating band tables / bucketed embeddings per query).
  */
class CacheHygieneSpec extends SparkSpecBase {

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel.useMemory || rdd.getStorageLevel.useDisk => id
    }.toSet

  test("cache-using queries leave no persistent RDDs after releaseAll") {
    QueryCaches.releaseAll(spark) // clean slate
    val before = persistentIds
    DedupQueries.queries("q_dedup_minhash")(spark, sf).count()
    SimilarityQueries.queries("q_ann_lsh")(spark, sf).count()
    // set-diff, not size compare: the ContextCleaner can drop
    // PRE-EXISTING entries mid-test, which would mask newly registered
    // caches behind a flat or shrinking count
    assert((persistentIds -- before).nonEmpty, "expected the queries to register caches")
    QueryCaches.releaseAll(spark)
    // unpersist(blocking=false) is async at the block level but the
    // registry drops the references synchronously and marks the RDDs
    // non-persistent, which is what getPersistentRDDs reflects. Compare
    // SETS (new ids only): pre-existing entries may be dropped by the
    // ContextCleaner mid-test, so a count comparison is racy.
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"persistent RDDs leaked: $leaked")
  }

  test("deferred cleanup hooks unwind in LIFO order") {
    // nested conf-restore hooks for the same key must replay newest-first,
    // or the earliest (pre-change) value gets overwritten by a later hook
    // that captured the already-changed value
    val order = scala.collection.mutable.Buffer.empty[Int]
    QueryCaches.defer(() => order += 1)
    QueryCaches.defer(() => order += 2)
    QueryCaches.releaseAll(spark)
    assert(order.toSeq == Seq(2, 1))
  }

  test("Pipeline.run leaves no persistent RDDs behind") {
    QueryCaches.releaseAll(spark)
    val before = persistentIds
    val work = java.nio.file.Files.createTempDirectory("graft-cache-spec").toString
    val in = s"$work/in/05"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(in, "grid_02_NZ_norm_Mean_1991-2020_monthly7.asc"),
      graft.raster.GridGen.genText(0))
    import spark.implicits._
    val regions = Seq(("05", "Gisborne", "Gisborne Region",
      "POLYGON ((1590000 4990000, 1700000 4990000, 1700000 5100000, 1590000 5100000, 1590000 4990000))"))
      .toDF("code", "name", "raw_title", "wkt")
    val res = graft.etl.Pipeline.run(spark, s"$work/in", regions,
      s"$work/out", updatedAt = "2026-01-01T00:00:00Z")
    assert(res.catalog.count() > 0)
    val leaked = persistentIds -- before
    assert(leaked.isEmpty, s"Pipeline leaked: $leaked")
  }

  test("a failing deferred hook is logged by name and the later hooks still run") {
    val order = scala.collection.mutable.Buffer.empty[Int]
    QueryCaches.defer(() => order += 1)
    QueryCaches.defer(() => throw new IllegalStateException("boom"), "restore of conf k")
    QueryCaches.defer(() => order += 3)
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try QueryCaches.releaseAll(spark) finally System.setErr(stderr)
    assert(order.toSeq == Seq(3, 1))
    val log = err.toString("UTF-8")
    assert(log.contains("[caches] restore of conf k failed: " +
      "java.lang.IllegalStateException: boom"), log)
  }

  test("q_pipeline_e2e leaves no output tree behind after a timed run") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def trees = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_pipe_e2e_")).toSet
    val before = trees
    val run = Harness.timedRun(spark, sf, SparkEntry.queries("q_pipeline_e2e"))
    assert(run.isRight, run)
    assert((trees -- before).isEmpty, s"left behind: ${trees -- before}")
  }
}
