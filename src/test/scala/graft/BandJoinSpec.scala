package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftPlanBridge, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.plans.BandJoin
import graft.plans.BandJoin.Cap
import graft.queries.{MultimodalQueries, QueryCaches, SimilarityQueries}

/** The shared LSH band self-join: its drop counter (a named metric
  * logged by one session listener, never a per-build thread) and the
  * embedding near-dup route above the small-corpus gate.
  */
class BandJoinSpec extends SparkSpecBase {

  import spark.implicits._

  /** `degN` docs sharing one key on all 4 bands, a twin pair agreeing
    * on its own keys, and a singleton (Round20OpsSpec's shape).
    */
  private def degenerateBands(degN: Int) = {
    def docs(ids: Seq[Long], key: String) = ids.toDF("doc_id")
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", concat(lit(key), col("band")))
    docs(0L until degN.toLong, "deg")
      .unionByName(docs(Seq(100000L, 100001L), "twin"))
      .unionByName(docs(Seq(200000L), "lone"))
  }

  /** Records the observed metrics of every Dataset action in `body`. */
  private def observed(body: => Unit): ConcurrentLinkedQueue[(String, Row)] = {
    val seen = new ConcurrentLinkedQueue[(String, Row)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.foreach(seen.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body finally {
      // the listener bus delivers asynchronously: wait for the events
      // of `body` before unregistering
      eventually(timeout(Span(30, Seconds))) { assert(!seen.isEmpty) }
      spark.listenerManager.unregister(listener)
    }
    seen
  }

  private def dropCounts(seen: ConcurrentLinkedQueue[(String, Row)],
      family: String): Seq[Long] =
    seen.asScala.toSeq.collect {
      case (name, row) if name.startsWith(s"graft.band.$family.") =>
        row.getAs[Long]("n_dropped")
    }

  test("building and explaining capped band joins starts no thread " +
    "waiting on an Observation") {
    def waiting = Thread.getAllStackTraces.asScala.collect {
      case (t, stack) if t.isAlive &&
          stack.exists(_.getClassName.contains("Observation")) => t.getName
    }
    BandJoin.pairs(degenerateBands(30), Seq("band", "bkey"), "doc_id",
      "minhash", Cap.Forced(5L), 0L).explain()
    try MultimodalQueries.queries("q_fpband_recall")(spark, sf).explain()
    finally QueryCaches.releaseAll(spark)
    assert(waiting.isEmpty, s"threads parked on an Observation: $waiting")
  }

  test("a forced cap's drop count reaches a listener as a graft.band metric; " +
    "the logging listener is registered once per session") {
    val seen = observed {
      val pairs = BandJoin.pairs(degenerateBands(250), Seq("band", "bkey"),
        "doc_id", "minhash", Cap.Forced(25L), 0L).collect()
      assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((100000L, 100001L)))
    }
    // 250 docs × 4 bands of the block, nothing else
    eventually(timeout(Span(30, Seconds))) {
      assert(dropCounts(seen, "minhash") === Seq(1000L))
    }
    BandJoin.pairs(degenerateBands(3), Seq("band", "bkey"), "doc_id",
      "minhash", Cap.Forced(2L), 0L)
    val logging = GraftPlanBridge.listeners(spark)
      .filter(_.getClass.getName.startsWith(BandJoin.getClass.getName))
    assert(logging.size === 1)
  }

  test("nearDupPairs above the small-corpus gate: pairs are a subset of " +
    "brute-force cosine ≥ 0.99 and every exact duplicate is found, " +
    "including a block whose band keys are all over the cap") {
    graft.plans.VecKernels.register(spark)
    val rnd = new scala.util.Random(7)
    def gaussian(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0L until 3900L).map(id => id -> gaussian())
    // 40 near-copies (tiny noise) and a 250-row block of one vector:
    // occupancy 250 > BandKeyCap on all 4 bands, so only the
    // exact-equality pass can pair the block
    val near = base.take(40).map { case (id, v) =>
      (id + 10000L) -> v.map(x => x + 0.003f * rnd.nextGaussian().toFloat)
    }
    val blockVec = gaussian()
    val block = (0L until 250L).map(i => (20000L + i) -> blockVec)
    val rows = base ++ near ++ block
    assert(rows.size > SimilarityQueries.SmallCorpusCutoff)
    assert(250 > SimilarityQueries.BandKeyCap)

    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var d = 0
      while (d < a.length) { s += a(d).toDouble * b(d).toDouble; d += 1 }
      s
    }
    def sim(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sorted = rows.sortBy(_._1).toArray
    val truth = (for {
      i <- sorted.indices.iterator
      j <- (i + 1 until sorted.length).iterator
      s = sim(sorted(i)._2, sorted(j)._2)
      if s >= 0.99
    } yield (sorted(i)._1, sorted(j)._1) -> s).toMap
    val exact = (for {
      i <- sorted.indices
      j <- i + 1 until sorted.length
      if java.util.Arrays.equals(sorted(i)._2, sorted(j)._2)
    } yield (sorted(i)._1, sorted(j)._1)).toSet
    assert(exact.size === 250 * 249 / 2)

    val corpus = rows.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
    var found = Map.empty[(Long, Long), Double]
    val seen = observed {
      found = SimilarityQueries.nearDupPairs(corpus).collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          r.getAs[Double]("sim")).toMap
    }
    found.foreach { case (p, s) =>
      assert(truth.get(p).contains(s), s"$p (sim $s) is not a brute-force pair")
    }
    assert(exact.subsetOf(found.keySet),
      s"${(exact -- found.keySet).size} exact duplicate pairs missing")
    assert((found.keySet -- exact).nonEmpty, "no near-copy pair found")
    // the capped route ran: it dropped every band row of a key over the
    // cap — the block's 250 × 4 plus any organically hot key
    val hotRows = corpus
      .select(posexplode(expr("vec_bands(embedding)")).as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val").count()
      .filter(col("count") > SimilarityQueries.BandKeyCap)
      .agg(sum("count")).head().getLong(0)
    assert(hotRows >= 1000L)
    eventually(timeout(Span(30, Seconds))) {
      assert(dropCounts(seen, "embedding") === Seq(hotRows))
    }
  }
}
