package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JBool, JDecimal, JDouble, JInt, JNothing, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse}

/** The benchmark over every `SparkEntry` query: [[measure]] times the
  * suite passes with the canaries interleaved, [[record]] summarizes
  * them into the one [[Record]] the detail file carries, and
  * [[adjudicate]] compares two records. `main` writes the detail file
  * ([[detailJson]]) and prints the one-line summary ([[summaryJson]]).
  */
object Bench {
  /** Fixed headline subset for the one-line summary. The driver captures only
    * the last ~2000 chars of output, so the printed JSON line must stay well
    * under that; the full per-query map (all ~120 queries) goes to
    * BENCH_DETAIL.json instead. Chosen to span every operator family:
    * agg/join/window, dedup, ANN, text, raster, geo, streaming, sources.
    */
  private val headline = Set(
    "q_agg_pricing", "q_sql_multi_join", "q_window_rank", "q_rollup", "q_join_topk",
    "q_skew_join_salted", "q_asof_join", "q_range_join", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_simhash_pairs", "q_ann_cosine", "q_ann_lsh", "q_ann_ivf",
    "q_tfidf", "q_heavy_hitters", "q_lang_ngram", "q_raster_stats", "q_clip_raster",
    "q_spatial_join", "q_reproject_4326", "q_stream_tumbling", "q_stream_stream_join",
    "q_stream_session", "q_feature_source", "q_partitioned_source", "q_product_catalog",
    "q_embedding_near_dup", "q_url_canonical", "q_ngram_novelty", "q_mix_sample",
    "q_semantic_cluster", "q_fuzzy_join", "q_runtime_filter", "q_passage_overlap",
    "q_split_leakage", "q_ann_ivf_probe2", "q_skew_join_aqe", "q_scalar_subquery",
    "q_containment", "q_pipeline_e2e", "q_span_dedup", "q_phrase_rank",
    "q_kmv_intersect", "q_freq_itemsets", "q_confusion_matrix")

  /** The committed-base fixture dir; full runs anywhere else write an
    * sf-suffixed detail file instead of the base (see detailName).
    */
  private val DefaultSfDir = "/root/testdata/sf0.1"

  /** A canary's [pass, position, seconds] samples. */
  private[graft] type Series = Seq[(Int, Int, Double)]

  /** One query's median timed pass: its build/plan/exec split (they add
    * up to the recorded median time) and the jobs, stages and tasks it
    * started. Record-only: no gate reads it.
    */
  private[graft] final case class Split(build: Double, plan: Double, exec: Double,
      jobs: Double, stages: Double, tasks: Double) {
    def total: Double = build + plan + exec
  }

  /** One bench run as the detail file carries it and [[adjudicate]]
    * reads it. Per query: the median over passes (`med`, the detail's
    * "queries" map and the comparison base), the median excluding pass
    * 1 (`warm`), the fastest and slowest pass (`min`/`max`, the
    * "minmax" pairs; a base's `max` is each query's OWN recorded
    * variance band), the first error and the median pass's split. Then
    * the CPU, I/O, stage and job canary series with their summaries
    * (the CPU-canary median is the machine-speed index the band
    * comparison normalizes by), the filesystem write canary (the
    * environment key for sink-heavy queries), the metadata canary, the
    * pass count and the canonical sf dir. A base read from an older
    * detail may lack any of the optional parts.
    */
  private[graft] final case class Record(
      sf: String, passes: Int, med: Map[String, Double],
      warm: Map[String, Double] = Map.empty, min: Map[String, Double] = Map.empty,
      max: Map[String, Double] = Map.empty, errors: Map[String, String] = Map.empty,
      phases: Map[String, Split] = Map.empty,
      canary: Series = Nil, ioCanary: Series = Nil,
      stageCanary: Series = Nil, jobCanary: Series = Nil,
      canaryMed: Option[Double] = None, loadRatio: Option[Double] = None,
      ioCanaryMed: Option[Double] = None, ioLoadRatio: Option[Double] = None,
      stageCanaryMed: Option[Double] = None, jobCanaryMed: Option[Double] = None,
      fsCanary: Option[Double] = None, metaCanary: Option[Double] = None)

  /** Detail-file write routing (VERDICT r18 #2): a bench run must never
    * overwrite the committed regression base in place — the r18 driver
    * run left a looser 271.5 s detail sitting over the adjudicated
    * 256.9 s base in the working tree, one accidental `git add` away
    * from weakening every future band. Every run writes
    * `<base>_LAST.json`; the base name is written ONLY when the
    * operator explicitly promotes (SPARK_GRAFT_PROMOTE_BASE=1) AND the
    * run passed its own adjudication gate (promoting a load-poisoned
    * run is refused even when asked — parsePrevBase would reject it on
    * the next run anyway, but the refusal belongs at write time).
    */
  private[graft] def detailRoutes(
      baseName: String, promote: Boolean,
      unadjudicated: Boolean): (String, Option[String]) = {
    val last = baseName.stripSuffix(".json") + "_LAST.json"
    (last, if (promote && !unadjudicated) Some(baseName) else None)
  }

  /** Queries whose timed body WRITES through the local filesystem
    * (temp-dir sinks), making their wall time a property of the host's
    * filesystem as much as of the code: q_pipeline_e2e measured a
    * tight 1.82 s in the driver container vs a tight 3.17 s
    * builder-local on IDENTICAL code (r17 adjudication — ROUND17_NOTES
    * Part 5). These rows are compared only like-for-like: when the
    * fs write-canary moved >1.5× between base and current run, their
    * min-basis flags route to the advisory "regressions_cross_env"
    * key instead of the gating "regressions" (VERDICT r17 #4).
    */
  private[graft] val SinkHeavy: Set[String] = Set("q_pipeline_e2e")

  /** A detail file's parsed JSON as a [[Record]]. Absent parts stay
    * empty; a present part of the wrong shape throws.
    */
  private[graft] def fromJson(j: JValue): Record = {
    def num(v: JValue): Option[Double] = v match {
      case JDouble(x) => Some(x)
      case JDecimal(x) => Some(x.toDouble)
      case JInt(x) => Some(x.toDouble)
      case _ => None
    }
    def fields(k: String) = j \ k match { case JObject(fs) => fs; case _ => Nil }
    def nums(k: String) = fields(k).flatMap { case (q, v) => num(v).map(q -> _) }.toMap
    def minmax(i: Int) = fields("minmax").collect {
      case (q, JArray(pair)) if pair.size == 2 => q -> num(pair(i)).get
    }.toMap
    def series(k: String): Series = j \ k match {
      case JArray(xs) => xs.collect { case JArray(List(p, pos, t)) =>
        (num(p).get.toInt, num(pos).get.toInt, num(t).get) }
      case _ => Nil
    }
    def one(k: String) = num(j \ k)
    Record(
      sf = (j \ "sf") match { case JString(s) => s; case _ => "" },
      passes = one("passes").fold(0)(_.toInt),
      med = nums("queries"), warm = nums("warm"),
      min = minmax(0), max = minmax(1),
      errors = fields("errors").collect { case (q, JString(e)) => q -> e }.toMap,
      phases = fields("phases").map { case (q, p) =>
        def n(k: String) = num(p \ k).get
        q -> Split(n("build"), n("plan"), n("exec"), n("jobs"), n("stages"), n("tasks"))
      }.toMap,
      canary = series("canary"), ioCanary = series("io_canary"),
      stageCanary = series("stage_canary"), jobCanary = series("job_canary"),
      canaryMed = one("canary_med"), loadRatio = one("load_ratio"),
      ioCanaryMed = one("io_canary_med"), ioLoadRatio = one("io_load_ratio"),
      stageCanaryMed = one("stage_canary_med"), jobCanaryMed = one("job_canary_med"),
      fsCanary = one("fs_canary"), metaCanary = one("meta_canary"))
  }

  /** Parse a previous detail file into the regression base, or refuse
    * it with the reason. Two refusals: a detail measured at another
    * sfDir (not like-for-like), and — the r12 hole — one flagged
    * `"unadjudicated": true`. An unadjudicated detail is a
    * load-poisoned run whose medians are inflated suite-wide (the r12
    * driver run sat ~18% over the same-code quiet base); silently
    * adopting it as the base would make regressions up to that
    * inflation invisible on the NEXT run. The docs' "never use a
    * flagged run as a base" rule is enforced here in code, so even a
    * poisoned file that does get committed (it happened: the r12
    * driver committed one) cannot poison the next comparison.
    */
  private[graft] def parsePrevBase(
      txt: String, sfDir: String): Either[String, Record] = {
    val j = parse(txt)
    if (j \ "unadjudicated" == JBool(true))
      Left("flagged \"unadjudicated\": true (load-poisoned run) — not a " +
        "citable regression base; restore an adjudicated detail file")
    else if (j \ "sf" != JString(sfDir))
      Left("measured at a different sf dir — not like-for-like")
    else Right(fromJson(j))
  }

  /** Read the previous run's detail file as the comparison base. A
    * missing file, a refused one and an unreadable one all mean
    * "nothing compared" — the latter two say so on stderr, naming the
    * file, so a gate that passes for lack of a base leaves a trace.
    */
  private[graft] def readPrevBase(file: java.io.File, sfDir: String): Record = {
    val emptyBase = Record(sfDir, 0, Map.empty)
    if (!file.exists()) emptyBase
    else try {
      val src = scala.io.Source.fromFile(file, "UTF-8")
      val txt = try src.mkString finally src.close()
      parsePrevBase(txt, sfDir) match {
        case Right(m) => m
        case Left(reason) =>
          System.err.println(s"[bench] PREV BASE REFUSED (${file.getPath}): $reason")
          emptyBase
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] PREV BASE UNREADABLE (${file.getPath}): $e")
        emptyBase
    }
  }

  /** The median pass by total time — the phase-wise mean of the two
    * middle passes for an even count — so its total is the median.
    */
  private[graft] def medianSplit(xs: Seq[Split]): Split = {
    val t = xs.sortBy(_.total)
    val (a, b) = (t((t.size - 1) / 2), t(t.size / 2))
    Split((a.build + b.build) / 2, (a.plan + b.plan) / 2, (a.exec + b.exec) / 2,
      (a.jobs + b.jobs) / 2, (a.stages + b.stages) / 2, (a.tasks + b.tasks) / 2)
  }

  /** One query's timed passes: seconds per pass in pass order (a failed
    * pass counts its time to the throw), its first error, and the
    * median pass's split (absent when any pass failed).
    */
  private[graft] final case class QueryTimes(
      times: Vector[Double], err: Option[String], split: Option[Split])

  /** Everything the timed passes measured: per-query times in name
    * order, and the series of the CPU, I/O, stage and job canaries.
    */
  private[graft] final case class Measured(queries: Seq[(String, QueryTimes)],
      canary: Series, ioCanary: Series, stageCanary: Series, jobCanary: Series)

  /** Seconds of the fastest of `n` runs of `body`. */
  private def bestOf(n: Int)(body: => Any): Double = (1 to n).map { _ =>
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }.min

  private def tmpDir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** Run `queries` for `passes` timed suite passes on `spark`, with the
    * canaries interleaved (see the design notes inside).
    */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      passes: Int): Measured = {
    // Per query: run `passes` times, keep the median (and the spread). A
    // broken query must surface as an "err" entry, never as a near-zero
    // wall time flattering the total. Run order is RANDOMIZED per pass
    // (deterministic seed = pass index, so runs are reproducible): a
    // fixed order leaks a query's neighbors (GC debt, page-cache state)
    // into its median; shuffling turns that bias into symmetric noise.
    //
    // A mid-suite query can pay collector debt from the executions
    // before it. An untimed System.gc() between queries was tried and
    // REVERTED (it cost the rest of the suite more than it recovered):
    // profile an in-suite-only regression's allocation first.
    //
    // MEASUREMENT DESIGN: passes are interleaved at SUITE level — whole
    // suite pass 1, then pass 2, then pass 3 — not back-to-back per
    // query, whose passes would share one load window so that a burst
    // of co-located load poisons all of them and the median is no
    // defense. Minutes between a query's passes decorrelate the load
    // windows. A fixed trivial CANARY (in-memory range-sum, no IO, plan
    // compiled once) is timed every `canaryEvery` queries: a flat canary
    // under a regressed query implicates the code, an elevated one the
    // machine. Cache release between queries is NOT timed.
    val baseOrder = queries.sortBy(_._1)
    val canaryEvery = 20
    val canaryDf = spark.range(4000000).selectExpr("sum(id * 3 + 1) as s")
    // Each canary sample is the MIN of two back-to-back collects: at
    // 10×/20× fixtures the run's OWN GC debt lands on the first collect
    // after a query; the second measures the machine. Sustained external
    // load inflates both and still flags.
    def canaryTime(): Double = bestOf(2)(canaryDf.collect())
    // I/O canary: a one-column scan of a fixed tiny parquet (footer
    // parse + one column decode per sample, never cached), so the
    // filesystem contention the CPU canary is blind to shows up here.
    val ioCanaryDf = spark.read.parquet(s"$sfDir/nation.parquet")
      .selectExpr("sum(n_nationkey) as s")
    def ioCanaryTime(): Double = bestOf(2)(ioCanaryDf.collect())
    // MULTI-STAGE canary (VERDICT r18 #4): 8 chained repartition
    // exchanges over 2M constant rows + one sum. The CPU canary
    // under-reads PER-STAGE overhead shifts (scheduling, shuffle
    // write/read): an r18 host phase slowed 15–30-stage queries 1.5–1.9×
    // while it read 1.07× (docs/LEVEL_SHIFTS.md). A FRESH DataFrame per
    // sample forces fresh lineage while codegen stays cached; each
    // sample = min of 3 executions.
    def mkStageCanaryDf(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{col, lit}
      var df = spark.range(1 << 21)
        .select((col("id") % 65536).as("k"), col("id").as("v"))
      var i = 0
      while (i < 8) { df = df.repartition(col("k") + lit(i)); i += 1 }
      df.selectExpr("sum(v) as s")
    }
    def stageCanaryTime(): Double = bestOf(3)(mkStageCanaryDf().queryExecution.toRdd.count())
    // JOB-LAUNCH canary: 16 trivial single-task jobs back-to-back, min
    // of 3, once per pass — per-job scheduler turnaround, which
    // streaming drains and multi-sink pipelines pay dozens of times per
    // query while the other canaries amortize it. RECORD-ONLY, like
    // meta_canary.
    val jobCanaryRdd = spark.sparkContext.parallelize(Seq(1), 1)
    def jobCanaryTime(): Double = bestOf(3)((1 to 16).foreach(_ => jobCanaryRdd.count()))
    canaryTime(); ioCanaryTime() // untimed compile/JIT of the canary plans
    Harness.attempt("[bench] stage canary warm-up")(stageCanaryTime())
    Harness.attempt("[bench] job canary warm-up")(jobCanaryTime())
    val canarySeries, ioCanarySeries, stageCanarySeries, jobCanarySeries =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    val timesBy = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val splitsBy = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Split]]
    val errBy = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // UNTIMED pass 0: execute every selected query once before any timed
    // pass. Write-once side stores (bucketed layouts, round-trip copies,
    // IVF/PQ memos) are built on first touch and would otherwise land in
    // the pass-1 time of whichever query the shuffle ordered first, and
    // a cold execution reads 3–5× its steady state from codegen/JIT/
    // first read. A failure here is printed (a prebuild OOM poisons
    // every timed pass) and recorded again by the timed passes.
    baseOrder.foreach { case (name, fn) =>
      Harness.timedRun(spark, sfDir, fn).left.foreach(f => System.err.println(
        s"[bench] prebuild $name failed: ${f.error.getClass.getName}"))
    }
    // jobs/stages/tasks per timed run: counts are taken (after the
    // listener bus drains, outside the timed window) right before and
    // right after each run, so canary jobs never land on a query
    val counter = new Harness.JobCounter(spark)
    try for (pass <- 1 to passes) {
      var pos = 0
      // one stage-canary sample per suite pass: heavier than the CPU/IO
      // canaries (8 shuffles), so it rides at pass boundaries rather
      // than every 20 queries — 3 samples across a run span the same
      // wall-clock window the queries do
      Harness.attempt("[bench] stage canary")(stageCanaryTime())
        .foreach(t => stageCanarySeries += ((pass, 0, t)))
      Harness.attempt("[bench] job canary")(jobCanaryTime())
        .foreach(t => jobCanarySeries += ((pass, 0, t)))
      // fresh deterministic shuffle per pass: same seed → same order on a
      // re-run of the same pass, different order across passes
      val order = new scala.util.Random(7919L * pass).shuffle(baseOrder)
      order.foreach { case (name, fn) =>
        if (pos % canaryEvery == 0) {
          canarySeries += ((pass, pos, canaryTime()))
          ioCanarySeries += ((pass, pos, ioCanaryTime()))
        }
        counter.take()
        val run = Harness.timedRun(spark, sfDir, fn)
        val (jobs, stages, tasks) = counter.take()
        run match {
          case Right(p) =>
            timesBy(name) = timesBy.getOrElse(name, Vector.empty) :+ p.total
            splitsBy(name) = splitsBy.getOrElse(name, Vector.empty) :+
              Split(p.build, p.plan, p.exec, jobs, stages, tasks)
          case Left(f) =>
            timesBy(name) = timesBy.getOrElse(name, Vector.empty) :+ f.seconds
            if (!errBy.contains(name)) errBy(name) = Option(f.error.getMessage)
              .getOrElse(f.error.getClass.getName).take(200)
        }
        pos += 1
      }
      canarySeries += ((pass, pos, canaryTime()))
      ioCanarySeries += ((pass, pos, ioCanaryTime()))
    } finally counter.close()
    Measured(
      baseOrder.map { case (name, _) =>
        val err = errBy.get(name)
        name -> QueryTimes(timesBy(name), err,
          if (err.isEmpty) Some(medianSplit(splitsBy(name))) else None)
      },
      canarySeries.toSeq, ioCanarySeries.toSeq,
      stageCanarySeries.toSeq, jobCanarySeries.toSeq)
  }

  /** Filesystem WRITE canary — the environment key for sink-heavy
    * queries (VERDICT r17 #4): q_pipeline_e2e's wall time is dominated
    * by temp-dir sink writes, and identical code measured a tight
    * 1.82 s in the driver container vs 3.17 s builder-local — a
    * filesystem property, not a regression. One 256 KiB create +
    * fsync + delete in java.io.tmpdir (where the sinks write), min of
    * 3, measured once per run: the READ canary (ioCanaryDf) can't see
    * write-path differences (page cache absorbs reads on both hosts).
    * Sink-heavy min-basis flags gate only when this canary is
    * like-for-like between base and current run.
    */
  private def fsWriteCanaryTime(): Double = {
    val buf = new Array[Byte](256 * 1024)
    bestOf(3) {
      val f = java.nio.file.Files.createTempFile(tmpDir, "graft_fsc", ".tmp")
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true) }
      finally ch.close()
      java.nio.file.Files.delete(f)
    }
  }

  /** Small-file METADATA canary: 64 files × (create + 1 KiB write +
    * atomic rename + delete), min of 3, once per run — the namespace
    * cost of the multi-sink pipeline queries, which the fsync-dominated
    * write canary under-reads (ROUND20_NOTES §9: q_pipeline_e2e 1.3–1.5×
    * above band on identical code with every other canary flat).
    * RECORD-ONLY: no gating factor until a committed base carries a
    * reference median (the stage-canary arming discipline).
    */
  private def metaCanaryTime(): Double = {
    val buf = new Array[Byte](1024)
    bestOf(3)((1 to 64).foreach { _ =>
      val f = java.nio.file.Files.createTempFile(tmpDir, "graft_mc", ".tmp")
      java.nio.file.Files.write(f, buf)
      val g = f.resolveSibling(f.getFileName.toString + ".mv")
      java.nio.file.Files.move(f, g, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      java.nio.file.Files.delete(g)
    })
  }

  /** Canary load index: (median, load ratio) of a series. load_ratio =
    * p90/median of the series EXCLUDING the first sample, which still
    * carries JIT/page-cache warm-in; p90 over max keeps one stray blip
    * from owning the index. ≈1.0 = quiet machine for the whole run; >>1
    * = load-poisoned windows (the series says WHICH). A regressed query
    * under flat canaries implicates the code.
    */
  private[graft] def loadIdx(series: Series): (Double, Double) = {
    val s = (if (series.size > 2) series.drop(1) else series).map(_._3).sorted
    if (s.isEmpty) (0.0, 1.0)
    else {
      val m = Harness.median(s)
      val p90 = s(math.min(s.size - 1, math.ceil(0.9 * s.size).toInt - 1))
      (m, if (m > 0) p90 / m else 1.0)
    }
  }

  /** Median of a pass-boundary canary series (stage, job): only
    * `passes` samples, so over all of them (their own warmup already
    * ran untimed before pass 1).
    */
  private[graft] def seriesMed(series: Series): Double =
    if (series.isEmpty) 0.0 else Harness.median(series.map(_._3))

  /** Summarize the timed passes into this run's [[Record]]. */
  private[graft] def record(sf: String, passes: Int, m: Measured,
      fsCanary: Double, metaCanary: Double): Record = {
    def per(f: Vector[Double] => Double) =
      m.queries.map { case (k, q) => k -> f(q.times) }.toMap
    val (canaryMed, loadRatio) = loadIdx(m.canary)
    val (ioCanaryMed, ioLoadRatio) = loadIdx(m.ioCanary)
    Record(sf, passes,
      med = per(Harness.median),
      // warm = median EXCLUDING suite-pass 1, which absorbs this plan's
      // codegen/JIT and (for cache-building queries) the first
      // population of driver-side sketches — the cold/warm gap is the
      // per-query answer to "is this a regression or a warmup cost"
      warm = per(t => if (t.size > 1) Harness.median(t.drop(1)) else t.head),
      min = per(_.min), max = per(_.max),
      errors = m.queries.collect { case (k, QueryTimes(_, Some(e), _)) => k -> e }.toMap,
      phases = m.queries.collect { case (k, QueryTimes(_, _, Some(p))) => k -> p }.toMap,
      canary = m.canary, ioCanary = m.ioCanary,
      stageCanary = m.stageCanary, jobCanary = m.jobCanary,
      canaryMed = Some(canaryMed), loadRatio = Some(loadRatio),
      ioCanaryMed = Some(ioCanaryMed), ioLoadRatio = Some(ioLoadRatio),
      stageCanaryMed = Some(seriesMed(m.stageCanary)),
      jobCanaryMed = Some(seriesMed(m.jobCanary)),
      fsCanary = Some(fsCanary), metaCanary = Some(metaCanary))
  }

  /** Regression-report rows: (query, now, prev), largest move first. */
  private[graft] type Rows = Seq[(String, Double, Double)]

  /** The comparison of a run with its base. `regressions` is the gate;
    * the `_cross_env`, `_stage_env` and `_median` lists are advisory.
    * `unadjudicated` flags a run that is not a citable measurement.
    */
  private[graft] final case class Verdict(
      canaryFactor: Double, stageFactor: Double, crossEnv: Boolean,
      regressions: Rows, regressionsCrossEnv: Rows, regressionsStageEnv: Rows,
      regressionsMedian: Rows, improvements: Rows,
      nCompared: Int, dispFrac2: Double, unadjudicated: Boolean)

  /** Compare `cur` with the base `prev` (an empty base compares
    * nothing). Pure: the same two records always give the same verdict.
    */
  private[graft] def adjudicate(cur: Record, prev: Record): Verdict = {
    // Regression report vs the prior round's base: flag movement ≥30%
    // AND ≥0.3 s — the absolute floor keeps millisecond queries' jitter out.
    def moved(now: Double, before: Double): Boolean =
      math.abs(now - before) >= 0.3 &&
        math.abs(now - before) >= 0.3 * math.min(now, before)
    // REGRESSIONS: a gating flag means "this query exceeded its OWN
    // recorded variance band even after normalizing out the
    // machine-speed shift", not "was a sub-second query on a busy host".
    // Three layers:
    //  (a) BASIS is min-over-passes vs the base median: host load
    //      inflates medians suite-wide but rarely all passes of one query.
    //  (b) CANARY NORMALIZATION: a uniform machine shift (docs/
    //      LEVEL_SHIFTS.md) inflates every pass, so this run's min
    //      divides by max(1, canary_now/canary_base) before comparing
    //      (only slow-downs normalize; a quieter machine must not
    //      manufacture regressions in the other direction).
    //  (c) VARIANCE BAND: the normalized min must also exceed the base
    //      run's MAX-over-passes for that query — sub-second queries
    //      whose pass-to-pass spread is wider than the 30% rule are
    //      absorbed by their own band.
    // IMPROVEMENTS stay median-based and unnormalized — a lucky fast
    // pass (or hotter base machine) must not claim a win the typical
    // pass doesn't show. Errored queries are excluded from BOTH
    // comparisons, not just the dispersion gate: a fast-fail's min can
    // never flag as a regression (it IS fast), so without this filter a
    // broken query would surface as the round's biggest "improvement" —
    // n_err and the errors map are the only honest channel for it.
    def factor(now: Option[Double], base: Option[Double]): Double =
      (for (p <- base if p > 0; n <- now if n > 0) yield math.max(1.0, n / p))
        .getOrElse(1.0)
    val canaryFactor = factor(cur.canaryMed, prev.canaryMed)
    // stage factor (VERDICT r18 #4): the same max(1, now/base) rule as
    // the CPU factor, measured on the 8-stage shuffle chain. Gating
    // normalizes by max(canaryFactor, stageFactor): a genuine ≥30%-
    // above-band code regression survives division by a measured
    // fixed-job host factor, while the r18-style per-stage host phase
    // (stage canary 1.5×, CPU canary 1.07×) stops manufacturing flags
    // that only an old-code A/B could clear. Rows a canary-only rule
    // WOULD have flagged ride along under "regressions_stage_env" so
    // the absorption is visible, never silent. The A/B protocol
    // (docs/LEVEL_SHIFTS.md) stays as escalation for flags surviving
    // both factors.
    val stageFactor = factor(cur.stageCanaryMed, prev.stageCanaryMed)
    val normFactor = math.max(canaryFactor, stageFactor)
    // sink-heavy rows compare like-for-like only: fs write-canary moved
    // >1.5× in either direction ⇒ different storage environment
    val crossEnv = (for (p <- prev.fsCanary if p > 0; n <- cur.fsCanary if n > 0)
      yield n / p > 1.5 || p / n > 1.5).getOrElse(false)
    val ok = cur.med.keys.toSeq.sorted.filterNot(cur.errors.contains)
    def fastest(k: String) = cur.min.getOrElse(k, cur.med(k))
    val compared = ok.flatMap(k => prev.med.get(k).map(p => (k, cur.med(k), p)))
    val banded = compared.map { case (k, _, p) =>
      val band = math.max(p, prev.max.getOrElse(k, p))
      (k, fastest(k) / normFactor, fastest(k) / canaryFactor, p, band)
    }
    val regressedAll = banded.collect {
      case (k, normMin, _, p, band) if normMin > band && moved(normMin, p) =>
        (k, normMin, p)
    }
    // visibility for the stage-factor absorption: rows the canary-only
    // rule would flag but the stage factor clears (advisory, non-gating)
    val regressedStageEnv = banded.collect {
      case (k, normMin, cpuMin, p, band)
          if !(normMin > band && moved(normMin, p)) &&
            cpuMin > band && moved(cpuMin, p) =>
        (k, cpuMin, p)
    }
    val (regressedEnv, regressed) =
      regressedAll.partition { case (k, _, _) => crossEnv && SinkHeavy(k) }
    val improved = compared.filter { case (_, now, p) => now < p && moved(now, p) }
    // ADVISORY median-basis list (r12 ADVICE): the min basis filters
    // load-inflated false positives but is blind to a regression whose
    // best pass stays fast while warm passes got slower (cache/GC
    // behavior). The median comparison rides along under its own key —
    // visible, but never the gating "regressions"/"n_regressed" signal,
    // so it can't re-manufacture the r11 false-positive storm.
    val regressedMed = compared.filter { case (_, now, p) => now > p && moved(now, p) }
    // HARD GATE: the load indicator is per-query DISPERSION — the share
    // of queries (above a 50 ms noise floor) whose median sits >2× their
    // own fastest pass. Sustained load poisons whole passes, so a
    // poisoned run's medians detach from their minima suite-wide (round
    // 10: 3.9% of queries over the 2× line vs 0.5% on a controlled run
    // of identical code). The canary p90/median is a secondary signal
    // that only gates at 1.5: with ~36 samples one in-canary GC pause
    // jerks the p90. A flagged run is NOT a citable measurement: both
    // JSON outputs carry "unadjudicated": true and a loud stderr banner,
    // and its numbers must never be committed as a regression base or
    // quoted as a round-over-round delta. Errored queries are excluded:
    // a fast-fail's med/min ratio is not a load signal.
    val dispRatios = ok.collect { case k if fastest(k) > 0.05 => cur.med(k) / fastest(k) }
    val dispFrac2 =
      if (dispRatios.isEmpty) 0.0 else dispRatios.count(_ > 2.0).toDouble / dispRatios.size
    val unadjudicated = dispFrac2 > 0.02 ||
      cur.loadRatio.exists(_ > 1.5) || cur.ioLoadRatio.exists(_ > 1.5)
    def largestFirst(xs: Rows): Rows = xs.sortBy { case (_, now, p) => -(now - p).abs }
    Verdict(canaryFactor, stageFactor, crossEnv,
      largestFirst(regressed), largestFirst(regressedEnv),
      largestFirst(regressedStageEnv), largestFirst(regressedMed),
      largestFirst(improved), compared.size, dispFrac2, unadjudicated)
  }

  /** `x` at `scale` decimals, half-up — the digits `%.<scale>f` prints. */
  private def dec(x: Double, scale: Int): JValue =
    JDecimal(BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP))

  /** `m` as a JSON object in key order, each value through `f`. */
  private def byName[T](m: Map[String, T])(f: T => JValue): JObject =
    JObject(m.toList.sortBy(_._1).map { case (k, x) => k -> f(x) })

  /** The detail file: `r` and its verdict `v`, one compact JSON object.
    * "queries" holds the medians (what the next run reads back as its
    * base). The measurement basis rides in every artifact (r16 break
    * lesson): a future round diffing two files with different "basis"
    * values is comparing across the count()→toRdd break and must stop.
    */
  private[graft] def detailJson(r: Record, v: Verdict): JObject = {
    def opt(x: Option[Double], scale: Int): JValue = x.fold[JValue](JNothing)(dec(_, scale))
    def series(s: Series): JValue =
      JArray(s.toList.map { case (p, pos, t) => JArray(List(JInt(p), JInt(pos), dec(t, 4))) })
    def rows(xs: Rows): JValue = JObject(xs.toList.map { case (k, now, p) =>
      k -> JObject("prev" -> dec(p, 3), "now" -> dec(now, 3),
        "ratio" -> dec(now / math.max(p, 1e-9), 2))
    })
    JObject(
      "metric" -> JString("total"), "value" -> JDouble(r.med.values.sum),
      "unit" -> JString("sec"), "unadjudicated" -> JBool(v.unadjudicated),
      "basis" -> JString("toRdd"), "disp_frac2" -> dec(v.dispFrac2, 4),
      "warm_total" -> dec(r.warm.values.sum, 3), "n_queries" -> JInt(r.med.size),
      "passes" -> JInt(r.passes), "queries" -> byName(r.med)(dec(_, 6)),
      "warm" -> byName(r.warm)(dec(_, 6)),
      "minmax" -> byName(r.min.map { case (k, mn) => k -> (mn, r.max(k)) }) {
        case (mn, mx) => JArray(List(dec(mn, 6), dec(mx, 6))) },
      "phases" -> byName(r.phases)(p => JObject("build" -> dec(p.build, 6),
        "plan" -> dec(p.plan, 6), "exec" -> dec(p.exec, 6), "jobs" -> dec(p.jobs, 1),
        "stages" -> dec(p.stages, 1), "tasks" -> dec(p.tasks, 1))),
      "canary" -> series(r.canary), "canary_med" -> opt(r.canaryMed, 4),
      "load_ratio" -> opt(r.loadRatio, 2), "io_canary" -> series(r.ioCanary),
      "io_canary_med" -> opt(r.ioCanaryMed, 4), "io_load_ratio" -> opt(r.ioLoadRatio, 2),
      "fs_canary" -> opt(r.fsCanary, 5), "meta_canary" -> opt(r.metaCanary, 5),
      "stage_canary" -> series(r.stageCanary), "stage_canary_med" -> opt(r.stageCanaryMed, 4),
      "job_canary" -> series(r.jobCanary), "job_canary_med" -> opt(r.jobCanaryMed, 4),
      "canary_factor" -> dec(v.canaryFactor, 3), "stage_factor" -> dec(v.stageFactor, 3),
      "cross_env" -> JBool(v.crossEnv), "regression_basis" -> JString("norm_min_vs_prev_band"),
      "regressions" -> rows(v.regressions), "regressions_cross_env" -> rows(v.regressionsCrossEnv),
      "regressions_stage_env" -> rows(v.regressionsStageEnv),
      "regressions_median" -> rows(v.regressionsMedian),
      "improvements" -> rows(v.improvements), "n_compared" -> JInt(v.nCompared),
      "n_regressed" -> JInt(v.regressions.size), "n_improved" -> JInt(v.improvements.size),
      "n_err" -> JInt(r.errors.size),
      "errors" -> (if (r.errors.isEmpty) JNothing else byName(r.errors)(JString(_))),
      "sf" -> JString(r.sf))
  }

  /** Detail fields the summary line leaves out. */
  private val DetailOnly = Set("warm", "minmax", "phases", "canary", "io_canary",
    "stage_canary", "job_canary", "cross_env", "regression_basis", "regressions",
    "regressions_cross_env", "regressions_stage_env", "regressions_median",
    "improvements", "n_compared", "errors")

  /** The one-line summary (it must fit the driver's ~2000-char tail):
    * the detail's fields minus [[DetailOnly]], the total at 3 decimals,
    * "queries" cut to the [[headline]] subset at 3 decimals, and the
    * detail file's path.
    */
  private[graft] def summaryJson(r: Record, v: Verdict, detailPath: String): JObject =
    JObject(detailJson(r, v).obj.flatMap {
      case (k, _) if DetailOnly(k) => Nil
      case ("value", _) => List("value" -> dec(r.med.values.sum, 3))
      case ("queries", _) => List("queries" -> byName(r.med.filter(q => headline(q._1)))(dec(_, 3)))
      case ("sf", sf) => List("detail" -> JString(detailPath), "sf" -> sf)
      case f => List(f)
    })

  def main(args: Array[String]): Unit = {
    // canonicalized ONCE and used for reads, the prev-base sf guard,
    // the detail-file routing, and the emitted "sf" field alike — a
    // trailing slash or '.' spelling must not make those checks
    // disagree (one would overwrite the base while the other stops
    // comparing against it)
    val sfDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)).getCanonicalPath
    // One measurement is not a signal: the same 119-query suite measured
    // 88.6 s and 151.4 s on identical code in round 5 (JIT/GC/page-cache
    // phase). Per-query MEDIAN of `passes` runs is what gets reported and
    // compared across rounds; min/max ride along in the detail file so the
    // spread itself is visible.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // fixture-schema tripwire (non-fatal here — the bench should still
    // measure whatever runs — but drift gets named up front instead of
    // surfacing as an opaque per-query error cluster)
    Harness.attempt("[bench] fixture contract check") {
      graft.sources.FixtureContract.violations(spark, sfDir)
        .foreach(v => System.err.println(s"[bench] FIXTURE CONTRACT: $v"))
    }
    // optional comma-separated subset for local iteration
    // (SPARK_GRAFT_ONLY=q_a,q_b); full suite when unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Detail-file routing, decided ONCE and used for both the prev-base
    // READ and this run's write: a SPARK_GRAFT_ONLY subset run must NOT
    // overwrite the full-suite detail file (the committed cross-round
    // regression base), and neither may a full-suite run at a
    // NON-canonical sfDir (a scale fixture, a local sf0.001 iteration)
    // — one once overwrote the working-tree base in place (r12). Alt
    // runs get a PER-SF file (basename + a short path digest so
    // same-named dirs can't clobber each other), and read their prev
    // base from the SAME per-sf file, so cross-run regression
    // comparison works at scale fixtures too.
    val detailName =
      if (only.isDefined) "BENCH_DETAIL_SUBSET.json"
      else if (sfDir != new java.io.File(DefaultSfDir).getCanonicalPath) {
        val base = new java.io.File(sfDir).getName
          .replaceAll("[^A-Za-z0-9._-]", "_")
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        s"BENCH_DETAIL_${base}_$md5.json"
      } else "BENCH_DETAIL.json"

    // Previous run's record, read BEFORE this run overwrites the detail
    // file — the committed base (or the per-sf sibling for alt runs) is
    // the comparison base for the regression report.
    val prev = readPrevBase(new java.io.File(detailName), sfDir)
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (k, _) => set(k) }
      case None => SparkEntry.queries
    }
    val fsCanary = Harness.attempt("[bench] fs write canary")(fsWriteCanaryTime()).getOrElse(0.0)
    val metaCanary = Harness.attempt("[bench] meta canary")(metaCanaryTime()).getOrElse(0.0)
    val cur = record(sfDir, passes, measure(spark, sfDir, selected.toSeq, passes),
      fsCanary, metaCanary)
    val verdict = adjudicate(cur, prev)
    if (verdict.unadjudicated) System.err.println(
      f"[bench] UNADJUDICATED RUN: disp_frac2=${verdict.dispFrac2}%.3f (gate 0.02) " +
        f"load_ratio=${cur.loadRatio.getOrElse(1.0)}%.2f " +
        f"io_load_ratio=${cur.ioLoadRatio.getOrElse(1.0)}%.2f (gate 1.5) " +
        "— machine was not quiet; re-run before citing these numbers")

    // Write routing: always the _LAST sibling; the committed base name
    // only on explicit adjudicated promotion (detailRoutes scaladoc).
    val promote = sys.env.getOrElse("SPARK_GRAFT_PROMOTE_BASE", "0") == "1"
    val (lastName, promotedName) = detailRoutes(detailName, promote, verdict.unadjudicated)
    if (promote && promotedName.isEmpty) System.err.println(
      "[bench] PROMOTION REFUSED: run is unadjudicated — the committed " +
        s"base $detailName stays untouched; re-run on a quiet window")
    val detailPath = new java.io.File(lastName).getAbsolutePath
    val detail = compact(detailJson(cur, verdict))
    (lastName +: promotedName.toSeq).foreach(n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(n), detail + "\n"))
    promotedName.foreach(n =>
      System.err.println(s"[bench] promoted this adjudicated run to base $n"))
    println(compact(summaryJson(cur, verdict, detailPath)))
    spark.stop()
  }
}
