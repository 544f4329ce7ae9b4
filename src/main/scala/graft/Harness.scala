package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}

/** The run harness every entry point shares (Bench, Verify, Explain,
  * PipelineMain and the tools): one local session recipe, one untimed
  * warm-up and one timed query run.
  */
object Harness {

  /** Local cores, and the default shuffle partition count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** `"k=v;k2=v2"` → ordered conf pairs; entries without `=` are skipped. */
  def parseConf(spec: String): Seq[(String, String)] = spec
    .split(";").map(_.trim).filter(_.contains("="))
    .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    .toSeq

  /** The local session: `local[cores]`, `partitions` shuffle partitions,
    * UTC, no UI, then the session confs in SPARK_GRAFT_EXTRA_CONF
    * (`"k=v;…"`, applied last so a conf candidate can be measured or its
    * plan dumped without code edits), the log level and no `.crc`
    * sidecars on local writes (S3Sink.disableLocalWriteChecksums).
    * `getOrCreate`: a session already running in this JVM is reused and
    * takes only the runtime SQL confs.
    */
  def session(cores: Int = cpus, partitions: Int = cpus,
      logLevel: String = "WARN"): SparkSession = {
    val extra = parseConf(sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", ""))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    if (extra.nonEmpty) System.err.println(
      s"[harness] extra conf: ${extra.map { case (k, v) => s"$k=$v" }.mkString("; ")}")
    spark.sparkContext.setLogLevel(logLevel)
    graft.sinks.S3Sink.disableLocalWriteChecksums(spark)
    spark
  }

  /** Runs a step whose failure must not stop the run. A non-fatal
    * failure is printed to stderr as `"<what> failed: <exception>"` and
    * yields None.
    */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch { case NonFatal(e) => System.err.println(s"$what failed: $e"); None }

  /** Untimed warm-up: JIT, codegen, session init and the first parquet
    * open would otherwise land on whichever query runs first.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    attempt("[harness] warm-up") {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    }
    ()
  }

  /** One successful run's driver/executor split, in seconds: `build` is
    * DataFrame construction and analysis (`fn(spark, dir)`), `plan` is
    * optimization and physical planning (`executedPlan`), `exec` is the
    * cluster-side execution (`toRdd.count()`).
    */
  final case class Phases(build: Double, plan: Double, exec: Double) {
    def total: Double = build + plan + exec
  }

  /** A failed run: the throwable and the seconds until it was thrown. */
  final case class Failure(error: Throwable, seconds: Double)

  /** One timed run of a query: `fn(spark, dir)` → `executedPlan` →
    * `toRdd.count()`, then an untimed `QueryCaches.releaseAll`. `toRdd`
    * executes exactly the plan the query declares; `df.count()` would
    * re-optimize with a count on top and prune a global-aggregate tail
    * to a constant row that never runs the body. The failure is
    * returned, not swallowed, and every Throwable counts (a deep plan's
    * StackOverflowError fails one query, not the whole run).
    */
  def timedRun(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Either[Failure, Phases] = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      Right(Phases((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
    } catch {
      case e: Throwable => Left(Failure(e, (System.nanoTime() - t0) / 1e9))
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  /** Counts the jobs, stages and tasks started on `spark` between calls
    * of [[take]]. Listener events arrive asynchronously; `take` first
    * waits (up to Spark's 10 s) until the listener bus has delivered
    * every posted event. Call [[close]] to unregister.
    */
  final class JobCounter(spark: SparkSession) extends SparkListener {
    private val jobs, stages, tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      stages.addAndGet(j.stageInfos.size)
      tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
      ()
    }

    /** (jobs, stages, tasks) since the previous call; resets them. */
    def take(): (Int, Int, Int) = {
      attempt("[harness] listener drain")(GraftPlanBridge.drainListeners(spark))
      (jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0))
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  def median(xs: Seq[Double]): Double = {
    val t = xs.sorted
    if (t.size % 2 == 1) t(t.size / 2)
    else (t(t.size / 2 - 1) + t(t.size / 2)) / 2.0
  }
}
