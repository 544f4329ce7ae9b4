package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The LSH band self-join with its hot-key occupancy cap — the filter
  * step of the near-duplicate filter-and-refine joins. One
  * implementation serves the text packs (MinHash band keys, SimHash
  * band words), the fingerprint packs (image aHash, audio
  * energy-delta: 4×16-bit Hamming bands) and the embedding pack
  * (hyperplane sign bands); each caller builds its band frame, joins
  * it here, de-duplicates the pairs and verifies them.
  *
  * Why a cap (r13/r16/r19): a band key shared by n rows contributes
  * n(n−1)/2 candidate rows, so one degenerate key grows the join
  * quadratically while adding almost no verified pairs. Each family
  * has such keys — the empty shingle set minhashes to one key set,
  * 16-bit SimHash and audio energy-delta words collide as the corpus
  * grows, dense embedding directions share sign patterns. With a cap,
  * every row of a key whose occupancy exceeds it is dropped from both
  * sides. That is answer-changing by design (a true pair whose every
  * shared band key is hot is lost); the recall audits
  * (q_textband_recall*, q_fpband_recall*) gate what the cap costs at
  * the fixture cap and at the production cap [[DefaultCap]].
  *
  * Occupancy is ONE window, `count over partitionBy(keys)` (r20): its
  * required distribution is the self-join's, so the plan keeps the one
  * exchange the join needs, the `_n ≤ cap` filter runs map-side above
  * it, and both join sides consume the identical subtree, so
  * ReuseExchange computes the band kernel and its shuffle once. A hot
  * key buffers its run in the window (spillable, linear in the key)
  * before the filter drops it.
  *
  * No silent caps: the dropped-row count rides the query's own
  * execution as the named metric `graft.band.<family>.<uuid>`
  * (`n_dropped`, `cap`), and one session listener logs every such
  * metric after a Dataset action. A frame that is only built or
  * explained costs nothing and leaves nothing running.
  */
object BandJoin {

  /** Hot-key cap choice. Audits pass [[Cap.Off]] / [[Cap.Forced]]
    * explicitly and never through session conf, so a capped and an
    * uncapped arm can be built in one session (ADVICE r17).
    */
  sealed trait Cap
  object Cap {
    /** Size-gated default: the [[ConfKey]] override if set, else plain
      * at ≤ [[GateRows]] band rows, else capped at [[DefaultCap]].
      */
    case object Auto extends Cap
    /** Plain (uncapped) join regardless of corpus size — the truth arm. */
    case object Off extends Cap
    /** Capped at occupancy `n`, any corpus size. */
    final case class Forced(n: Long) extends Cap
  }

  /** External override of the [[Cap.Auto]] cap (occupancy, a number). */
  private val ConfKey = "spark.graft.band.cap"

  /** [[Cap.Auto]] stays plain up to this many band rows (≈10k docs ×
    * 4 bands), which keeps every gate/bench fixture on the plain plan.
    */
  private val GateRows = 40000L

  /** [[Cap.Auto]]'s cap above the gate — the production cap. */
  private val DefaultCap = 200L

  /** Prefix of the drop-count metric names. */
  private val MetricPrefix = "graft.band."

  /** Band-key self-join pairs: every (a, b) with equal `keys` and
    * a.`id` < b.`id`, as `id_a`, `id_b` plus `<c>_a`, `<c>_b` for each
    * `carry` column. One row per shared band key — callers de-duplicate.
    *
    * `gateRows` (the band-row count) is read only under [[Cap.Auto]]
    * with no conf override; callers pass the cheapest cached
    * equivalent, since counting an uncached band frame would pay its
    * kernel twice.
    */
  def pairs(bands: DataFrame, keys: Seq[String], id: String, family: String,
      cap: Cap, gateRows: => Long, carry: Seq[String] = Nil): DataFrame = {
    val kept = resolve(bands.sparkSession, cap, gateRows) match {
      case None => bands
      case Some(c) => underCap(bands, keys, c, family)
    }
    def side(t: String) = col(s"$t.$id").as(s"id_$t") +:
      carry.map(c => col(s"$t.$c").as(s"${c}_$t"))
    kept.as("a").join(kept.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$id") < col(s"b.$id"))
      .select(side("a") ++ side("b"): _*)
  }

  private def resolve(s: SparkSession, cap: Cap, gateRows: => Long): Option[Long] =
    cap match {
      case Cap.Off       => None
      case Cap.Forced(n) => Some(n)
      case Cap.Auto =>
        s.conf.getOption(ConfKey).map(_.toLong)
          .orElse(if (gateRows <= GateRows) None else Some(DefaultCap))
    }

  /** The occupancy filter: rows whose key occupancy is ≤ `cap`. */
  private def underCap(bands: DataFrame, keys: Seq[String], cap: Long,
      family: String): DataFrame = {
    DropLog.setup(bands.sparkSession)
    bands
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .observe(s"$MetricPrefix$family.${java.util.UUID.randomUUID()}",
        sum(when(col("_n") > cap, 1L).otherwise(0L)).as("n_dropped"),
        lit(cap).as("cap"))
      .filter(col("_n") <= cap)
      .drop("_n")
  }

  /** Logs every `graft.band.*` drop count after a Dataset action. */
  private object DropLog extends QueryExecutionListener {
    private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(MetricPrefix))
          log.warn(s"$name: dropped ${row.getAs[Long]("n_dropped")} hot-key " +
            s"band rows (cap=${row.getAs[Long]("cap")}) from the LSH self-join")
      }

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** Registers this listener on `s` unless it already is. */
    def setup(s: SparkSession): Unit = synchronized {
      if (!GraftPlanBridge.listeners(s).contains(DropLog))
        s.listenerManager.register(DropLog)
    }
  }
}
