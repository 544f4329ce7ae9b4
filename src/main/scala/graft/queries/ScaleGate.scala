package graft.queries

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Size-gated shape routing (optimization r21): the one filesystem-size
  * gate. Used by `q_ntile_window`'s banded-rank route,
  * `q_pack_sequences`' chunked-prefix-sum route and `q_freq_itemsets`'
  * `spark.graft.freqitems.forceBroadcast` broadcast route — each reads
  * FS metadata, never a count job (the statePartitions precedent).
  * `q_cdc_chunk_dedup`'s hot-chunk route gates on the documents' size
  * the same way (`spark.graft.cdc.forceRouted`), and
  * `EventStreams.statePartitions` sizes the events through [[size]].
  * Not converted yet: the band-cap gates count cached band frames
  * (graft.plans.BandJoin).
  *
  * Why a gate instead of adopting the scale shape unconditionally: the
  * scale shapes this round adds (banded per-group ranks, chunked
  * two-level prefix sums) trade one or two EXTRA exchanges and a
  * broadcast re-attach for parallelism that only exists when a window
  * partition is large — at fixture scale the extra operators are pure
  * loss (measured: see OPTIMIZATION_r21.md), at corpus scale the
  * group-count parallelism ceiling dominates. The gate keeps the
  * fixture bench on the measured-faster plan and routes real corpora to
  * the scale plan; the conf override exists so `Probe ab` can measure both
  * arms in one session and specs can pin the two routes row-identical.
  *
  * The byte threshold is the same 1 GiB the freq-itemsets gate uses:
  * the point where a single window partition (corpus / #groups with
  * single-digit groups) stops being one comfortable in-memory sort.
  * `getContentSummary` is a full recursive listing of the path, so on
  * an object store holding many files the gate itself costs many LIST
  * requests.
  */
object ScaleGate {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The filesystem length of `path` in bytes — metadata only, no job,
    * no I/O beyond a listing — or None when it cannot be listed, after a
    * warning naming `confKey`, the path, the error and `fallback` (what
    * the caller does instead).
    */
  def size(s: SparkSession, confKey: String, path: String, fallback: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(p).getLength)
    } catch {
      case NonFatal(e) =>
        log.warn(s"$confKey: could not size $path ($e); $fallback")
        None
    }

  /** True = take the scale route. `confKey` may force either arm
    * (`scaleValue` / `fixtureValue`); any other (or absent) value
    * auto-routes on the input path's [[size]] against `bytes`. A listing
    * that fails takes the fixture route.
    */
  def route(s: SparkSession, confKey: String, scaleValue: String,
            fixtureValue: String, path: String,
            bytes: Long = 1L << 30): Boolean =
    s.conf.getOption(confKey) match {
      case Some(v) if v == scaleValue => true
      case Some(v) if v == fixtureValue => false
      case _ => size(s, confKey, path, "taking the fixture route").exists(_ > bytes)
    }
}
