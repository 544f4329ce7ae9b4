package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive kernel spread (optimization r20, guide §2.5).
  *
  * The driver fixtures are single-row-group parquet files, so a bare
  * scan plans ONE input partition, and everything fused above it — a
  * shingle/hash kernel, the Expand of a count-distinct rewrite, a
  * percentile agg's value buffer, a WindowGroupLimit sort — runs on one
  * core while the other 31 idle. A per-query build/plan/exec split (now
  * Bench's `phases` detail) named the cost: the fixture's mid-tier
  * queries spend 1.3–1.7 s of exec across < 50 tasks. This is the
  * guide's input-skew case ("one huge unsplittable file … repartition
  * immediately after the read"), and it appears on
  * real clusters whenever a scan (or a selective pushed filter) leaves
  * far fewer live partitions than cores.
  *
  * An UNCONDITIONAL repartition would be the opposite mistake at
  * 100 TB — a full-corpus shuffle in front of aggregates that would
  * otherwise combine map-side — so the spread derives from the actual
  * planned scan layout (brief rule: scale-adaptive partitioning, never
  * a constant tuned for one scale): [[ifNarrow]] hash-repartitions only
  * when the frame's planned partition count is below half the cluster
  * parallelism; a wide scan passes through untouched. The check costs
  * one extra physical-planning pass of the sub-frame (no job, no I/O).
  *
  * Hash keys (deterministic) rather than round-robin: a keyless
  * `repartition(n)` first locally sorts its input for retry stability
  * (SPARK-23207) — on exactly the one narrow partition being spread —
  * and round-robin over nondeterministic input risks the
  * SPARK-38388 duplicate/loss class under task retry. Callers pass a
  * high-cardinality stable key (row id), so the hash spreads evenly
  * (guide §2.5 synthetic-key note).
  *
  * Result-invariance: a repartition changes no row set, and every
  * gated query is already robust to shuffle placement (all collect_*
  * aggregates canonicalize order before hashing — the corpus-wide
  * determinism discipline); the oracle gate re-confirms after every
  * adoption.
  */
object Spread {
  /** `spark.graft.spread` ∈ auto (default) | off | force — off/force
    * exist for same-session A/B measurement (`tools.Probe ab`) and plan
    * pins; the serving default is always the adaptive gate.
    *
    * The repartition deliberately carries NO explicit partition count:
    * a bare `repartition(keys…)` is a REPARTITION_BY_COL shuffle whose
    * output AQE's coalescer sizes by bytes, and that measured FASTER
    * than pinning cores (REPARTITION_BY_NUM, exempt from coalescing):
    * the same adopted call sites re-A/B'd at an explicit 32 read
    * 0.91–1.00× (32 ~20 KiB tasks cost more scheduling than the
    * kernels gain) while the coalesced form read 1.04–1.22×. AQE's
    * byte-derived count is also the scale-adaptive choice the brief
    * asks for — it grows with the spread bytes, never a constant.
    */
  def ifNarrow(df: DataFrame, keys: Column*): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    val mode = df.sparkSession.conf
      .getOption("spark.graft.spread").getOrElse("auto")
    lazy val narrow = df.rdd.getNumPartitions < math.max(2, para / 2)
    if (mode == "off") df
    else if (mode == "force" || narrow) df.repartition(keys: _*)
    else df
  }
}
