package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared distributed-graph building blocks for the dedup-clustering
  * queries (content-hash graph in DedupQueries, embedding-similarity
  * graph in SimilarityQueries).
  */
object GraphOps {

  /** Connected components by iterative min-label propagation — the
    * large-star/small-star shape: each round is one shuffle-join
    * (label ← min(label, neighbor labels)); no driver-side graph state.
    * `rounds` must cover the component diameter; callers cache `edges`
    * when its lineage is expensive (the final plan references it once
    * per round).
    *
    * @param nodes (id)        one row per vertex
    * @param edges (src, dst)  DIRECTED rows — pass both orientations
    *                          for an undirected graph
    * @return (id, label) with label = component minimum after `rounds`
    */
  def minLabelPropagate(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to rounds) labels = propagateOnce(labels, edges)
    labels
  }

  private def propagateOnce(labels: DataFrame, edges: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(labels.select(col("id").as("dst"), col("label").as("nbr_label")), "dst")
      .groupBy(col("src").as("id"))
      .agg(min(col("nbr_label")).as("min_nbr"))
    labels.join(nbrMin, Seq("id"), "left_outer")
      .select(col("id"),
        least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
  }

  /** Min-label propagation TO FIXPOINT — for graphs whose component
    * diameter is not known in advance (e.g. a similarity graph). Each
    * round materializes the new labels (persist + one aggregate
    * action) and stops when Σ label is unchanged: labels only ever
    * decrease, and every change strictly decreases one label, so a
    * stable sum IS the fixpoint (the sum runs in DECIMAL(38) — an
    * id-sum can overflow BIGINT at full scale). Intermediate rounds
    * unpersist eagerly; the returned frame is registered with
    * [[QueryCaches]] for harness release. Frontier-optimized variants
    * (large-star/small-star) drop in here if diameters grow beyond
    * `maxRounds`.
    */
  /** Connected components by alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the frontier-optimized replacement for plain
    * min-label propagation: plain propagation moves the component
    * minimum ONE hop per shuffle round (O(diameter) rounds — 30+ on a
    * chain-shaped dedup component at 100 TB), while the star rounds
    * rewire every node at the component min's DISTANCE-doubling rate,
    * converging in O(log diameter) rounds (3–5 where propagation needs
    * 30). Each round is two grouped-join shuffles over the edge set;
    * no driver-side graph state.
    *
    * Stop test: Σ(u+v) over the canonical distinct edge set is
    * non-increasing through BOTH operations (large-star replaces
    * (v, u) with (v, m(u)), m(u) ≤ u; small-star rewires a node's
    * ≤-neighborhood onto its minimum, net (|N|−1)(m−u) ≤ 0; distinct
    * merges only remove), and equality holds iff the round changed
    * nothing — so a stable (count, Σ) pair IS the fixpoint, a scalar
    * aggregate per round like the labelSum test above. The sums run in
    * DECIMAL(38): id sums can overflow BIGINT at full scale.
    *
    * At the fixpoint the edge set is a star forest rooted at component
    * minima, so labels read off as child → parent, roots/singletons →
    * self.
    *
    * @param nodes (id)        one row per vertex
    * @param edges (src, dst)  any orientation/duplication — canonicalized
    * @return (labels (id, label), star rounds executed) — the round
    *         count is returned so specs can pin the O(log d) bound
    */
  def alternatingStarComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 20): (DataFrame, Int) = {

    // canonical undirected edge set: (u, v) with u > v, no self loops
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    // large-star: every node u attaches its LARGER neighbors to
    // m(u) = min(Γ(u) ∪ {u}); output stays canonical since m ≤ u < v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: every node u rewires its ≤-neighborhood (plus itself)
    // onto its minimum m = min over canonical neighbors (all < u)
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum((col("u") + col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // localCheckpoint, not persist: both star operators reference the
    // previous round's frame SEVERAL times, so the logical plan grows
    // multiplicatively per round — persist caches the data but keeps
    // the lineage, and by round ~8 analysis alone OOMs the driver.
    // Eager localCheckpoint materializes the round AND truncates the
    // plan to the stored blocks (the standard iterative-graph pattern;
    // GraphFrames checkpoints for exactly this reason).
    //
    // The blocks a localCheckpoint persists belong to an INTERNAL rdd
    // that the CacheManager never sees, so Dataset.unpersist cannot
    // release them — they'd pin storage until driver GC. Capture the
    // newly-persisted RDDs by id-diff around each checkpoint and
    // unpersist them directly when the round is superseded.
    // The id-diff alone over-captures: any UNRELATED RDD materialized
    // during the checkpoint job (e.g. a lazily-populated QueryCaches
    // cache referenced by the edge lineage) would land in the diff and
    // be unpersisted when the round is superseded — silently dropping a
    // cache another consumer relies on. Intersect the diff with the
    // checkpointed dataset's OWN rdd lineage: the localCheckpoint
    // blocks are by construction an ancestor of cp's internal rdd,
    // while foreign caches are not.
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cp = df.localCheckpoint(true)
      val lineage = scala.collection.mutable.Set.empty[Int]
      def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
        if (lineage.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
      walk(cp.queryExecution.toRdd)
      val added = (sc.getPersistentRDDs -- before)
        .filter { case (id, _) => lineage.contains(id) }.values.toSeq
      (cp, added)
    }
    var (cur, curRdds) = checkpointTracked(canon(edges))
    var prevSig = signature(cur)
    var rounds = 0
    var done = prevSig._1 == 0L // no edges: all singletons, zero rounds
    while (!done && rounds < maxRounds) {
      val (next, nextRdds) = checkpointTracked(smallStar(largeStar(cur)))
      val sig = signature(next)
      curRdds.foreach(_.unpersist(blocking = false))
      cur = next
      curRdds = nextRdds
      rounds += 1
      if (sig == prevSig) done = true else prevSig = sig
    }
    // the final round's checkpoint blocks back the labels lineage —
    // register their release with the harness
    val lastRdds = curRdds
    QueryCaches.defer(() => lastRdds.foreach(_.unpersist(blocking = false)),
      "unpersist of the last iteration's RDDs")
    val labels = nodes
      .join(cur.select(col("u").as("id"), col("v").as("parent")),
        Seq("id"), "left_outer")
      .groupBy("id")
      .agg(min(col("parent")).as("parent"))
      .select(col("id"), coalesce(col("parent"), col("id")).as("label"))
    (labels, rounds)
  }

  def minLabelPropagateToFixpoint(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)
    var labels = nodes.select(col("id"), col("id").as("label")).persist()
    var prevSum = labelSum(labels)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val next = propagateOnce(labels, edges).persist()
      val s = labelSum(next) // materializes `next`; prior round now droppable
      labels.unpersist(blocking = false)
      labels = next
      rounds += 1
      if (s.compareTo(prevSum) == 0) done = true else prevSum = s
    }
    QueryCaches.cache(labels)
  }
}
