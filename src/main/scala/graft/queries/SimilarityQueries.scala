package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.BandJoin
import graft.plans.BandJoin.Cap

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors).
  *
  * Operators:
  *   - brute-force cosine top-k (the correctness baseline): queries ×
  *     candidates with a compiled dot-product kernel (higher-order
  *     function expressions evaluate interpreted per element — a loop
  *     with identical accumulation order is ~2× faster and bit-equal);
  *   - banded-LSH top-k (the scale path): 64 deterministic pseudo-
  *     random hyperplanes packed as 4 bands × 16 sign bits; a candidate
  *     is any vector sharing ≥1 band with the query (OR-of-bands, the
  *     MinHash banding construction). At 100 TB the (band_idx,
  *     band_val) pair is the shuffle key — 4·2^16 key values, so
  *     per-key lists stay bounded as the corpus grows;
  *   - embedding near-dup detection: exact-copy injection (like
  *     Corpus.withDuplicates) → banded LSH candidates → exact pairwise
  *     cosine ≥ 0.99 verify. Banding bounds the pair blow-up exactly
  *     the way it does for MinHash.
  *
  * Cross-engine determinism: dots/norms are computed on
  * float→double-cast values; similarities round to 4 decimals BEFORE
  * ranking; rank ties break on vec_id.
  */
object SimilarityQueries {

  /** Dot product of two float-array columns as doubles — the native
    * codegen'd `vec_dot` expression (graft.plans.VecDot): index-order
    * summation identical to `aggregate(zip_with(...))`, so similarities
    * are bit-identical to the oracle, but the kernel runs inside the
    * whole-stage-codegen loop reading ArrayData in place — no per-pair
    * Seq conversion/boxing (the prior ScalaUDF) and no interpreted
    * per-element lambdas (the HOF form).
    */
  private def dot(a: String, b: String): Column = expr(s"vec_dot($a, $b)")

  private def norm(a: String): Column = sqrt(dot(a, a))

  /** Near-dup corpus: the embeddings plus exact copies injected for
    * vec_id % 7 == 0 (like Corpus.withDuplicates), each row carrying
    * its precomputed norm. Callers cache it — it is scanned by the
    * band explode AND both verify sides.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = emb(s, dir).select(col("vec_id"), col("embedding"))
    val copies = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    base.unionByName(copies).withColumn("nrm", norm("embedding"))
  }

  /** Per-band-key occupancy cap for the near-dup LSH blocking — the
    * posting-list-cap discipline (q_passage_overlap's df ≤ 50) applied
    * to embedding space. Motivation is measured, not theoretical (r13
    * band-volume probe at the synthetic 10×/20× fixtures,
    * docs/ROUND13_NOTES.md): this corpus's
    * vectors live in a positive-ish orthant, so many share hyperplane
    * sign patterns and a few DEGENERATE band keys grow linearly with
    * the corpus (max occupancy 64 → 663 → 1351 at 1×/10×/20×) — their
    * in-key pair count is quadratic, and uncapped candidate volume
    * measured 75 k → 7.9 M → 32 M (N², 11× wall growth at 2× rows)
    * while VERIFIED pairs stayed ~linear: a pure precision collapse.
    * Capped at 200, candidates are 75 k → 221 k → 873 k (~linear) and
    * no fixture ≤ sf0.1 has any key above the cap, so gate-scale
    * results are bit-unchanged. Recall for exact duplicates does NOT
    * ride on the cap — they are recovered by the exact-equality pass
    * (dense-region vectors can have ALL four bands hot: at 10× a
    * cap-only design lost 927 of 2858 planted dups, 32% — first
    * measured as 65/286 on the copy-0 slice, corrected copy-aware in
    * the round's review pass); only 0.99 ≤ cos < 1 near-pairs inside
    * degenerate directions are traded, the documented LSH
    * approximation at scale.
    */
  private[graft] val BandKeyCap = 200

  /** Corpus-size gate for the cap machinery (the bloom-clamp /
    * coarseK precedent: structural parameters derive from corpus
    * size). Below this row count no degenerate key matters and the
    * hot-key filter + exact pass only add plan stages — measured
    * +0.7–1.1 s on the two sub-second fixture-scale consumers — so
    * the plain pre-cap plan runs verbatim; above it the capped path
    * engages. The switch cannot change results at the boundary:
    * UNCAPPED, every exact-equality pair is already an LSH candidate
    * (identical vectors share all four bands), so the capped path's
    * exact-pass union is a no-op exactly where the gate skips it —
    * which is what lets the oracle express both paths as ONE query
    * (unconditional exact union + count-gated HAVING).
    */
  private[graft] val SmallCorpusCutoff: Long = BandKeyCap * 20L

  /** Verified near-duplicate pairs over a (vec_id, embedding, nrm)
    * corpus, by size regime (gate: [[SmallCorpusCutoff]]). Candidates
    * are the banded-LSH pairs of [[graft.plans.BandJoin]] over a skinny
    * exploded (vec_id, band_idx, band_val) table: plain at or below the
    * gate, capped at occupancy [[BandKeyCap]] above it and then UNIONED
    * with an exact-equality pass (hash-shuffle on the vector bytes,
    * linear at any scale, immune to the cap). This route keeps its own
    * gate and cap — the oracle SQL encodes both — and never reads the
    * band cap conf key. Either way the de-duplicated candidates re-join
    * the corpus by id for the exact-cosine ≥ 0.99 verify; returns
    * (id_a, id_b, sim) with id_a < id_b.
    *
    * Both routes stay UNCACHED (§8 lens): the self-join's two sides
    * canonicalize identically, so one exchange runs the 64-hyperplane
    * kernel once and ReuseExchange hands it to the other side (the
    * occupancy window plans that same exchange); a cache only added a
    * barrier (removal measured parity, 0.885 → 0.875 s minima).
    */
  private[graft] def nearDupPairs(corpus: DataFrame): DataFrame = {
    // the gate count is cheap next to the kernel work and populates
    // the caller's corpus cache it would materialize anyway
    val capped = corpus.count() > SmallCorpusCutoff
    val bands = corpus.select(col("vec_id"),
      posexplode(expr("vec_bands(embedding)")).as(Seq("band_idx", "band_val")))
    val lsh = BandJoin.pairs(bands, Seq("band_idx", "band_val"), "vec_id",
      "embedding", if (capped) Cap.Forced(BandKeyCap) else Cap.Off, 0L)
    val cand =
      if (!capped) lsh.distinct()
      else {
        val exact = corpus
          .select(col("vec_id").as("id_a"), col("embedding").as("e1"))
          .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("e2")),
            col("e1") === col("e2") && col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        lsh.unionByName(exact)
          .distinct() // OR-of-bands + exact pass: any pair counts once
      }
    cand
      .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "id_a")
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("sim", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
      .filter(col("sim") >= 0.99)
  }

  /** Iterative union-find `find` with two-pass path compression,
    * shared by the cell-local SemDeDup component UDFs. ITERATIVE on
    * purpose (ADVICE r10): union-by-min can chain parents proportional
    * to a cell's edge count, and a recursive find inside an executor
    * UDF would StackOverflow on the large cells the 100 TB regime
    * produces — the loop walks to the root, then compresses.
    */
  private def ufFind(parent: scala.collection.mutable.HashMap[Long, Long],
      x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  /** The fixture is a single row group → a single scan partition, so
    * the dot/bucket kernels downstream would run on one core. A
    * round-robin redistribute after the skinny scan spreads the
    * compute; on a real cluster the scan is already many-split and the
    * exchange is a no-op cost next to the kernel work it balances.
    */
  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.plans.VecKernels.register(s)
    s.read.parquet(s"$dir/embeddings.parquet").repartition(col("vec_id"))
  }

  /** q_random_projection's ±1 sign matrix (row-major (i, j), 64×16):
    * md5 parity of "i_j", materialized builder-side ONCE and embedded
    * in both engines as the same literal array — the lnMyriadScaled
    * shared-table discipline, so no cross-engine hash arithmetic.
    */
  private[graft] val rpSigns: IndexedSeq[Int] =
    for { i <- 0 until 64; j <- 0 until 16 } yield {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
      if ((d(1) & 1) == 0) 1 else -1
    }

  /** The coarse-quantizer moment aggregation shared by the three IVF
    * queries: per cell (label), the elementwise embedding sum (typed
    * map-side-combined Aggregator) and member count → (cell, sums, n).
    * One definition so the centroid convention (cell cast, sum kernel)
    * cannot drift between the rebuild, the incremental update, and the
    * multi-probe quantizer.
    */
  private def cellMoments(vectors: DataFrame): DataFrame = {
    val vecsum = udaf(graft.functions.VecSumAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    vectors.groupBy(col("label").cast("bigint").as("cell"))
      .agg(vecsum(col("embedding")).as("sums"), count(lit(1)).as("n"))
  }

  /** The shared PQ quantization: components floor-quantized at 2^10 and
    * SHIFTED by +2048 so every value is non-negative — squared
    * distances are shift-invariant, and the Lloyd update's integer
    * division (`sum div n`) only equals DuckDB's floor division when
    * the numerator cannot go negative. One definition so training and
    * the trained-codebook assignment/search queries can never disagree
    * on the integer grid.
    */
  private val pqShiftedQv = expr(
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT) + 2048)")

  /** One Lloyd assignment: every (vector, subspace) to its nearest
    * centroid by exact int64 squared distance (‖sv−cs‖² expanded so
    * every term runs in the native integer kernel), ties on centroid
    * id. The packed codebook (<=128 array rows) BROADCASTS; the
    * (dist, j) argmin packs into one bigint (dist·16 + j; j < 16, so
    * integer min IS the lexicographic min) — a plain bigint MIN
    * hash-aggregates with map-side combine where min(struct) would
    * force a SortAggregate over the full N×128 stream. Returns
    * (vec_id, sp, bk): callers take `bk % 16` for the code and
    * `bk div 16` for the distance.
    */
  private def pqAssignStep(subs: DataFrame, centsArr: DataFrame): DataFrame =
    subs.join(broadcast(centsArr), "sp")
      .withColumn("dist", expr(
        "vec_idot(sv, sv) + vec_idot(cs, cs) - 2 * vec_idot(sv, cs)"))
      .groupBy("vec_id", "sp")
      .agg(min(expr("dist * 16 + j")).as("bk"))

  /** One Lloyd update straight to packed (sp, j, cs) centroid arrays:
    * a VecSumLongAgg reduction per (subspace, centroid) — map-side
    * combined, only 8-long buffers cross the wire instead of an
    * exploded |vectors|·8 component stream — then the per-component
    * integer floor-mean (`s div n`, exact and DuckDB-`//`-identical
    * under the +2048 shift). Never an all-pairs product.
    */
  private def pqUpdateStep(subs: DataFrame, asg: DataFrame): DataFrame = {
    val vecsuml = udaf(graft.functions.VecSumLongAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    asg.join(subs, Seq("vec_id", "sp"))
      .groupBy("sp", "j")
      .agg(vecsuml(col("sv")).as("sums"), count(lit(1)).as("n"))
      .select(col("sp"), col("j"), expr("transform(sums, s -> s div n)").as("cs"))
  }

  /** The anchor init as packed arrays (subvectors of vec_id < 16). */
  private def pqAnchorArrays(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") < 16)
      .select(col("sp"), col("vec_id").as("j"), col("sv").as("cs"))

  private def pqCodeOf(asg: DataFrame): DataFrame =
    asg.select(col("vec_id"), col("sp"), expr("bk % 16").as("j"))

  /** Two Lloyd iterations from the anchor init — THE trained codebook
    * (deterministic: fixed iteration count, integer-exact steps), the
    * same recipe q_pq_kmeans reports on. Already in the kernel-ready
    * packed (sp, j, cs) array form.
    */
  private def pqTrainedCodebook(subs: DataFrame): DataFrame = {
    val c1 = pqUpdateStep(subs,
      pqCodeOf(pqAssignStep(subs, pqAnchorArrays(subs))))
    pqUpdateStep(subs, pqCodeOf(pqAssignStep(subs, c1)))
  }

  /** The trained, packed codebook as a PERSISTED index artifact: in a
    * real PQ deployment training runs once and every search loads the
    * stored ≤128-row codebook — it never retrains per query. Mirrored
    * here with SideStores.memo keyed by sfDir (the codebook is a pure
    * function of the fixture): the first search query in a JVM pays
    * the two Lloyd passes, later ones rebuild the tiny local frame
    * from the memoized rows. q_pq_kmeans still times the training
    * itself, so both costs stay measured.
    */
  private def pqPackedCodebook(s: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = SideStores.memo(s"pq_packed_codebook:$dir") {
      val df = pqTrainedCodebook(QueryCaches.cache(pqSubvectors(s, dir)))
      (df.schema, df.collect().toSeq)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  /** Per-(vector, subspace) 8-dim shifted integer subvectors — the
    * assignment/search side of every PQ query.
    */
  private def pqSubvectors(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), pqShiftedQv.as("qv"))
      .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("sp"), col("qv"))
      .select(col("vec_id"), col("sp"), expr("slice(qv, sp * 8 + 1, 8)").as("sv"))

  // ---- trained full-vector coarse quantizer (VERDICT r10 item 5) ----
  // The same Lloyd recipe/integer grid as the PQ codebook, WITHOUT the
  // subspace split: k centroids over whole 64-dim shifted-integer
  // vectors, 2 iterations from the anchor init (vec_id < k). These are
  // the TRAINED cells the recall harness probes — learned structure, not
  // the fixture's label column.

  /** Coarse cell count, derived from corpus size (r11 verdict #5): the
    * numpy prototype showed k ahead of the corpus is WORSE (k=32 recall
    * 0.66–0.86 vs k=16's 0.74–1.0 at N≤2000 — over-segmentation), so k
    * grows with N: clamp(floor(sqrt(N/40)), 16, 256) — ~40·k vectors
    * per cell before k moves, the classic √N-cells shape, capped where
    * the broadcastable-centroid-frame assumption would need revisiting.
    * All driver fixtures stay at the 16 clamp (N=500/2000); a 10×
    * corpus trains 22 cells through the same code path. floor∘sqrt of
    * an exact integer is deterministic cross-engine (IEEE sqrt is
    * correctly rounded), so the DuckDB oracle computes the identical k
    * from count(*). One metadata-only parquet count per fixture dir per
    * JVM (memoized — not a per-query driver action).
    */
  private val coarseKMemo = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def coarseK(s: SparkSession, dir: String): Int =
    coarseKMemo.getOrElseUpdate(dir, {
      // raw parquet count, NOT emb(): emb applies the vec_id
      // repartition, which would turn this into a full-column scan +
      // shuffle instead of a footer-metadata aggregate
      val n = s.read.parquet(s"$dir/embeddings.parquet").count()
      math.max(16, math.min(256, math.sqrt((n / 40).toDouble).toInt))
    })

  /** Exact int64 squared distance of every vector to every packed
    * centroid (j, cs): ‖qv−cs‖² expanded into three vec_idot kernel
    * calls. The ≤256-row (k ≤ 256) centroid frame broadcasts; output is N×k rows.
    */
  private def cellDists(qvs: DataFrame, cents: DataFrame): DataFrame =
    qvs.crossJoin(broadcast(cents))
      .withColumn("dist", expr(
        "vec_idot(qv, qv) + vec_idot(cs, cs) - 2 * vec_idot(qv, cs)"))
      .select(col("vec_id"), col("j"), col("dist"))

  /** Nearest-centroid assignment, ties to the smallest centroid id:
    * min(dist·k + j) is the lexicographic (dist, j) min in one bigint
    * hash-aggregate (dist ≤ 64·4096² ≈ 2³⁰ and k ≤ 256, so ·k stays
    * well under 2⁶³).
    */
  private def cellAssignFull(qvs: DataFrame, cents: DataFrame, k: Int): DataFrame =
    cellDists(qvs, cents)
      .groupBy("vec_id").agg(min(expr(s"dist * $k + j")).as("bk"))
      .select(col("vec_id"), expr(s"bk % $k").as("j"))

  /** Lloyd update straight to packed (j, cs) arrays: one VecSumLongAgg
    * reduction per cell (map-side combined — only 64-long buffers cross
    * the wire, never an exploded |vectors|·64 component stream) followed
    * by the per-component integer floor-mean (`s div n` — exact and
    * DuckDB-`//`-identical because the +2048 shift keeps sums
    * non-negative). Cells that lost every member simply don't appear.
    */
  private def cellUpdateFull(qvs: DataFrame, asg: DataFrame): DataFrame = {
    val vecsuml = udaf(graft.functions.VecSumLongAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    asg.join(qvs, "vec_id")
      .groupBy("j")
      .agg(vecsuml(col("qv")).as("sums"), count(lit(1)).as("n"))
      .select(col("j"), expr("transform(sums, s -> s div n)").as("cs"))
  }

  /** The trained coarse cells as a PERSISTED index artifact (≤16 rows,
    * memoized per fixture like the PQ codebook): q_ivf_train measures
    * the training itself; every consumer loads the stored centroids.
    */
  private def trainedCells(s: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = SideStores.memo(s"ivf_trained_cells:$dir") {
      val k = coarseK(s, dir)
      val qvs = QueryCaches.cache(
        emb(s, dir).select(col("vec_id"), pqShiftedQv.as("qv")))
      val anchors = qvs.filter(col("vec_id") < k)
        .select(col("vec_id").as("j"), col("qv").as("cs"))
      val c1 = cellUpdateFull(qvs, cellAssignFull(qvs, anchors, k))
      val df = cellUpdateFull(qvs, cellAssignFull(qvs, c1, k))
      (df.schema, df.collect().toSeq)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force cosine top-3 per query vector. Norms are computed
    // ONCE per vector before the join (a projection), not per pair —
    // at N×M pair counts that's the difference between O(N+M) and
    // O(N·M) norm work.
    "q_ann_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          norm("embedding").as("qn"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding").as("ce"),
          norm("embedding").as("cn"))
      val scored = q.crossJoin(c)
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "sim")
        .orderBy("query_id", "rank")
    }),

    // LSH top-2 via banded multi-probe blocking: a candidate is any
    // vector sharing AT LEAST ONE of the query's 4 × 16-bit hyperplane
    // bands (OR-of-bands — same recall construction as MinHash
    // banding). The candidate join runs on the skinny exploded
    // (vec_id, band_idx, band_val) table with the band pair as the
    // equi-join key — 4·2^16 key values, so per-key candidate lists
    // stay bounded as the corpus grows (the old single 8-bit bucket
    // capped the key space at 256 → O(n²/256) per-bucket work at
    // scale). Vectors are pulled back by id AFTER pair dedup.
    "q_ann_lsh" -> ((s, dir) => {
      // persisted: scanned for bands and by both verify sides below
      val e = QueryCaches.cache(emb(s, dir).withColumn("nrm", norm("embedding")))
      // bands cached too: query and candidate branches both read it
      val bands = QueryCaches.cache(e.select(col("vec_id"),
        posexplode(expr("vec_bands(embedding)")).as(Seq("band_idx", "band_val"))))
      val cand = bands.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("band_idx"), col("band_val"))
        .join(bands.filter(col("vec_id") >= 5), Seq("band_idx", "band_val"))
        .select(col("query_id"), col("vec_id"))
        .distinct() // OR-of-bands: multi-band agreement counts once
      val scored = cand
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn")), "query_id")
        .join(e.select(col("vec_id"), col("embedding").as("ce"),
          col("nrm").as("cn")), "vec_id")
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 2)
        .select(col("query_id"), col("rank"), col("vec_id"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // IVF-style top-k: the label column plays the coarse-quantizer
    // cell id (as if assigned by a trained k-means); each query probes
    // ONLY its own cell. At scale the cell id is the partition key and
    // each cell's posting list is searched locally — the inverted-file
    // counterpart to the hyperplane-LSH variant above.
    "q_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          norm("embedding").as("qn"), col("label"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding").as("ce"),
          norm("embedding").as("cn"), col("label"))
      val scored = q.join(c, "label")
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("label").cast("bigint").as("cell"),
          col("rank"), col("vec_id"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // COARSE-QUANTIZER TRAINING — full-vector k-means (k = 16, 2 Lloyd
    // iterations from the vec_id < 16 anchor init, exact shifted-
    // integer arithmetic throughout — the q_pq_kmeans recipe without
    // the subspace split). This query MEASURES the training the other
    // IVF consumers memoize: per surviving cell, its member count, the
    // total squared centroid movement of the last iteration (the
    // convergence diagnostic every k-means loop watches), and the
    // centroid component sum. Scale shape: assignments broadcast the
    // ≤256-row packed centroids and hash-aggregate per vector; updates
    // are ONE VecSumLongAgg array reduction per cell (map-side
    // combined — 64-long buffers cross the wire, never an exploded
    // |vectors|·64 component stream) — no all-pairs stage anywhere,
    // N×k kernel rows per iteration.
    "q_ivf_train" -> ((s, dir) => {
      val k = coarseK(s, dir)
      val qvs = QueryCaches.cache(
        emb(s, dir).select(col("vec_id"), pqShiftedQv.as("qv")))
      val anchors = qvs.filter(col("vec_id") < k)
        .select(col("vec_id").as("j"), col("qv").as("cs"))
      val c1 = QueryCaches.cache(cellUpdateFull(qvs, cellAssignFull(qvs, anchors, k)))
      val a2 = QueryCaches.cache(cellAssignFull(qvs, c1, k))
      val c2 = cellUpdateFull(qvs, a2)
      // the convergence diagnostics are per-cell folds over the two
      // ≤k-row (k ≤ 256) packed centroid frames — pure HOF arithmetic
      a2.groupBy("j").agg(count(lit(1)).as("n_members"))
        .join(c2.select(col("j"), col("cs").as("cs2"))
          .join(c1.select(col("j"), col("cs").as("cs1")), Seq("j"))
          .select(col("j"),
            expr("aggregate(zip_with(cs2, cs1, (a, b) -> (a - b) * (a - b)), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("shift_sq"),
            expr("aggregate(cs2, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
              .as("c2_sum")), Seq("j"))
        .select(col("j").cast("bigint").as("j"), col("n_members"),
          col("shift_sq"), col("c2_sum"))
        .orderBy("j")
    }),

    // ANN RECALL EVALUATION — the harness every vector-index
    // deployment runs before trusting an approximate path: per query,
    // recall@10 of the TRAINED-cell IVF search (k-means cells from
    // q_ivf_train's recipe, loaded as the memoized index artifact,
    // nprobe = 2) against the brute-force ground truth. Standard
    // practice at scale is exactly this shape: the exhaustive truth is
    // computed only for a small QUERY SAMPLE (5 here), so the cross
    // join is bounded by |sample|·|corpus| — a broadcast of 5 vectors
    // against the candidate scan — while the IVF side touches two
    // cells per query. Learned cells lift recall@10 to ~0.74 at
    // sf0.01 / 1.0 at sf0.1 where the fixture's label column managed
    // 10–30% (labels are metadata, not geometry — the round-10 finding
    // this closes). Per-mille recall in exact integer division; cell
    // assignment, probe ranking (ties on j), and both top-10s (ties on
    // vec_id) are integer- or rounded-before-rank deterministic, so
    // results are bit-stable cross-engine.
    "q_ann_recall" -> ((s, dir) => {
      val k = coarseK(s, dir)
      val cells = trainedCells(s, dir)
      val e = QueryCaches.cache(emb(s, dir)
        .withColumn("nrm", norm("embedding")).withColumn("qv", pqShiftedQv))
      val dists = QueryCaches.cache(
        cellDists(e.select(col("vec_id"), col("qv")), cells))
      val corpusCell = dists.filter(col("vec_id") >= 5)
        .groupBy("vec_id").agg(min(expr(s"dist * $k + j")).as("bk"))
        .select(col("vec_id"), expr(s"bk % $k").as("cell"))
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("dist"), col("j"))
      val probes = dists.filter(col("vec_id") < 5)
        .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= 2)
        .select(col("vec_id").as("query_id"), col("j").as("cell"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
      val exact = broadcast(q).crossJoin(c)
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      // a corpus vector lives in exactly one cell and a query probes 2
      // DISTINCT cells, so each (query, candidate) pair scores once
      val ivf = corpusCell.join(broadcast(probes), "cell")
        .join(q, "query_id")
        .join(c, "vec_id")
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("query_id").as("qid2"), col("vec_id").as("vid2"))
      exact.join(ivf,
          exact("query_id") === ivf("qid2") && exact("vec_id") === ivf("vid2"),
          "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(when(col("qid2").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .withColumn("recall_pm", expr("n_hit * 1000 div n_exact"))
        .orderBy("query_id")
    }),

    // Johnson–Lindenstrauss random projection (64 → 16 dims, ±1 sign
    // matrix) plus a distance-distortion audit — the cheap
    // dimensionality-reduction step pipelines run before coarse
    // clustering or LSH when PQ is too heavy. The sign matrix is
    // builder-materialized from md5 parity of (i, j) and embedded in
    // BOTH engines as the same 1024-literal array (the lnMyriadScaled
    // discipline — no cross-engine hash arithmetic at all), vectors
    // are quantized by the q_pca_power floor(x·1024) rule, so y_j =
    // Σᵢ qxᵢ·s(i,j) and every distance is exact int64 (|y_j| ≤ 64·2¹⁰·
    // 2¹⁰ headroom; squared diffs ≤ ~2³⁴, sums ≤ 2³⁸). Audit pairs are
    // deterministic neighbors (a ≡ 0, b = a+1 mod 50 lanes): under a
    // ±1 projection E‖ya−yb‖² = 16·‖qa−qb‖², so ratio_pm clusters at
    // 10⁴·16/16 = 10⁴. Shape: per-row map for the projection, one
    // equi-join on vec_id+1 for the pairs — no shuffle beyond the
    // join, flat at 100 TB.
    "q_random_projection" -> ((s, dir) => {
      val qx = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))"
      // Quantize ONCE per row and take y_j = vec_idot(q, sign_col_j)
      // against 16 constant-folded literal sign columns (optimization
      // r20, guide §4). The retired nested-HOF form inlined the 64-element
      // quantize transform INSIDE the projection aggregate's lambda — ~65k
      // lambda evals + 1k array allocs PER ROW, the allocation storm
      // behind the query's superlinear scale steps
      // (BENCH_SCALE40_TOP10.json: 2.17/1.79 normalized vs ~1.26
      // suite-wide). Both compute the same Σᵢ qxᵢ·s(i,j) in exact int64;
      // Round20OpsSpec keeps the HOF form as its row-for-row reference.
      def side(m: Int, idc: String, qc: String, pc: String) = {
        // column j of the row-major 64×16 sign matrix, as a foldable
        // bigint-array literal (ConstantFolding collapses it once)
        def signColJ(j: Int) =
          (0 until 64).map(i => s"${rpSigns(i * 16 + (j - 1))}L").mkString(",")
        emb(s, dir).filter(col("vec_id") % 50 === m)
          .select(col("vec_id").as(idc), expr(qx).as(qc))
          .select(col(idc), col(qc), expr(
            (1 to 16).map(j => s"vec_idot($qc, array(${signColJ(j)}))")
              .mkString("array(", ", ", ")")).as(pc))
      }
      val a = side(0, "a_id", "qa", "pa")
      val b = side(1, "b_id", "qb", "pb")
      // d2: ‖x−y‖² = x·x − 2·x·y + y·y — exact in int64 (|qx|≤2¹⁰ ⇒
      // terms ≤2²⁷; |p|≤2¹⁶ ⇒ ≤2³⁶), three codegen'd dots instead of ~130
      // interpreted zip/aggregate lambda steps per pair
      def d2(x: String, y: String) =
        expr(s"vec_idot($x, $x) - 2L * vec_idot($x, $y) + vec_idot($y, $y)")
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(col("a_id"), col("b_id"),
          d2("qa", "qb").as("d2_orig"),
          d2("pa", "pb").as("d2_proj"))
        .withColumn("ratio_pm",
          expr("d2_proj * 10000 div nullif(16 * d2_orig, 0)"))
        .orderBy("a_id")
    }),

    // Int8 quantization of the embedding column — the storage/transfer
    // compression step real vector indexes apply before ANN search.
    // scale = 127/max|v|; q_d = round(v_d · scale) — every step is an
    // exactly-rounded IEEE op (max, div, mul, round-half-away), so the
    // quantized vectors are bit-identical cross-engine. Pure
    // higher-order-function expressions (no UDF): 64 elements/row keeps
    // interpreted lambda cost trivial here.
    "q_embedding_quantize" -> ((s, dir) =>
      emb(s, dir)
        .filter(col("vec_id") % 5 === 0)
        .withColumn("maxabs", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
        .withColumn("qvec", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs)) AS BIGINT))"))
        .select(col("vec_id"),
          round(col("maxabs"), 4).as("maxabs"),
          expr("aggregate(qvec, CAST(0 AS BIGINT), (a, q) -> a + q)").as("q_sum"),
          expr("CAST(size(filter(qvec, q -> abs(q) >= 100)) AS BIGINT)").as("n_large"),
          expr("CAST(size(filter(qvec, q -> q = 0)) AS BIGINT)").as("n_zero"))
        .orderBy("vec_id")),

    // ANN over the QUANTIZED vectors: int8 dot products are exact
    // 64-bit integer arithmetic — the arithmetic real vector stores run
    // after compression, and (unlike float scores) bit-deterministic by
    // construction, so ranking needs no rounding guard at all. The pair
    // score runs in the native vec_idot kernel (graft.plans.VecDotI64)
    // inside whole-stage codegen — the interpreted zip_with/aggregate
    // form paid a per-element lambda call at pair × 64-dim counts.
    "q_ann_quantized" -> ((s, dir) => {
      // quantization is per-row (per-row maxabs), so the query/candidate
      // predicate pushes BELOW it — only the rows either branch reads
      // pay the per-element quantize lambdas
      val quantized = emb(s, dir)
        .filter(col("vec_id") < 5 || col("vec_id") % 5 === 0)
        .withColumn("maxabs", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
        .withColumn("qv", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs)) AS BIGINT))"))
        .select(col("vec_id"), col("qv"))
        .transform(QueryCaches.cache(_)) // both branches below
      val q = quantized.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qa"))
      val c = quantized.filter(col("vec_id") >= 5 && col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("qv").as("qb"))
      val scored = q.crossJoin(c)
        .withColumn("score", expr("vec_idot(qa, qb)"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "score")
        .orderBy("query_id", "rank")
    }),

    // Two-stage retrieval (coarse-to-fine rerank) — the production ANN
    // serving pattern, composed from the pieces above: (1) candidates
    // come from the query's IVF cell (equi-join on label, never a
    // product); (2) the CHEAP score — int8-quantized dot product, exact
    // int64 arithmetic in the native vec_idot kernel — shortlists the
    // top-10 per query; (3) only those 10 pay the exact float cosine,
    // fetched by a join-back on vec_id so the wide float vectors never
    // ride through the coarse pair stream. At 100 TB the quantized
    // corpus is ~4× smaller than the float one (memory-bandwidth bound
    // scan), the cell join bounds pair volume to |cell| per query, and
    // exact-scoring work is k'·queries regardless of corpus size.
    // Output keeps coarse_rank next to the final rank so recall loss
    // from quantization is observable (rows where the two disagree).
    // Determinism: the shortlist is integer-exact (int8 dots); the fine
    // sim rounds to 4 dp before ranking; all ties break on vec_id.
    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09) — the composition every production search stack runs:
    // a LEXICAL ranking (token-set Jaccard here; ranks are what RRF
    // consumes, so any lexical scorer slots in) and a VECTOR ranking
    // (exact integer dot) are computed independently per query, then
    // fused as Σ 1/(60 + rank) without ever comparing raw scores —
    // RRF's whole point is that lexical and vector scores live on
    // incomparable scales but RANKS always fuse. Integer-exact
    // end-to-end: Jaccard ×10⁴ integer-floored, dots on 2^10-quantized
    // components, RRF terms ×10⁶ integer-floored, all ties on doc_id.
    // Scale shape: the 3-query bag broadcasts into both scorers (the
    // corpus streams once per modality, never q×corpus shuffled), each
    // modality's rank is one window over its own per-query slice, and
    // the fusion join keys on (query_id, doc_id). At 100 TB each
    // modality would feed its top-k only — the fusion stage is
    // unchanged.
    "q_hybrid_rrf" -> ((s, dir) => {
      val tokSets = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"),
            expr("array_distinct(filter(split(text, ' '), t -> length(t) > 0))")
              .as("ts")))
      val qtok = tokSets.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"), col("ts").as("qt"))
      val lex = tokSets.filter(col("doc_id") >= 10)
        .crossJoin(broadcast(qtok))
        .select(col("query_id"), col("doc_id"), expr(
          "CAST(size(array_intersect(qt, ts)) AS BIGINT) * 10000 div size(array_union(qt, ts))")
          .as("jacc"))
      val vecs = QueryCaches.cache(emb(s, dir).select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))")
        .as("qv")))
      val qvec = vecs.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"))
      val vec = vecs.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(qvec))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          expr("vec_idot(qv, qqv)").as("vdot"))
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("jacc").desc, col("doc_id"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("vdot").desc, col("doc_id"))
      val lexR = lex.withColumn("lex_rank", row_number().over(wl).cast("bigint"))
        .select("query_id", "doc_id", "lex_rank")
      val vecR = vec.withColumn("vec_rank", row_number().over(wv).cast("bigint"))
        .select("query_id", "doc_id", "vec_rank")
      val fused = lexR.join(vecR, Seq("query_id", "doc_id"))
        .withColumn("rrf_pm", expr(
          "1000000 div (60 + lex_rank) + 1000000 div (60 + vec_rank)"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rrf_pm").desc, col("doc_id"))
      fused.withColumn("rank", row_number().over(wf).cast("bigint"))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "lex_rank", "vec_rank", "rrf_pm")
        .orderBy("query_id", "rank")
    }),

    "q_ann_rerank" -> ((s, dir) => {
      val e = QueryCaches.cache(emb(s, dir)
        .withColumn("maxabs", expr(
          "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"))
        .withColumn("qv", expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * (127.0 / maxabs)) AS BIGINT))"))
        .withColumn("nrm", norm("embedding")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("label"), col("qv").as("qa"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("label"), col("qv").as("qb"))
      val coarse = q.join(c, "label")
        .withColumn("score", expr("vec_idot(qa, qb)"))
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val shortlist = coarse
        .withColumn("coarse_rank", row_number().over(w1).cast("bigint"))
        .filter(col("coarse_rank") <= 10)
        .select("query_id", "vec_id", "coarse_rank")
      val fine = shortlist
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn")), "query_id")
        .join(e.select(col("vec_id"), col("embedding").as("ce"),
          col("nrm").as("cn")), "vec_id")
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      fine.withColumn("rank", row_number().over(w2).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "coarse_rank", "sim")
        .orderBy("query_id", "rank")
    }),

    // PRODUCT QUANTIZATION code assignment (Jégou et al., "Product
    // Quantization for Nearest Neighbor Search", TPAMI'11) — the
    // memory story of vector search at 100 TB: each 64-dim vector
    // compresses to 8 nibble codes (4 bytes), a 64× reduction over
    // float32, by splitting into 8 subspaces of 8 dims and snapping
    // each subvector to the nearest of 16 per-subspace centroids.
    // The codebook is TRAINED — two Lloyd iterations from the anchor
    // init (pqTrainedCodebook, the same deterministic recipe
    // q_pq_kmeans reports on), closing the round-8 caveat that
    // assignment ran against the raw anchors. Arithmetic is integer-
    // exact end-to-end (components floor-quantized at 2^10 then
    // shifted +2048 so the training means floor identically in both
    // engines, distances exact int64 sums of squares, ties on centroid
    // id). Scale shape: training exchanges are keyed on
    // (vec_id, sp)/(sp, j, d) only, the trained <=128-row codebook
    // BROADCASTS into the assignment join, the N×8×16 distance stream
    // is narrow and partially aggregates map-side; the only wide
    // exchange is keyed on vec_id.
    "q_pq_assign" -> ((s, dir) => {
      val subs = QueryCaches.cache(pqSubvectors(s, dir))
      val centsArr = pqPackedCodebook(s, dir)
      pqAssignStep(subs, centsArr)
        .groupBy("vec_id")
        .agg(sum(expr("shiftleft(bk % 16, sp * 4)")).as("pq_code"),
          sum(expr("bk div 16")).as("q_err"))
        .orderBy("vec_id")
    }),

    // ADC (asymmetric distance computation) top-k over the PQ codes —
    // how a PQ index is actually SEARCHED: the candidate side carries
    // ONLY its 8 codes (never the float vectors), each query
    // precomputes a 8×16 lookup table of exact subspace distances to
    // every centroid, and a candidate's approximate distance is the
    // sum of 8 table lookups. Relationally the lookup IS an equi-join:
    // candidate (sp, code) against the broadcast query tables'
    // (sp, j), followed by a (query, candidate)-keyed sum — at 100 TB
    // the scan is the 4-byte-per-vector code table and the per-query
    // work is 128 table entries, independent of corpus size. Codes and
    // query tables both come from the TRAINED codebook (two Lloyd
    // iterations, pqTrainedCodebook — the round-8 anchor-only caveat is
    // closed), integer-exact like the assignment, so ranking needs no
    // rounding guard; ties break on vec_id.
    "q_pq_adc_topk" -> ((s, dir) => {
      val subs = QueryCaches.cache(pqSubvectors(s, dir))
      val centsArr = pqPackedCodebook(s, dir)
      // cached: the code side AND the query-table side both read the
      // distance stream; the distance itself runs in the native
      // integer kernel (see pqAssignStep), and the cache keeps only the
      // three ids + dist — the subvector arrays would be 5× dead
      // weight in the stored batches
      val dists = QueryCaches.cache(
        subs.join(broadcast(centsArr), "sp")
        .withColumn("dist", expr(
          "vec_idot(sv, sv) + vec_idot(cs, cs) - 2 * vec_idot(sv, cs)"))
        .select(col("vec_id"), col("sp"), col("j"), col("dist")))
      // candidates keep only their argmin code per subspace (the PQ
      // compression); queries keep the full 8×16 distance table.
      // Same packed-bigint argmin as q_pq_assign: hash-aggregable min.
      val codes = dists.filter(col("vec_id") >= 16)
        .groupBy("vec_id", "sp")
        .agg(min(expr("dist * 16 + j")).as("bk"))
        .select(col("vec_id"), col("sp"), expr("bk % 16").as("code"))
      val qtab = dists.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("sp"),
          col("j").as("code"), col("dist"))
      val adc = codes.join(broadcast(qtab), Seq("sp", "code"))
        .groupBy("query_id", "vec_id")
        .agg(sum(col("dist")).as("adc_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
      adc.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "adc_dist")
        .orderBy("query_id", "rank")
    }),

    // PQ codebook TRAINING — two Lloyd iterations per subspace, closing
    // the round-8 caveat that the PQ codebook was anchor-derived only.
    // Components floor-quantize at 2^10 and then SHIFT by +2048 so every
    // value is non-negative: squared distances are shift-invariant, and
    // the centroid update's integer division (sum div n) only equals
    // floor division in both engines when the numerator cannot go
    // negative. Init = the anchor codebook (subvectors of vec_id < 16);
    // each iteration is an assignment (exact int64 squared distances,
    // argmin packed as dist*16+j so a plain bigint MIN hash-aggregates
    // with map-side combine) and an update (per-component integer mean).
    // Output per surviving centroid: its iteration-2 membership, how far
    // the last update moved it (shift_sq), and a component-sum checksum
    // of the trained codebook — all integer-exact, so both engines agree
    // bit-for-bit. Scale shape: the codebook (<=128 rows x 8 components)
    // BROADCASTS at every assignment; updates are VecSumLongAgg array
    // reductions per (sp, j) — 8-long buffers cross the wire, never an
    // exploded |vectors|·8 component stream — Lloyd's at 100 TB is
    // exactly this loop with more iterations, never an all-pairs
    // product, and empty clusters drop out identically in both engines.
    "q_pq_kmeans" -> ((s, dir) => {
      // steps are the SHARED pqAssignStep/pqUpdateStep — the codebook
      // this query reports on is definitionally the one
      // q_pq_assign/q_pq_adc_topk search against
      val subs = QueryCaches.cache(pqSubvectors(s, dir))
      // c1 feeds assignment 2 AND the shift join; a2 feeds the update
      // AND the membership count — cache both (<=128 and N*8 rows)
      val c1 = QueryCaches.cache(pqUpdateStep(subs,
        pqCodeOf(pqAssignStep(subs, pqAnchorArrays(subs)))))
      val a2 = QueryCaches.cache(pqCodeOf(pqAssignStep(subs, c1)))
      val c2 = pqUpdateStep(subs, a2)
      // convergence diagnostics fold over the two <=128-row packed
      // centroid frames — pure HOF integer arithmetic
      a2.groupBy("sp", "j").agg(count(lit(1)).as("n_members"))
        .join(c2.select(col("sp"), col("j"), col("cs").as("cs2"))
          .join(c1.select(col("sp"), col("j"), col("cs").as("cs1")),
            Seq("sp", "j"))
          .select(col("sp"), col("j"),
            expr("aggregate(zip_with(cs2, cs1, (a, b) -> (a - b) * (a - b)), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("shift_sq"),
            expr("aggregate(cs2, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
              .as("c2_sum")), Seq("sp", "j"))
        .select(col("sp").cast("bigint").as("sp"), col("j"),
          col("n_members"), col("shift_sq"), col("c2_sum"))
        .orderBy("sp", "j")
    }),

    // IVF-PQ residual search (Jégou et al. TPAMI'11 §IV, the FAISS
    // "IVFADC" index) — the full composition every production vector
    // store runs: a coarse quantizer picks nprobe=2 candidate cells by
    // exact distance to the integer cell centroids, and within a cell
    // the candidate is represented ONLY by the PQ codes of its
    // RESIDUAL (vector minus its cell centroid — residuals are what
    // make 4-bit codes accurate: they're centered near zero with far
    // less variance than raw vectors). Queries build one 8×16 ADC
    // table PER PROBED CELL from their own residual against that cell
    // centroid, and a candidate's score is 8 table lookups. Integer-
    // exact end-to-end: 2^10 quantization +2048 shift (cell centroids
    // are integer floor-means — the shift keeps the numerator
    // non-negative so both engines floor identically), residual
    // distances are exact int64, argmins pack as dist·16+j, ranking
    // ties on vec_id. Scale shape: cell centroids (cells×64 rows),
    // the residual codebook (128×8), and the per-query ADC tables
    // (queries×nprobe×128) all BROADCAST; the corpus-side work is one
    // residual pass + code assignment keyed on vec_id, and search
    // touches only the probed cells' code lists — at 100 TB the scan
    // is 4 bytes/vector within nprobe/cells of the corpus.
    "q_ivfpq_search" -> ((s, dir) => {
      val comp = QueryCaches.cache(
        emb(s, dir).select(col("vec_id"), col("label").cast("bigint").as("cell"),
          posexplode(pqShiftedQv).as(Seq("i", "v"))))
      def localDf(sr: (org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.Row])) =
        s.createDataFrame(s.sparkContext.parallelize(sr._2, 1), sr._1)
      // cell centroids + residual codebook are the TRAINED index
      // artifacts — persisted once per fixture like pqPackedCodebook
      // (production trains them once; every search loads them).
      // q_ivf_centroids still measures centroid training itself.
      val cc = localDf(SideStores.memo(s"ivfpq_cc:$dir") {
        val df = comp.groupBy("cell", "i")
          .agg(expr("sum(v) div count(1)").as("c"))
        (df.schema, df.collect().toSeq)
      })
      val cb = localDf(SideStores.memo(s"ivfpq_cb:$dir") {
        val df = comp.filter(col("vec_id") < 16)
          .join(broadcast(cc), Seq("cell", "i"))
          .select(expr("i div 8").as("sp"), col("vec_id").as("j"),
            expr("i % 8").as("d"), (col("v") - col("c")).as("rc"))
        (df.schema, df.collect().toSeq)
      })
      // residual component stream for the corpus side only — the
      // codebook no longer reads it, so queries/codebook rows are
      // filtered out before the centroid join
      val r = QueryCaches.cache(comp.filter(col("vec_id") >= 16)
        .join(broadcast(cc), Seq("cell", "i"))
        .select(col("vec_id"), col("cell"), expr("i div 8").as("sp"),
          expr("i % 8").as("d"), (col("v") - col("c")).as("r")))
      val codes = r
        .join(broadcast(cb), Seq("sp", "d"))
        .groupBy("vec_id", "cell", "sp", "j")
        .agg(sum(expr("(r - rc) * (r - rc)")).as("dist"))
        .groupBy("vec_id", "cell", "sp")
        .agg(min(expr("dist * 16 + j")).as("bk"))
        .select(col("vec_id"), col("cell"), col("sp"), expr("bk % 16").as("code"))
      val qcomp = comp.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("i"), col("v"))
      val qd = qcomp.join(broadcast(cc), Seq("i"))
        .groupBy("query_id", "cell")
        .agg(sum(expr("(v - c) * (v - c)")).as("cdist"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cdist"), col("cell"))
      val probe = qd.withColumn("pr", row_number().over(wp))
        .filter(col("pr") <= 2).select("query_id", "cell")
      val qtab = qcomp.join(broadcast(probe), Seq("query_id"))
        .join(broadcast(cc), Seq("cell", "i"))
        .select(col("query_id"), col("cell"), expr("i div 8").as("sp"),
          expr("i % 8").as("d"), (col("v") - col("c")).as("r"))
        .join(broadcast(cb), Seq("sp", "d"))
        .groupBy("query_id", "cell", "sp", "j")
        .agg(sum(expr("(r - rc) * (r - rc)")).as("dist"))
        .withColumnRenamed("j", "code")
      val adc = codes.join(broadcast(qtab), Seq("cell", "sp", "code"))
        .groupBy("query_id", "vec_id", "cell")
        .agg(sum(col("dist")).as("adc_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_id"))
      adc.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "cell", "adc_dist")
        .orderBy("query_id", "rank")
    }),

    // Matryoshka-style truncation eval: how much retrieval quality do
    // the first 16 of 64 dimensions keep? Per query, the top-10 by
    // exact integer dot over ALL dims vs the top-10 over the 16-dim
    // prefix, reported as the overlap count (recall@10) plus both
    // top-1 ids — the measurement that decides whether a deployment
    // can serve the cheap prefix index and rerank with full vectors.
    // Both dots are integer-exact (2^10 quantization, native vec_idot
    // kernel) so ranks never depend on float summation order. Scale
    // shape: ONE scored pass computes both dots (the prefix dot is a
    // slice, not a second scan), queries broadcast, and the only wide
    // exchange is the per-query WindowGroupLimit rank — at 100 TB the
    // candidate side streams once through the codegen'd kernel.
    "q_mrl_recall" -> ((s, dir) => {
      val qv = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))")
      val base = emb(s, dir).select(col("vec_id"), qv.as("qv"))
        .withColumn("qv16", expr("slice(qv, 1, 16)"))
      val q = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("fq"),
          col("qv16").as("tq"))
      val c = base.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("qv").as("fc"), col("qv16").as("tc"))
      // cached: the full-rank and prefix-rank windows both read it
      val scored = QueryCaches.cache(c.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id"),
          expr("vec_idot(fq, fc)").as("full_dot"),
          expr("vec_idot(tq, tc)").as("trunc_dot")))
      def top(dotCol: String) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col(dotCol).desc, col("vec_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("query_id"), col("vec_id"), col("rank"))
      }
      val f = top("full_dot")
      val t = top("trunc_dot")
      val overlap = f.join(t, Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      f.filter(col("rank") === 1)
        .select(col("query_id"), col("vec_id").as("full_top1"))
        .join(t.filter(col("rank") === 1)
          .select(col("query_id"), col("vec_id").as("trunc_top1")), "query_id")
        .join(overlap, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          col("full_top1"), col("trunc_top1"))
        .orderBy("query_id")
    }),

    // Late-interaction (ColBERT MaxSim) scoring: instead of one dot
    // per (query, doc), each side is a BAG of sub-vectors (here the 8
    // PQ-style 8-dim subspaces stand in for token embeddings) and the
    // score is sum over query sub-vectors of the max dot against any
    // doc sub-vector — the retrieval model where fine-grained term
    // matching beats single-vector pooling. Arithmetic is integer-
    // exact (2^10 quantization, native vec_idot), so the max/sum/rank
    // chain is order-independent. Shape: the query bag (24 rows)
    // BROADCASTS; per candidate the 8x8 interaction matrix reduces
    // map-side through two hash aggregates before the per-query rank.
    // At 100 TB the candidate bag would be IVF-cell-prefiltered first
    // (q_ann_ivf machinery) — here the %7 subset plays that role.
    "q_late_interaction" -> ((s, dir) => {
      val qv = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))")
      val base = emb(s, dir).select(col("vec_id"), qv.as("qv"))
        .select(col("vec_id"), explode(expr("sequence(0, 7)")).as("sp"),
          col("qv"))
        .select(col("vec_id"), col("sp"),
          expr("slice(qv, sp * 8 + 1, 8)").as("sv"))
      val qsubs = base.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("sp").as("q_sp"),
          col("sv").as("qsv"))
      val csubs = base.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 0)
      val scored = csubs.crossJoin(broadcast(qsubs))
        .withColumn("dot", expr("vec_idot(qsv, sv)"))
        .groupBy("query_id", "vec_id", "q_sp")
        .agg(max(col("dot")).as("best"))
        .groupBy("query_id", "vec_id")
        .agg(sum(col("best")).as("maxsim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("maxsim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "maxsim")
        .orderBy("query_id", "rank")
    }),

    // IVF/k-means centroid update (the M-step): per cell (label), the
    // elementwise mean of member embeddings — how a vector index's
    // coarse quantizer is (re)trained. The sum runs in the typed
    // VecSumAgg Aggregator: one 64-double buffer per cell per
    // partition, merged elementwise, so only |cells|·dims doubles cross
    // the shuffle (the posexplode alternative shuffles |vectors|·dims
    // rows). Mean = sum ÷ count in the projection; round(4) absorbs
    // summation-order ulps cross-engine.
    "q_ivf_centroids" -> ((s, dir) => {
      cellMoments(emb(s, dir))
        .withColumnRenamed("n", "n_members")
        .select(col("cell"), col("n_members"),
          posexplode(col("sums")).as(Seq("d", "sum_d")))
        .select(col("cell"), col("n_members"),
          (col("d") + 1).cast("bigint").as("dim"),
          round(col("sum_d") / col("n_members"), 4).as("centroid"))
        .orderBy("cell", "dim")
    }),

    // Incremental IVF maintenance: the index's coarse quantizer kept
    // fresh as new vectors arrive WITHOUT recomputing from scratch —
    // per cell, merge the stored (Σ, n) of the base corpus with the
    // (Σ, n) of the new batch (vec_id % 5 == 0 plays the arriving
    // crawl) and re-derive centroids from the merged moments. The
    // full-outer join covers cells that exist on only one side. The
    // ORACLE is the full recompute over base ∪ batch — the equality
    // "incremental moments == batch rebuild" is exactly the index-
    // maintenance invariant a 100 TB vector store relies on (round(4)
    // absorbs the summation-order ulps of Σ_base + Σ_batch vs Σ_all).
    "q_ivf_update" -> ((s, dir) => {
      val e = emb(s, dir)
      val base = cellMoments(e.filter(col("vec_id") % 5 =!= 0))
      val batch = cellMoments(e.filter(col("vec_id") % 5 === 0))
        .withColumnRenamed("sums", "bsums").withColumnRenamed("n", "bn")
      val zeros = "transform(sequence(1, 64), x -> CAST(0.0 AS DOUBLE))"
      base.join(batch, Seq("cell"), "full_outer")
        .select(col("cell"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("bn"), lit(0L))).as("n_members"),
          expr(s"zip_with(coalesce(sums, $zeros), coalesce(bsums, $zeros), (a, b) -> a + b)")
            .as("merged"))
        .select(col("cell"), col("n_members"),
          posexplode(col("merged")).as(Seq("d", "sum_d")))
        .select(col("cell"), col("n_members"),
          (col("d") + 1).cast("bigint").as("dim"),
          round(col("sum_d") / col("n_members"), 4).as("centroid"))
        .orderBy("cell", "dim")
    }),

    // Multi-probe IVF: instead of searching only the query's own cell
    // (q_ann_ivf), rank ALL cells by query→centroid distance and probe
    // the nearest 2 — the recall/cost knob (`nprobe`) every production
    // IVF index exposes, covering queries that land near a cell
    // boundary. The centroid table is |cells| rows (the coarse
    // quantizer is tiny by construction) and broadcast under every
    // query; the candidate search joins on the probed cell id, so at
    // scale each query reads exactly nprobe posting lists — never the
    // whole corpus. Distances round(4) before the cell ranking (ties
    // break on cell id) so probe choice is cross-engine deterministic.
    "q_ann_ivf_probe2" -> ((s, dir) => {
      val e = QueryCaches.cache(emb(s, dir).withColumn("nrm", norm("embedding")))
      val centroids = cellMoments(e)
        .select(col("cell"),
          expr("transform(sums, x -> round(x / n, 4))").as("centroid"))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val dist = q.crossJoin(broadcast(centroids))
        .withColumn("dist", round(expr(
          """aggregate(zip_with(qe, centroid,
            |  (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
            |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin), 4))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
      val probed = dist
        .withColumn("cell_rank", row_number().over(wc))
        .filter(col("cell_rank") <= 2)
        .select(col("query_id"), col("qe"), col("qn"), col("cell"))
      val cand = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"),
          col("label").cast("bigint").as("cell"))
      val scored = probed.join(cand, "cell")
        .withColumn("sim", round(dot("qe", "ce") / (col("qn") * col("cn")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("cell"), col("vec_id"), col("sim"))
        .orderBy("query_id", "rank")
    }),

    // Near-duplicate embeddings: exact copies injected for vec_id%7==0,
    // found via an exact-equality pass UNIONED with banded multi-bit
    // LSH blocking (4 bands × 16 hyperplanes, candidate = ANY band
    // match — OR-of-bands, the MinHash banding construction applied to
    // hyperplane sign bits, per-key occupancy capped at BandKeyCap —
    // see nearDupPairs for the measured 20× precision-collapse story)
    // then exact-cosine verify ≥ 0.99. The candidate join runs on a
    // SKINNY (vec_id, band_idx, band_val) table — embeddings do not
    // ride the 4×-exploded shuffle; pairs are deduped first and the
    // two verify joins pull vectors back by id from the cached corpus.
    "q_embedding_near_dup" -> ((s, dir) => {
      val corpus = QueryCaches.cache(dupCorpus(s, dir))
      nearDupPairs(corpus)
        .select("id_a", "id_b", "sim")
        .orderBy("id_a", "id_b")
    }),

    // Semantic dedup clustering: the near-dup pair graph (banded-LSH
    // candidates, exact-cosine ≥ 0.99 verified) closed into survivor
    // groups by iterative min-label propagation — the same
    // large-star/small-star shape as q_dedup_cluster, here over
    // EMBEDDING similarity edges instead of content-hash edges. Each
    // iteration is one shuffle-join round; no driver-side graph state.
    // The oracle closes the same edge set with a recursive CTE, so any
    // component shape the pairs form is checked, not just matchings.
    "q_semantic_cluster" -> ((s, dir) => {
      val corpus = QueryCaches.cache(dupCorpus(s, dir))
      // cached: the final label lineage references the edge set once per
      // propagation round — uncached, every round would re-run the whole
      // banded candidate generation + cosine verify
      val pairs = QueryCaches.cache(nearDupPairs(corpus).select("id_a", "id_b"))
      val nodes = corpus.select(col("vec_id").as("id"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      // alternating large-star/small-star to ITS fixpoint (stable edge
      // set), not a fixed round count: a similarity graph's component
      // diameter is data-dependent (chains of gradually drifting
      // near-dups), and the oracle computes the full recursive closure
      // — a hardcoded bound would diverge from it. The star rounds
      // converge in O(log diameter) shuffles vs O(diameter) for plain
      // min-label propagation.
      GraphOps.alternatingStarComponents(nodes, edges)._1
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
        .orderBy("cluster_id")
    }),

    // Corpus-wide k-NN self-join — top-k neighbors for EVERY vector
    // (the building block for SemDeDup-style pruning and diversity-
    // balanced sampling), not just for a fixed query set like the
    // q_ann_* family. Blocking is the IVF cell (label): the self-join
    // shuffles only (cell)-keyed slices, never the N×N product, and at
    // 100 TB the quantizer's cell count is retrained to grow with the
    // corpus so per-cell membership stays bounded. Norms are computed
    // once per vector (cached corpus, read by both join sides), pair
    // scoring is the codegen'd vec_dot kernel, and the per-vector
    // top-k is rank<=k over a window — WindowGroupLimit prunes it to
    // a running top-k per shuffle partition rather than a full sort.
    "q_knn_join" -> ((s, dir) => {
      val e = QueryCaches.cache(
        emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
          .withColumn("nrm", norm("embedding")))
      val a = e.select(col("vec_id"), col("embedding").as("ea"),
        col("nrm").as("na"), col("label"))
      val b = e.select(col("vec_id").as("nbr_id"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("label"))
      val scored = a.join(b, Seq("label"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nbr_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("vec_id"), col("rank"), col("nbr_id"), col("sim"))
    }),

    // HARD-NEGATIVE MINING — the contrastive-training pair op: for
    // each anchor, the k most-similar candidates inside a similarity
    // BAND — semantically close enough to be informative, below the
    // near-dup threshold that would make the "negative" a false one.
    // The band edges are calibrated to the corpus similarity
    // distribution (here the dup-free fixture's within-cell sims are
    // ~N(0, 0.13), so the hard band is its upper tail [0.15, 0.30);
    // a production corpus with real near-dups slides the upper edge
    // to its dedup threshold, e.g. 0.95). Same IVF-cell blocking and
    // WindowGroupLimit top-k as q_knn_join; the band filter sits on
    // the rounded sim so both engines cut identically. At 100 TB this
    // runs as the mining pass between dedup and training, candidate
    // volume bounded by the cell like every ANN path here.
    "q_hard_negatives" -> ((s, dir) => {
      val e = QueryCaches.cache(
        emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
          .withColumn("nrm", norm("embedding")))
      val a = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"), col("embedding").as("ea"),
          col("nrm").as("na"), col("label"))
      val b = e.select(col("vec_id").as("cand_id"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("label"))
      val scored = a.join(b, Seq("label"))
        .filter(col("anchor_id") =!= col("cand_id"))
        .withColumn("sim", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
        .filter(col("sim") >= 0.15 && col("sim") < 0.30)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor_id")).orderBy(col("sim").desc, col("cand_id"))
      scored.withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("anchor_id"), col("rank"), col("cand_id"), col("sim"))
        .orderBy("anchor_id", "rank")
    }),

    // SemDeDup END-TO-END: the semantic-dedup operator as ONE query —
    // coarse cells → per-cell kNN graph → threshold edges → connected
    // components → min-id survivor keep-list. Composition of the
    // machinery the q_ann_*/q_knn_join/q_semantic_cluster queries
    // exercise piecewise: the dup-injected corpus (copies inherit
    // their source's cell — identical embedding, identical quantizer
    // assignment), a within-cell kNN (top-3 by rounded cosine, OR-
    // symmetrized), edges kept at sim ≥ 0.5, closed into components by
    // the O(log d) star-contraction rounds, survivor = component min
    // id. At 100 TB the CELL is what bounds candidate volume: the
    // self-join shuffles only (cell)-keyed slices — candidate pairs
    // scale with Σ|cell|², never corpus², and the quantizer's cell
    // count is retrained to grow with the corpus so per-cell
    // membership stays bounded. kNN then caps edges at 3·N before the
    // component rounds ever see them.
    "q_semdedup" -> ((s, dir) => {
      val base = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("bigint").as("cell"))
      val copies = base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          col("cell"))
      val corpus = QueryCaches.cache(
        base.unionByName(copies).withColumn("nrm", norm("embedding")))
      val a = corpus.select(col("vec_id"), col("embedding").as("ea"),
        col("nrm").as("na"), col("cell"))
      val b = corpus.select(col("vec_id").as("nbr_id"),
        col("embedding").as("eb"), col("nrm").as("nb"), col("cell"))
      val scored = a.join(b, Seq("cell"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nbr_id"))
      // components are CELL-LOCAL (every kNN edge is scored within one
      // quantizer cell), so the survivor labels come from one
      // groupBy(cell) + per-cell min-root union-find instead of global
      // star-contraction rounds — same single-exchange rewrite as
      // q_semdedup_sweep, exact same labels (the union-find roots at
      // the component min id, which is also what star contraction
      // emits). The alternating-star machinery remains the plan for
      // graphs with NO bounding key — q_dedup_cluster exercises it on
      // key-spanning chain components where cell-locality doesn't hold.
      val canonical = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 && col("sim") >= 0.5)
        .select(col("cell"),
          least(col("vec_id"), col("nbr_id")).as("id_a"),
          greatest(col("vec_id"), col("nbr_id")).as("id_b"))
        .distinct()
      val compUdf = udf { (edges: Seq[org.apache.spark.sql.Row]) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { e =>
          val (a, b) = (ufFind(parent, e.getLong(0)), ufFind(parent, e.getLong(1)))
          if (a != b) parent(math.max(a, b)) = math.min(a, b)
        }
        edges.flatMap(e => Seq(e.getLong(0), e.getLong(1))).distinct
          .map(n => (n, ufFind(parent, n)))
      }
      // cached: both output branches (labels union, singleton anti-
      // join) read it — without the cache the groupBy+union-find runs
      // twice
      val touched = QueryCaches.cache(canonical.groupBy("cell")
        .agg(collect_list(struct(col("id_a"), col("id_b"))).as("es"))
        .select(explode(compUdf(col("es"))).as("r"))
        .select(col("r._1").as("vec_id"), col("r._2").as("survivor_id")))
      val singles = corpus.select(col("vec_id"))
        .join(touched.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("vec_id").as("survivor_id"))
      touched.unionByName(singles)
        .select(col("vec_id"), col("survivor_id"),
          when(col("vec_id") === col("survivor_id"), 1L).otherwise(0L)
            .as("kept"))
        .orderBy("vec_id")
    }),

    // SemDeDup epsilon SWEEP — the tuning loop every semantic-dedup
    // deployment runs: how many documents survive at similarity
    // threshold 0.5 vs 0.7 vs 0.9? The expensive work (cell-blocked
    // pairwise scoring + per-vector kNN) happens ONCE into a cached
    // edge set carrying sims; each threshold then only FILTERS that
    // edge set and re-runs the (cheap, edge-count-bounded) component
    // step — one corpus pass, multiple operating points. At 100 TB
    // this is the difference between one Σ|cell|² scoring pass and
    // one per threshold; the per-eps component rounds touch only the
    // surviving edges (monotonically fewer as eps rises).
    "q_semdedup_sweep" -> ((s, dir) => {
      val base = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("bigint").as("cell"))
      val copies = base.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          col("cell"))
      val corpus = QueryCaches.cache(
        base.unionByName(copies).withColumn("nrm", norm("embedding")))
      val a = corpus.select(col("vec_id"), col("embedding").as("ea"),
        col("nrm").as("na"), col("cell"))
      val b = corpus.select(col("vec_id").as("nbr_id"),
        col("embedding").as("eb"), col("nrm").as("nb"), col("cell"))
      val scored = a.join(b, Seq("cell"))
        .filter(col("vec_id") =!= col("nbr_id"))
        .withColumn("sim", round(dot("ea", "eb") / (col("na") * col("nb")), 4))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nbr_id"))
      // SWEEP SHARING (VERDICT r9 item 5), rebuilt on a structural
      // fact: every kNN edge is WITHIN one quantizer cell (scoring is
      // a cell-equijoin), so no component ever spans cells and the
      // whole multi-threshold tuning loop collapses to ONE
      // groupBy(cell) + a per-cell union-find that answers all three
      // thresholds from the same in-memory edge list. This replaces
      // the previous per-eps global star contractions (3 × O(log d)
      // checkpointed shuffle rounds) with a single exchange — at
      // 100 TB per-cell membership stays bounded by quantizer
      // retraining, so the local union-find is O(|cell| α) and the
      // shuffle volume is just the canonical edge set. Nodes with no
      // surviving edge at a threshold are kept singletons, counted
      // arithmetically off the cached corpus total. (Two alternatives
      // measured and rejected: finest-first label-contraction chain —
      // 3.5× slower, the label-map joins cost more than the star
      // rounds they saved; edge-incident-only star runs — no gain,
      // the per-round checkpoint+signature jobs dominate, not node
      // volume.)
      val canonical = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 && col("sim") >= 0.5)
        .select(col("cell"),
          least(col("vec_id"), col("nbr_id")).as("id_a"),
          greatest(col("vec_id"), col("nbr_id")).as("id_b"), col("sim"))
        .distinct()
      val epsList = Seq(0.5, 0.7, 0.9)
      val sweepUdf = udf { (edges: Seq[org.apache.spark.sql.Row]) =>
        epsList.map { eps =>
          val es = edges.filter(_.getDouble(2) >= eps)
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          es.foreach { e =>
            val (a, b) = (ufFind(parent, e.getLong(0)), ufFind(parent, e.getLong(1)))
            if (a != b) parent(math.max(a, b)) = math.min(a, b)
          }
          val touched = es.flatMap(e => Seq(e.getLong(0), e.getLong(1))).distinct
          val comps = touched.map(ufFind(parent, _)).distinct.size
          (eps, es.size.toLong, (touched.size - comps).toLong)
        }
      }
      val nTotal = corpus.count() // one cached-count job, shared 3×
      val sums = canonical
        .groupBy("cell")
        .agg(collect_list(struct(col("id_a"), col("id_b"), col("sim"))).as("es"))
        .select(explode(sweepUdf(col("es"))).as("r"))
        .groupBy(col("r._1").as("eps"))
        .agg(sum(col("r._2")).as("n_pairs"), sum(col("r._3")).as("n_dropped"))
      import s.implicits._
      // left join against the literal eps frame: zero-edge thresholds
      // must still emit a row (all kept), not vanish
      epsList.toDF("eps").join(sums, Seq("eps"), "left")
        .select(col("eps"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          (lit(nTotal) - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy("eps")
    }),

    // Corpus covariance matrix over the embedding space — the moment
    // computation under PCA/whitening and drift monitoring. Per row, a
    // codegen'd HOF builds the dims²/2 upper-triangle products; ONE
    // typed-Aggregator reduce (map-side combined — only 2080-long
    // buffers cross the wire, never |rows|·dims² exploded cells) yields
    // the gram vector and the mean vector together, and a broadcast
    // (i, j, k) index table unflattens the triangle arithmetically
    // (closed-form offset, no sort, no window). At 100 TB this is one
    // narrow scan + one 2 KB-state reduction — the cheapest possible
    // shape for a second-moment pass.
    //
    // NUMERIC DISCIPLINE (the round-7 red row, fixed): the naive
    // E[xy]−E[x]E[y] in doubles suffers catastrophic cancellation AND
    // partition-order-dependent sums, so entries near a round(·,4)
    // boundary landed on different sides than DuckDB's covar_pop.
    // Instead each float32 component is floor-quantized to an integer
    // s = ⌊x·2²⁰⌋ (the ·2²⁰ product of a float32-exact double is exact —
    // power-of-two scaling — and floor of a double is deterministic in
    // every IEEE engine), all moment sums run in int64 (exact,
    // order-independent), the cross term n·Sxy − Sx·Sy is combined in
    // DECIMAL(38,0) (Sxy ≈ 2^50 at sf0.1 — n· would brush int64), and
    // only the final division happens in double — both engines divide
    // the SAME exact integers, so the quotient is bit-identical.
    // Quantization bias is ≤ 2·E|x|/2²⁰ ≈ 4e-7, two orders below the
    // 4-dp output granularity. The oracle mirrors the quantization.
    // r16 shape note: this originally accumulated the 2080 triangle
    // products per row through nested interpreted HOF lambdas into the
    // boxed Seq[Long] UDAF (VecSumLongAgg) — which the bench's old
    // count() action never executed (a 1-row-aggregate cross join
    // counts without evaluating; the Bench.consume fix exposed the
    // real cost: 38.7 s at sf0.1). The rewrite is the codegen-native
    // relational form of the same exact integer moment pass: posexplode
    // the quantized vector, per-vector equi-self-join (i ≤ j triangle,
    // fan-out a constant 2080 per vector), ONE map-side-combinable
    // hash aggregate to the bounded 2080-cell frame, margins from a
    // second 64-group aggregate of the same exploded frame — every
    // operator whole-stage codegen'd, no boxing. Measured 38.7 → ~1 s.
    // int64 bound: |q| ≤ 2^20, products ≤ 2^40, so the cell sums wrap
    // past ~2^23 vectors — same documented bound as q_pca_power's
    // moment pass (DECIMAL(38,0) is the at-scale path).
    "q_embed_covariance" -> ((s, dir) => {
      val quant = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
      val ex = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), posexplode(quant).as(Seq("p", "q")))
        .select(col("vec_id"), (col("p") + 1).cast("bigint").as("i"),
          col("q"))
      val cells = ex.as("a").join(ex.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(expr("a.q * b.q")).as("gsum"))
      val margins = ex.groupBy("i")
        .agg(sum(col("q")).as("mi"), count(lit(1)).as("n"))
      cells
        .join(broadcast(margins.select(col("i"), col("mi").as("m_i"),
          col("n"))), "i")
        .join(broadcast(margins.select(col("i").as("j"),
          col("mi").as("m_j"))), "j")
        // the trailing “+ 0.0” canonicalizes IEEE −0.0 → 0.0: DuckDB's
        // round yields −0.0 for tiny negatives where Spark yields 0.0,
        // and the hash gate distinguishes them
        .select(col("i"), col("j"), (round(expr(
          """CAST(CAST(gsum AS DECIMAL(38, 0)) * CAST(n AS DECIMAL(38, 0)) -
            |     CAST(m_i AS DECIMAL(38, 0)) *
            |     CAST(m_j AS DECIMAL(38, 0)) AS DOUBLE) /
            |CAST(n * n AS DOUBLE) / 1099511627776.0""".stripMargin), 4) + lit(0.0)).as("cov"))
        .orderBy("i", "j")
    }),

    // Embedding-centroid drift — the distribution-shift monitor a
    // production embedding pipeline runs per slice (here: per label,
    // the fixture's natural class key): cosine between each slice's
    // centroid and the corpus centroid. A slice whose centroid swings
    // away from the global mean signals ingest drift / a poisoned
    // shard / an encoder rollout gone wrong — the check published
    // feature-store monitors run. Numerics: the q_embed_covariance
    // discipline end-to-end — floats quantized to 2^20-scaled BIGINTs
    // (exact map-side-combinable integer sums; no float-order
    // nondeterminism), centroids kept as raw SUMS (cosine is scale-
    // invariant, so sum ≡ mean and no division enters the integer
    // path), dot/norm products in DECIMAL(38,0) (per-dim sums reach
    // ~6e11 at fixture scale; their products overflow int64), one
    // double division at the end, round(_, 4) + 0.0 to canonicalize
    // −0.0. Shape: one label-keyed vector-sum aggregate over the
    // corpus (the only corpus-sized exchange), then everything runs
    // on the BOUNDED |labels| frame with the 1-row global broadcast.
    "q_centroid_drift" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val vecsuml = udaf(graft.functions.VecSumLongAgg,
        ExpressionEncoder[Seq[Long]]())
      val quant = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
      val groups = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("label").cast("bigint").as("label"), quant.as("qv"))
        .groupBy("label")
        .agg(vecsuml(col("qv")).as("g"), count(lit(1)).as("n_vecs"))
        // bounded |labels| frame off the one corpus aggregate,
        // consumed twice (global derivation + output) — the
        // q_apportionment pattern; without it the global sum re-scans
        // the corpus (PlanShapeSpec pins the single scan)
        .transform(QueryCaches.cache(_))
      val global = groups.agg(vecsuml(col("g")).as("gg"))
      def dotDec(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b,
           |  (x, y) -> CAST(x AS DECIMAL(38, 0)) * y),
           |  CAST(0 AS DECIMAL(38, 0)), (acc, v) -> acc + v)""".stripMargin)
      groups.crossJoin(broadcast(global))
        .withColumn("dot", dotDec("g", "gg"))
        .withColumn("n2a", dotDec("g", "g"))
        .withColumn("n2b", dotDec("gg", "gg"))
        .select(col("label"), col("n_vecs"),
          (round(expr(
            """CAST(dot AS DOUBLE) /
              |(sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE)))"""
              .stripMargin), 4) + lit(0.0)).as("drift_cos"))
        .orderBy("label")
    }),

    // Embedding OUTLIER audit — the per-slice quality gate that
    // catches mis-embedded rows (corrupt inputs, wrong-encoder shards,
    // label noise): a vector is an outlier when its squared distance
    // to its label centroid exceeds 4× the label mean. EXACT integers
    // throughout, no centroid division: with s = Σq (label sum) and
    // n = |label|, n²·d²(v) = |n·q − s|² — so the flag
    // n·D_v > 4·ΣD_v (cross-multiplied mean test) and the reported
    // ratio D_v·10⁴ div ΣD are division-free/deterministic. Products
    // reach ~1e22, so D is DECIMAL(38,0) / HUGEINT (the
    // q_embed_covariance discipline). Shape: one label-keyed
    // vector-sum aggregate (bounded frame, broadcast back), a second
    // corpus pass computing D_v per vector (map-side: broadcast join
    // + codegen'd zip_with), ONE label-keyed window for ΣD, then the
    // bounded label aggregate — shuffles keyed on label only. The
    // worst offender rides along via max_by(vec_id, D).
    "q_embedding_outliers" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val vecsuml = udaf(graft.functions.VecSumLongAgg,
        ExpressionEncoder[Seq[Long]]())
      val quant = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
      val q = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("label").cast("bigint").as("label"),
          quant.as("qv"))
      val sums = q.groupBy("label")
        .agg(vecsuml(col("qv")).as("sv"), count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("label")
      q.join(broadcast(sums), "label")
        .withColumn("dd", expr(
          """aggregate(zip_with(qv, sv, (x, y) ->
            |  CAST(n * x - y AS DECIMAL(38, 0)) * (n * x - y)),
            |  CAST(0 AS DECIMAL(38, 0)), (acc, v) -> acc + v)"""
            .stripMargin))
        .withColumn("tot", sum(col("dd")).over(w))
        // deterministic worst pick: max vec_id among the max-D rows
        // (a bare max_by ties nondeterministically on duplicate
        // vectors — the q_dedup_keep_best lesson)
        .withColumn("mxdd", max(col("dd")).over(w))
        .groupBy("label")
        .agg(max(col("n")).as("n_vecs"),
          sum(when(expr("n * dd > 4 * tot"), 1L).otherwise(0L))
            .as("n_outliers"),
          max(expr("CAST(dd * 10000 div tot AS BIGINT)"))
            .as("max_ratio_pm"),
          max(when(col("dd") === col("mxdd"), col("vec_id")))
            .as("worst_vec"))
        .orderBy("label")
    }),

    // Top principal direction of the embedding covariance by POWER
    // ITERATION — the PCA step an embedding pipeline runs for drift
    // axes, whitening, and anisotropy analysis. The covariance enters
    // as the exact integer matrix A_ij = n·Σxᵢxⱼ − ΣxᵢΣxⱼ (the
    // q_embed_covariance moments, 2^20-quantized — A = n²·2^40·Cov,
    // and eigenvectors are scale-invariant). Division of labor is the
    // IVF-codebook one: the CORPUS work (the 4096-element
    // outer-product vector-sum, map-side combinable) is the one
    // distributed pass; the 64×64 eigen-iteration on its 1-row result
    // is INDEX MATH and runs driver-side in exact BigInt, memoized per
    // fixture (SideStores.memo — the collect is a bounded 1-row
    // artifact, not a corpus collect). A first cut ran the 8 matvecs
    // relationally: each iterate references its predecessor twice
    // (once directly, once under the renormalization aggregate), so
    // the physical plan doubles per iteration — 2^8 copies of the
    // matrix join, measured 227 s at sf0.1 vs 0.28 s for the identical
    // corpus pass in q_embed_covariance. Lesson recorded: fixed-point
    // iteration over a BOUNDED frame belongs on the driver (or behind
    // per-step materialization); only corpus-sized work belongs in the
    // plan. Iteration: five rescaled matrix SQUARINGS (gap
    // amplification — see the in-body note) then eight matvecs with
    // v' = ⌊w·2^20 / max|w|⌋ — BigInt `/` truncates toward zero
    // exactly like DuckDB HUGEINT `//` (measured: −7 // 2 = −3), so
    // the oracle's unrolled-CTE iterates are bit-identical and the
    // gate hash-matches. Convergence to the dominant eigen-direction
    // (not just formula agreement) is what the spec checks: cos
    // against an independent floating eigh-style reference ≥ 0.999.
    // Output: the 64 components at 2^20 scale + the Rayleigh-quotient
    // eigenvalue of Cov.
    "q_pca_power" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      import s.implicits._
      val (vOut, lambda1) = SideStores.memo(s"pca_power:$dir") {
        val vecsuml = udaf(graft.functions.VecSumLongAgg,
          ExpressionEncoder[Seq[Long]]())
        val quant = expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
        val outer = expr(
          """flatten(transform(sequence(1, 64), i ->
            |  transform(sequence(1, 64), j ->
            |    element_at(qv, CAST(i AS INT)) *
            |    element_at(qv, CAST(j AS INT)))))""".stripMargin)
        val row = s.read.parquet(s"$dir/embeddings.parquet")
          .select(quant.as("qv"))
          .select(outer.as("op"), col("qv"))
          .agg(vecsuml(col("op")).as("g"), vecsuml(col("qv")).as("m"),
            count(lit(1)).as("n"))
          .head()
        val g = row.getSeq[Long](0)
        val m = row.getSeq[Long](1)
        val n = row.getLong(2)
        // int64 headroom of the raw moment pass (ADVICE r15): each
        // outer-product term is ≤ 2^40 (|qv_i| ≤ 2^20), so the int64
        // sums wrap once n exceeds ~2^23 vectors. The exact-BigInt
        // stage below starts FROM these sums, so an overflow would
        // surface as a silent oracle divergence — fail loudly instead.
        // (At real scale the fix is a DECIMAL(38,0) moment pass, the
        // q_embedding_outliers pattern; not needed at fixture scales.)
        require(n <= (1L << 23),
          s"q_pca_power int64 moment pass overflows beyond 2^23 rows (n=$n)")
        val a = Array.tabulate(64, 64)((i, j) =>
          BigInt(g(i * 64 + j)) * n - BigInt(m(i)) * m(j))
        def matvec(v: Array[BigInt]): Array[BigInt] =
          Array.tabulate(64)(i =>
            (0 until 64).foldLeft(BigInt(0))((acc, j) => acc + a(i)(j) * v(j)))
        def rescale(x: Array[Array[BigInt]]): Array[Array[BigInt]] = {
          val mx = x.map(_.map(_.abs).max).max max BigInt(1)
          x.map(_.map(e => e * 1048576 / mx)) // BigInt / truncates to zero
        }
        // GAP AMPLIFICATION by repeated squaring: the fixture's
        // covariance spectrum is nearly flat (λ2/λ1 ≈ 0.93 measured),
        // so plain power iteration needs 100+ steps; five elementwise-
        // rescaled squarings iterate on B = A^32 (gap 0.93^32 ≈ 0.10)
        // and eight matvecs then converge to machine direction
        // (cos = 1.000000 vs an eigh reference). The rescale before
        // the FIRST squaring also bounds every entry at 2^20, keeping
        // all downstream products inside int64/HUGEINT at any corpus
        // size.
        var b = rescale(a)
        for (_ <- 1 to 5) {
          val bb = Array.tabulate(64, 64)((i, j) =>
            (0 until 64).foldLeft(BigInt(0))((acc, k) =>
              acc + b(i)(k) * b(k)(j)))
          b = rescale(bb)
        }
        def matvecB(v: Array[BigInt]): Array[BigInt] =
          Array.tabulate(64)(i =>
            (0 until 64).foldLeft(BigInt(0))((acc, j) => acc + b(i)(j) * v(j)))
        var v = Array.fill(64)(BigInt(1048576))
        for (_ <- 1 to 8) {
          val w = matvecB(v)
          val mx = w.map(_.abs).max max BigInt(1)
          v = w.map(x => x * 1048576 / mx)
        }
        // Rayleigh quotient against the ORIGINAL moment matrix — the
        // eigenvalue reported is Cov's, not the amplified iterate's
        val w9 = matvec(v)
        val num = (0 until 64).foldLeft(BigInt(0))((acc, i) => acc + w9(i) * v(i))
        val den = (0 until 64).foldLeft(BigInt(0))((acc, i) => acc + v(i) * v(i))
        val lam = num.toDouble / den.toDouble / n.toDouble / n.toDouble /
          1099511627776.0
        (v.map(_.toLong).toSeq, math.round(lam * 1e6) / 1e6)
      }
      vOut.zipWithIndex
        .map { case (vs, i) => (i + 1L, vs) }
        .toDF("i", "v_scaled")
        .withColumn("lambda1", lit(lambda1))
        .orderBy("i")
    }),
  )

  // ---- oracles -----------------------------------------------------

  // constant 64-dim bound: DuckDB's generate_series table function
  // cannot take correlated (lateral) arguments like len($a)
  /** Shared DuckDB CTE text (`bands`, `kept`, `cand`) mirroring
    * [[nearDupPairs]]'s capped-LSH + exact-equality candidate
    * generation — both near-dup oracles compose over it so the two
    * engines' banding, per-key cap and exact pass can never drift
    * apart. Assumes a `corpus(vec_id, embedding)` CTE upstream. NOTE:
    * pre-stripped margins; interpolated fragments stay mid-line
    * (stripMargin pipe-eating trap, see Manifest.scala).
    */
  private lazy val nearDupCandSqlCtes: String =
    s"""bands AS (
       |  SELECT vec_id, jt.j AS band_idx,
       |         (SELECT CAST(sum(CASE WHEN (
       |            SELECT sum((CASE WHEN (((jt.j * 16 + kt.k) * 64 + d.i - 1) * 37) % 97 < 48
       |                        THEN 1.0 ELSE -1.0 END)
       |                       * CAST(embedding[d.i] AS DOUBLE))
       |            FROM generate_series(1, 64) d(i)) > 0
       |           THEN (CAST(1 AS BIGINT) << kt.k) ELSE 0 END) AS BIGINT)
       |          FROM generate_series(0, 15) kt(k)) AS band_val
       |  FROM corpus, generate_series(0, 3) jt(j)
       |),
       |kept AS (
       |  SELECT band_idx, band_val FROM bands
       |  GROUP BY 1, 2
       |  HAVING (SELECT count(*) FROM corpus) <= $SmallCorpusCutoff
       |      OR count(*) <= $BandKeyCap
       |),
       |cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |    FROM bands a
       |    JOIN kept ka ON a.band_idx = ka.band_idx AND a.band_val = ka.band_val
       |    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |               AND a.vec_id < b.vec_id
       |    UNION ALL
       |    SELECT x.vec_id AS id_a, y.vec_id AS id_b
       |    FROM corpus x JOIN corpus y
       |      ON x.embedding = y.embedding AND x.vec_id < y.vec_id
       |  )
       |)""".stripMargin

  private val dotSql: (String, String) => String = (a, b) =>
    s"(SELECT sum(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) FROM generate_series(1, 64) t(i))"

  /** Full centroid recompute over all vectors — the oracle for BOTH
    * q_ivf_centroids (direct) and q_ivf_update (the incremental-moments
    * result must equal a from-scratch rebuild).
    */
  private val ivfFullRecomputeSql: String =
    """WITH ex AS (
      |  SELECT CAST(label AS BIGINT) AS cell, t.i AS dim,
      |         CAST(embedding[t.i] AS DOUBLE) AS x
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |)
      |SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
      |       CAST(dim AS BIGINT) AS dim,
      |       round(sum(x) / count(*), 4) AS centroid
      |FROM ex GROUP BY cell, dim ORDER BY cell, dim""".stripMargin

  /** Shared oracle CTE fragment mirroring pqTrainedCodebook:
    * the +2048-shifted component stream and two Lloyd iterations from
    * the anchor init, ending in the trained codebook `c2`. Pre-
    * stripMargin'd — interpolate at line ends only (see the
    * stripMargin gotcha in etl/Manifest.scala).
    */
  private val pqTrainSql: String =
    """comp AS (
      |  SELECT vec_id, (u.i - 1) // 8 AS sp, (u.i - 1) % 8 AS d,
      |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) + 2048 AS v
      |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
      |),
      |c0 AS (SELECT sp, vec_id AS j, d, v AS c FROM comp WHERE vec_id < 16),
      |d1 AS (
      |  SELECT m.vec_id, m.sp, c.j,
      |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
      |  FROM comp m JOIN c0 c ON c.sp = m.sp AND c.d = m.d
      |  GROUP BY 1, 2, 3
      |),
      |a1 AS (SELECT vec_id, sp, min(dist * 16 + j) % 16 AS j FROM d1 GROUP BY 1, 2),
      |c1 AS (
      |  SELECT m.sp, a.j, m.d, sum(m.v) // count(*) AS c
      |  FROM a1 a JOIN comp m ON m.vec_id = a.vec_id AND m.sp = a.sp
      |  GROUP BY 1, 2, 3
      |),
      |d2 AS (
      |  SELECT m.vec_id, m.sp, c.j,
      |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
      |  FROM comp m JOIN c1 c ON c.sp = m.sp AND c.d = m.d
      |  GROUP BY 1, 2, 3
      |),
      |a2 AS (SELECT vec_id, sp, min(dist * 16 + j) % 16 AS j FROM d2 GROUP BY 1, 2),
      |c2 AS (
      |  SELECT m.sp, a.j, m.d, sum(m.v) // count(*) AS c
      |  FROM a2 a JOIN comp m ON m.vec_id = a.vec_id AND m.sp = a.sp
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** Shared oracle CTE fragment mirroring the full-vector coarse-
    * quantizer training (trainedCells): the 64-dim shifted component
    * stream and two Lloyd iterations from the vec_id < k anchors,
    * ending in trained centroids `k2` plus the final assignment `b2`.
    * All-integer, so both engines agree bit-for-bit. `kk` computes the
    * SAME corpus-derived cell count as [[coarseK]] —
    * clamp(floor(sqrt(N/40)), 16, 256); floor∘sqrt of an exact integer
    * is deterministic cross-engine (IEEE sqrt is correctly rounded).
    */
  private val cellTrainSql: String =
    """kk AS (
      |  SELECT GREATEST(16, LEAST(256,
      |    CAST(floor(sqrt(CAST(count(*) // 40 AS DOUBLE))) AS BIGINT))) AS k
      |  FROM embeddings
      |),
      |qcomp AS (
      |  SELECT vec_id, u.i - 1 AS i,
      |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) + 2048 AS v
      |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
      |),
      |k0 AS (SELECT vec_id AS j, i, v AS c FROM qcomp, kk WHERE vec_id < kk.k),
      |e1 AS (
      |  SELECT m.vec_id, c.j,
      |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
      |  FROM qcomp m JOIN k0 c ON c.i = m.i
      |  GROUP BY 1, 2
      |),
      |b1 AS (SELECT vec_id, min(dist * k + j) % k AS j FROM e1, kk GROUP BY vec_id, k),
      |k1 AS (
      |  SELECT a.j, m.i, sum(m.v) // count(*) AS c
      |  FROM b1 a JOIN qcomp m ON m.vec_id = a.vec_id
      |  GROUP BY 1, 2
      |),
      |e2 AS (
      |  SELECT m.vec_id, c.j,
      |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
      |  FROM qcomp m JOIN k1 c ON c.i = m.i
      |  GROUP BY 1, 2
      |),
      |b2 AS (SELECT vec_id, min(dist * k + j) % k AS j FROM e2, kk GROUP BY vec_id, k),
      |k2 AS (
      |  SELECT a.j, m.i, sum(m.v) // count(*) AS c
      |  FROM b2 a JOIN qcomp m ON m.vec_id = a.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_random_projection" -> {
      val signList = s"[${rpSigns.mkString(",")}]"
      s"""WITH v AS (
         |  SELECT vec_id,
         |         list_transform(embedding,
         |           x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))
         |           AS qv
         |  FROM embeddings WHERE vec_id % 50 IN (0, 1)
         |),
         |p AS (
         |  SELECT vec_id, qv,
         |         list_transform(generate_series(1, 16), j ->
         |           CAST(list_sum(list_transform(generate_series(1, 64),
         |             i -> qv[i] * ($signList)[(i - 1) * 16 + j]))
         |           AS BIGINT)) AS pv
         |  FROM v
         |),
         |pairs AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(list_sum(list_transform(generate_series(1, 64),
         |           i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
         |           AS BIGINT) AS d2_orig,
         |         CAST(list_sum(list_transform(generate_series(1, 16),
         |           j -> (a.pv[j] - b.pv[j]) * (a.pv[j] - b.pv[j])))
         |           AS BIGINT) AS d2_proj
         |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
         |  WHERE a.vec_id % 50 = 0
         |)
         |SELECT a_id, b_id, d2_orig, d2_proj,
         |       CAST(d2_proj * 10000 // nullif(16 * d2_orig, 0) AS BIGINT)
         |         AS ratio_pm
         |FROM pairs ORDER BY a_id""".stripMargin
    },

    "q_ivf_centroids" -> ivfFullRecomputeSql,
    "q_ivf_update" -> ivfFullRecomputeSql,

    "q_ivf_train" ->
      s"""WITH $cellTrainSql
         |SELECT CAST(nm.j AS BIGINT) AS j, nm.n_members, s.shift_sq, s.c2_sum
         |FROM (SELECT j, count(*) AS n_members FROM b2 GROUP BY 1) nm
         |JOIN (
         |  SELECT c2.j,
         |         CAST(sum((c2.c - c1.c) * (c2.c - c1.c)) AS BIGINT) AS shift_sq,
         |         CAST(sum(c2.c) AS BIGINT) AS c2_sum
         |  FROM k2 c2 JOIN k1 c1 ON c1.j = c2.j AND c1.i = c2.i
         |  GROUP BY 1
         |) s ON s.j = nm.j
         |ORDER BY j""".stripMargin,

    "q_knn_join" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr_id,
         |         round(${dotSql("a.embedding", "b.embedding")} /
         |               (sqrt(${dotSql("a.embedding", "a.embedding")})
         |                * sqrt(${dotSql("b.embedding", "b.embedding")})), 4) AS sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
         |),
         |ranked AS (
         |  SELECT vec_id, nbr_id, sim,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rank
         |  FROM scored
         |)
         |SELECT vec_id, rank, nbr_id, sim FROM ranked
         |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         |         round(${dotSql("a.embedding", "b.embedding")} /
         |               (sqrt(${dotSql("a.embedding", "a.embedding")})
         |                * sqrt(${dotSql("b.embedding", "b.embedding")})), 4) AS sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 10
         |),
         |banded AS (SELECT * FROM scored WHERE sim >= 0.15 AND sim < 0.30),
         |ranked AS (
         |  SELECT anchor_id, cand_id, sim,
         |         row_number() OVER (PARTITION BY anchor_id
         |                            ORDER BY sim DESC, cand_id) AS rank
         |  FROM banded
         |)
         |SELECT anchor_id, rank, cand_id, sim FROM ranked
         |WHERE rank <= 3 ORDER BY anchor_id, rank""".stripMargin,

    "q_semdedup" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS cell FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding, CAST(label AS BIGINT)
         |  FROM embeddings WHERE vec_id % 7 = 0
         |),
         |scored AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS nid,
         |         round(${dotSql("a.embedding", "b.embedding")} /
         |               (sqrt(${dotSql("a.embedding", "a.embedding")})
         |                * sqrt(${dotSql("b.embedding", "b.embedding")})), 4) AS sim
         |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |),
         |knn AS (
         |  SELECT vid, nid FROM (
         |    SELECT vid, nid, sim,
         |           row_number() OVER (PARTITION BY vid ORDER BY sim DESC, nid) AS rnk
         |    FROM scored
         |  ) WHERE rnk <= 3 AND sim >= 0.5
         |),
         |pairs AS (
         |  SELECT DISTINCT least(vid, nid) AS id_a, greatest(vid, nid) AS id_b
         |  FROM knn
         |),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(id, label) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
         |),
         |comp AS (SELECT id, min(label) AS survivor_id FROM reach GROUP BY id)
         |SELECT id AS vec_id, survivor_id,
         |       CAST(CASE WHEN id = survivor_id THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM comp ORDER BY vec_id""".stripMargin,

    "q_semdedup_sweep" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding, CAST(label AS BIGINT) AS cell FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding, CAST(label AS BIGINT)
         |  FROM embeddings WHERE vec_id % 7 = 0
         |),
         |scored AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS nid,
         |         round(${dotSql("a.embedding", "b.embedding")} /
         |               (sqrt(${dotSql("a.embedding", "a.embedding")})
         |                * sqrt(${dotSql("b.embedding", "b.embedding")})), 4) AS sim
         |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |),
         |knn AS (
         |  SELECT vid, nid, sim FROM (
         |    SELECT vid, nid, sim,
         |           row_number() OVER (PARTITION BY vid ORDER BY sim DESC, nid) AS rnk
         |    FROM scored
         |  ) WHERE rnk <= 3 AND sim >= 0.5
         |),
         |p05 AS (SELECT DISTINCT least(vid, nid) AS id_a, greatest(vid, nid) AS id_b
         |        FROM knn WHERE sim >= 0.5),
         |e05 AS (SELECT id_a AS src, id_b AS dst FROM p05
         |        UNION ALL SELECT id_b, id_a FROM p05),
         |r05(id, label) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT e.dst, r.label FROM r05 r JOIN e05 e ON e.src = r.id
         |),
         |c05 AS (SELECT id, min(label) AS lbl FROM r05 GROUP BY id),
         |p07 AS (SELECT DISTINCT least(vid, nid) AS id_a, greatest(vid, nid) AS id_b
         |        FROM knn WHERE sim >= 0.7),
         |e07 AS (SELECT id_a AS src, id_b AS dst FROM p07
         |        UNION ALL SELECT id_b, id_a FROM p07),
         |r07(id, label) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT e.dst, r.label FROM r07 r JOIN e07 e ON e.src = r.id
         |),
         |c07 AS (SELECT id, min(label) AS lbl FROM r07 GROUP BY id),
         |p09 AS (SELECT DISTINCT least(vid, nid) AS id_a, greatest(vid, nid) AS id_b
         |        FROM knn WHERE sim >= 0.9),
         |e09 AS (SELECT id_a AS src, id_b AS dst FROM p09
         |        UNION ALL SELECT id_b, id_a FROM p09),
         |r09(id, label) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT e.dst, r.label FROM r09 r JOIN e09 e ON e.src = r.id
         |),
         |c09 AS (SELECT id, min(label) AS lbl FROM r09 GROUP BY id)
         |SELECT CAST(0.5 AS DOUBLE) AS eps,
         |       (SELECT count(*) FROM p05) AS n_pairs,
         |       CAST(sum(CASE WHEN id = lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN id = lbl THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM c05
         |UNION ALL
         |SELECT CAST(0.7 AS DOUBLE),
         |       (SELECT count(*) FROM p07),
         |       CAST(sum(CASE WHEN id = lbl THEN 1 ELSE 0 END) AS BIGINT),
         |       CAST(sum(CASE WHEN id = lbl THEN 0 ELSE 1 END) AS BIGINT)
         |FROM c07
         |UNION ALL
         |SELECT CAST(0.9 AS DOUBLE),
         |       (SELECT count(*) FROM p09),
         |       CAST(sum(CASE WHEN id = lbl THEN 1 ELSE 0 END) AS BIGINT),
         |       CAST(sum(CASE WHEN id = lbl THEN 0 ELSE 1 END) AS BIGINT)
         |FROM c09
         |ORDER BY eps""".stripMargin,

    // Mirrors the query's floor-quantized integer moments exactly: both
    // engines sum the SAME int64s (DuckDB's sum(BIGINT) widens to
    // HUGEINT — exact) and divide the same integers, so the hash gate
    // never depends on float summation order or libm.
    "q_embed_covariance" ->
      """WITH p AS (
        |  SELECT e.vec_id, g.i AS i,
        |         CAST(floor(CAST(e.embedding[g.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS s
        |  FROM embeddings e, generate_series(1, 64) g(i)
        |),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |mom AS (SELECT i, sum(s) AS sx FROM p GROUP BY i),
        |gram AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.s * b.s) AS sxy
        |  FROM p a JOIN p b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY a.i, b.i
        |)
        |SELECT g.i AS i, g.j AS j,
        |       round(CAST(nn.n * g.sxy - mi.sx * mj.sx AS DOUBLE)
        |             / CAST(nn.n * nn.n AS DOUBLE) / 1099511627776.0, 4) + 0.0 AS cov
        |FROM gram g, nn, mom mi, mom mj
        |WHERE mi.i = g.i AND mj.i = g.j
        |ORDER BY g.i, g.j""".stripMargin,

    "q_ann_ivf_probe2" ->
      s"""WITH cent AS (
         |  SELECT CAST(label AS BIGINT) AS cell, t.i AS dim,
         |         round(sum(CAST(embedding[t.i] AS DOUBLE)) / count(*), 4) AS c_d
         |  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
         |  GROUP BY cell, t.i
         |),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |dist AS (
         |  SELECT q.query_id, c.cell,
         |         round(sum((CAST(qe[c.dim] AS DOUBLE) - c.c_d)
         |                   * (CAST(qe[c.dim] AS DOUBLE) - c.c_d)), 4) AS dist
         |  FROM q CROSS JOIN cent c
         |  GROUP BY q.query_id, c.cell
         |),
         |probed AS (
         |  SELECT query_id, cell FROM (
         |    SELECT query_id, cell,
         |           row_number() OVER (PARTITION BY query_id ORDER BY dist, cell) AS cr
         |    FROM dist)
         |  WHERE cr <= 2
         |),
         |cand AS (
         |  SELECT vec_id, embedding AS ce, CAST(label AS BIGINT) AS cell
         |  FROM embeddings WHERE vec_id >= 5
         |),
         |scored AS (
         |  SELECT p.query_id, ca.cell, ca.vec_id,
         |         round(${dotSql("q.qe", "ca.ce")} /
         |               (sqrt(${dotSql("q.qe", "q.qe")}) * sqrt(${dotSql("ca.ce", "ca.ce")})), 4) AS sim
         |  FROM probed p
         |  JOIN q ON q.query_id = p.query_id
         |  JOIN cand ca ON ca.cell = p.cell
         |),
         |ranked AS (
         |  SELECT query_id, cell, vec_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, cell, vec_id, sim FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_ann_cosine" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |         round(${dotSql("qe", "ce")} /
         |               (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("ce", "ce")})), 4) AS sim
         |  FROM q CROSS JOIN c
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, vec_id, sim FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_ann_recall" ->
      s"""WITH $cellTrainSql,
         |cd AS (
         |  SELECT m.vec_id, c.j,
         |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
         |  FROM qcomp m JOIN k2 c ON c.i = m.i
         |  GROUP BY 1, 2
         |),
         |corpuscell AS (
         |  SELECT vec_id, min(dist * k + j) % k AS cell
         |  FROM cd, kk WHERE vec_id >= 5 GROUP BY vec_id, k
         |),
         |probes AS (
         |  SELECT vec_id AS query_id, j AS cell FROM (
         |    SELECT vec_id, j,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS pr
         |    FROM cd WHERE vec_id < 5) WHERE pr <= 2
         |),
         |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |         round(${dotSql("qe", "ce")} /
         |               (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("ce", "ce")})), 4) AS sim
         |  FROM q CROSS JOIN c
         |),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY sim DESC, vec_id) AS rank
         |    FROM scored) WHERE rank <= 10
         |),
         |ivf AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id,
         |           row_number() OVER (PARTITION BY s.query_id
         |                              ORDER BY s.sim DESC, s.vec_id) AS rank
         |    FROM scored s
         |    JOIN corpuscell cc ON cc.vec_id = s.vec_id
         |    JOIN probes p ON p.query_id = s.query_id AND p.cell = cc.cell)
         |  WHERE rank <= 10
         |)
         |SELECT e.query_id, count(*) AS n_exact,
         |       CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |       CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
         |            // count(*) AS BIGINT) AS recall_pm
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.vec_id = i.vec_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH bands AS (
         |  SELECT vec_id, jt.j AS band_idx,
         |         (SELECT CAST(sum(CASE WHEN (
         |            SELECT sum((CASE WHEN (((jt.j * 16 + kt.k) * 64 + d.i - 1) * 37) % 97 < 48
         |                        THEN 1.0 ELSE -1.0 END)
         |                       * CAST(embedding[d.i] AS DOUBLE))
         |            FROM generate_series(1, 64) d(i)) > 0
         |           THEN (CAST(1 AS BIGINT) << kt.k) ELSE 0 END) AS BIGINT)
         |          FROM generate_series(0, 15) kt(k)) AS band_val
         |  FROM embeddings, generate_series(0, 3) jt(j)
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |  WHERE a.vec_id < 5 AND b.vec_id >= 5
         |),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |         round(${dotSql("q.embedding", "ca.embedding")} /
         |               (sqrt(${dotSql("q.embedding", "q.embedding")}) *
         |                sqrt(${dotSql("ca.embedding", "ca.embedding")})), 4) AS sim
         |  FROM cand c
         |  JOIN embeddings q ON q.vec_id = c.query_id
         |  JOIN embeddings ca ON ca.vec_id = c.vec_id
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, vec_id, sim FROM ranked
         |WHERE rank <= 2 ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding AS ce, label FROM embeddings WHERE vec_id >= 5),
         |scored AS (
         |  SELECT q.query_id, CAST(q.label AS BIGINT) AS cell, c.vec_id,
         |         round(${dotSql("qe", "ce")} /
         |               (sqrt(${dotSql("qe", "qe")}) * sqrt(${dotSql("ce", "ce")})), 4) AS sim
         |  FROM q JOIN c ON q.label = c.label
         |),
         |ranked AS (
         |  SELECT query_id, cell, vec_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, cell, rank, vec_id, sim FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_ann_quantized" ->
      s"""WITH ma AS (
         |  SELECT vec_id, embedding,
         |         (SELECT max(abs(CAST(embedding[i] AS DOUBLE)))
         |          FROM generate_series(1, 64) t(i)) AS maxabs
         |  FROM embeddings WHERE vec_id < 5 OR vec_id % 5 = 0
         |),
         |qz AS (
         |  SELECT vec_id, maxabs, i,
         |         CAST(round(CAST(embedding[i] AS DOUBLE) * (127.0 / maxabs)) AS BIGINT) AS qv
         |  FROM ma CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
         |),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id,
         |         CAST(sum(a.qv * b.qv) AS BIGINT) AS score
         |  FROM qz a JOIN qz b ON a.i = b.i
         |  WHERE a.vec_id < 5 AND b.vec_id >= 5 AND b.vec_id % 5 = 0
         |  GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY score DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, vec_id, score FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_ann_rerank" ->
      s"""WITH ma AS (
         |  SELECT vec_id, label, embedding,
         |         (SELECT max(abs(CAST(embedding[i] AS DOUBLE)))
         |          FROM generate_series(1, 64) t(i)) AS maxabs
         |  FROM embeddings
         |),
         |qz AS (
         |  SELECT vec_id, label, i,
         |         CAST(round(CAST(embedding[i] AS DOUBLE) * (127.0 / maxabs)) AS BIGINT) AS qv
         |  FROM ma CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
         |),
         |coarse AS (
         |  SELECT a.vec_id AS query_id, b.vec_id,
         |         CAST(sum(a.qv * b.qv) AS BIGINT) AS score
         |  FROM qz a JOIN qz b ON a.i = b.i AND a.label = b.label
         |  WHERE a.vec_id < 5 AND b.vec_id >= 5
         |  GROUP BY 1, 2
         |),
         |shortlist AS (
         |  SELECT query_id, vec_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, vec_id) AS BIGINT) AS coarse_rank
         |  FROM coarse
         |),
         |fine AS (
         |  SELECT s.query_id, s.vec_id, s.coarse_rank,
         |         round(${dotSql("q.embedding", "ca.embedding")} /
         |               (sqrt(${dotSql("q.embedding", "q.embedding")}) *
         |                sqrt(${dotSql("ca.embedding", "ca.embedding")})), 4) AS sim
         |  FROM shortlist s
         |  JOIN embeddings q ON q.vec_id = s.query_id
         |  JOIN embeddings ca ON ca.vec_id = s.vec_id
         |  WHERE s.coarse_rank <= 10
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, coarse_rank, sim,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY sim DESC, vec_id) AS rank
         |  FROM fine
         |)
         |SELECT query_id, rank, vec_id, coarse_rank, sim FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '),
        |                                   t -> length(t) > 0)) AS ts
        |  FROM documents
        |),
        |lexp AS (
        |  SELECT q.doc_id AS query_id, c.doc_id,
        |         CAST(len(list_intersect(q.ts, c.ts)) AS BIGINT) * 10000 //
        |         len(list_distinct(list_concat(q.ts, c.ts))) AS jacc
        |  FROM toks q JOIN toks c ON q.doc_id < 3 AND c.doc_id >= 10
        |),
        |lexr AS (
        |  SELECT query_id, doc_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY jacc DESC, doc_id) AS lex_rank
        |  FROM lexp
        |),
        |qz AS (
        |  SELECT vec_id, u.i,
        |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
        |),
        |vd AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
        |         CAST(sum(a.q * b.q) AS BIGINT) AS vdot
        |  FROM qz a JOIN qz b ON b.i = a.i
        |  WHERE a.vec_id < 3 AND b.vec_id >= 10
        |  GROUP BY 1, 2
        |),
        |vecr AS (
        |  SELECT query_id, doc_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY vdot DESC, doc_id) AS vec_rank
        |  FROM vd
        |),
        |fused AS (
        |  SELECT l.query_id, l.doc_id, l.lex_rank, v.vec_rank,
        |         1000000 // (60 + l.lex_rank) + 1000000 // (60 + v.vec_rank) AS rrf_pm
        |  FROM lexr l JOIN vecr v
        |    ON v.query_id = l.query_id AND v.doc_id = l.doc_id
        |),
        |ranked AS (
        |  SELECT query_id, doc_id, lex_rank, vec_rank, rrf_pm,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf_pm DESC, doc_id) AS rank
        |  FROM fused
        |)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
        |       CAST(lex_rank AS BIGINT) AS lex_rank,
        |       CAST(vec_rank AS BIGINT) AS vec_rank,
        |       CAST(rrf_pm AS BIGINT) AS rrf_pm
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_pq_assign" ->
      (s"""WITH $pqTrainSql,""" +
      """
        |dass AS (
        |  SELECT m.vec_id, m.sp, c.j,
        |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
        |  FROM comp m JOIN c2 c ON c.sp = m.sp AND c.d = m.d
        |  GROUP BY 1, 2, 3
        |),
        |best AS (
        |  SELECT vec_id, sp, min(dist * 16 + j) AS bk FROM dass GROUP BY 1, 2
        |)
        |SELECT vec_id,
        |       CAST(sum((bk % 16) << (sp * 4)) AS BIGINT) AS pq_code,
        |       CAST(sum(bk // 16) AS BIGINT) AS q_err
        |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    "q_pq_adc_topk" ->
      (s"""WITH $pqTrainSql,""" +
      """
        |dall AS (
        |  SELECT m.vec_id, m.sp, c.j,
        |         CAST(sum((m.v - c.c) * (m.v - c.c)) AS BIGINT) AS dist
        |  FROM comp m JOIN c2 c ON c.sp = m.sp AND c.d = m.d
        |  GROUP BY 1, 2, 3
        |),
        |codes AS (
        |  SELECT vec_id, sp, CAST(min(dist * 16 + j) % 16 AS BIGINT) AS code
        |  FROM dall WHERE vec_id >= 16 GROUP BY 1, 2
        |),
        |qtab AS (
        |  SELECT vec_id AS query_id, sp, j AS code, dist
        |  FROM dall WHERE vec_id < 5
        |),
        |adc AS (
        |  SELECT q.query_id, c.vec_id, CAST(sum(q.dist) AS BIGINT) AS adc_dist
        |  FROM codes c JOIN qtab q ON q.sp = c.sp AND q.code = c.code
        |  GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT query_id, vec_id, adc_dist,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY adc_dist, vec_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, rank, vec_id, adc_dist FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    "q_pq_kmeans" ->
      (s"""WITH $pqTrainSql,""" +
      """
        |members AS (SELECT sp, j, count(*) AS n_members FROM a2 GROUP BY 1, 2)
        |SELECT CAST(m.sp AS BIGINT) AS sp, CAST(m.j AS BIGINT) AS j,
        |       CAST(m.n_members AS BIGINT) AS n_members,
        |       CAST(sum((c2.c - c1.c) * (c2.c - c1.c)) AS BIGINT) AS shift_sq,
        |       CAST(sum(c2.c) AS BIGINT) AS c2_sum
        |FROM members m
        |JOIN c2 ON c2.sp = m.sp AND c2.j = m.j
        |JOIN c1 ON c1.sp = m.sp AND c1.j = m.j AND c1.d = c2.d
        |GROUP BY 1, 2, 3 ORDER BY sp, j""".stripMargin),

    "q_ivfpq_search" ->
      """WITH comp AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS cell, u.i - 1 AS i,
        |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) + 2048 AS v
        |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
        |),
        |cc AS (SELECT cell, i, sum(v) // count(*) AS c FROM comp GROUP BY 1, 2),
        |res AS (
        |  SELECT m.vec_id, m.cell, m.i // 8 AS sp, m.i % 8 AS d, m.v - c.c AS r
        |  FROM comp m JOIN cc c ON c.cell = m.cell AND c.i = m.i
        |),
        |cb AS (SELECT sp, vec_id AS j, d, r AS rc FROM res WHERE vec_id < 16),
        |cd AS (
        |  SELECT v.vec_id, v.cell, v.sp, c.j,
        |         CAST(sum((v.r - c.rc) * (v.r - c.rc)) AS BIGINT) AS dist
        |  FROM res v JOIN cb c ON c.sp = v.sp AND c.d = v.d
        |  WHERE v.vec_id >= 16
        |  GROUP BY 1, 2, 3, 4
        |),
        |codes AS (
        |  SELECT vec_id, cell, sp, min(dist * 16 + j) % 16 AS code
        |  FROM cd GROUP BY 1, 2, 3
        |),
        |qd AS (
        |  SELECT q.vec_id AS query_id, c.cell,
        |         CAST(sum((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS cdist
        |  FROM comp q JOIN cc c ON c.i = q.i
        |  WHERE q.vec_id < 5 GROUP BY 1, 2
        |),
        |probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY cdist, cell) AS pr
        |    FROM qd) WHERE pr <= 2
        |),
        |qres AS (
        |  SELECT q.vec_id AS query_id, p.cell, q.i // 8 AS sp, q.i % 8 AS d,
        |         q.v - c.c AS r
        |  FROM comp q
        |  JOIN probe p ON p.query_id = q.vec_id
        |  JOIN cc c ON c.cell = p.cell AND c.i = q.i
        |  WHERE q.vec_id < 5
        |),
        |qtab AS (
        |  SELECT query_id, cell, qr.sp, c.j AS code,
        |         CAST(sum((qr.r - c.rc) * (qr.r - c.rc)) AS BIGINT) AS dist
        |  FROM qres qr JOIN cb c ON c.sp = qr.sp AND c.d = qr.d
        |  GROUP BY 1, 2, 3, 4
        |),
        |adc AS (
        |  SELECT t.query_id, k.vec_id, k.cell, CAST(sum(t.dist) AS BIGINT) AS adc_dist
        |  FROM codes k
        |  JOIN qtab t ON t.cell = k.cell AND t.sp = k.sp AND t.code = k.code
        |  GROUP BY 1, 2, 3
        |),
        |ranked AS (
        |  SELECT query_id, vec_id, cell, adc_dist,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY adc_dist, vec_id) AS rank
        |  FROM adc
        |)
        |SELECT query_id, rank, vec_id, cell, adc_dist FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "q_mrl_recall" ->
      """WITH qz AS (
        |  SELECT vec_id, u.i,
        |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
        |),
        |dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id,
        |         CAST(sum(a.q * b.q) AS BIGINT) AS full_dot,
        |         CAST(sum(CASE WHEN a.i <= 16 THEN a.q * b.q ELSE 0 END) AS BIGINT)
        |           AS trunc_dot
        |  FROM qz a JOIN qz b ON b.i = a.i AND a.vec_id < 5 AND b.vec_id >= 5
        |  GROUP BY 1, 2
        |),
        |f AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY full_dot DESC, vec_id) AS rank
        |  FROM dots
        |),
        |t AS (
        |  SELECT query_id, vec_id,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY trunc_dot DESC, vec_id) AS rank
        |  FROM dots
        |),
        |ov AS (
        |  SELECT f.query_id, count(*) AS n_overlap
        |  FROM f JOIN t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
        |  WHERE f.rank <= 10 AND t.rank <= 10 GROUP BY 1
        |)
        |SELECT f1.query_id, CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |       f1.vec_id AS full_top1, t1.vec_id AS trunc_top1
        |FROM (SELECT query_id, vec_id FROM f WHERE rank = 1) f1
        |JOIN (SELECT query_id, vec_id FROM t WHERE rank = 1) t1 USING (query_id)
        |LEFT JOIN ov ON ov.query_id = f1.query_id
        |ORDER BY f1.query_id""".stripMargin,

    "q_late_interaction" ->
      """WITH qz AS (
        |  SELECT vec_id, u.i,
        |         CAST(floor(CAST(embedding[u.i] AS DOUBLE) * 1024.0) AS BIGINT) AS q
        |  FROM embeddings, unnest(generate_series(1, 64)) u(i)
        |),
        |subs AS (
        |  SELECT vec_id, (i - 1) // 8 AS sp, (i - 1) % 8 AS d, q FROM qz
        |),
        |pairs AS (
        |  SELECT qs.vec_id AS query_id, cs.vec_id, qs.sp AS q_sp, cs.sp AS c_sp,
        |         CAST(sum(qs.q * cs.q) AS BIGINT) AS dot
        |  FROM subs qs JOIN subs cs ON cs.d = qs.d
        |  WHERE qs.vec_id < 3 AND cs.vec_id >= 16 AND cs.vec_id % 7 = 0
        |  GROUP BY 1, 2, 3, 4
        |),
        |best AS (
        |  SELECT query_id, vec_id, q_sp, max(dot) AS best
        |  FROM pairs GROUP BY 1, 2, 3
        |),
        |ms AS (
        |  SELECT query_id, vec_id, CAST(sum(best) AS BIGINT) AS maxsim
        |  FROM best GROUP BY 1, 2
        |),
        |ranked AS (
        |  SELECT query_id, vec_id, maxsim,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY maxsim DESC, vec_id) AS rank
        |  FROM ms
        |)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, maxsim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q_embedding_quantize" ->
      s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
         |ma AS (
         |  SELECT vec_id, embedding,
         |         (SELECT max(abs(CAST(embedding[i] AS DOUBLE)))
         |          FROM generate_series(1, 64) t(i)) AS maxabs
         |  FROM sub
         |),
         |q AS (
         |  SELECT vec_id, maxabs, i,
         |         CAST(round(CAST(embedding[i] AS DOUBLE) * (127.0 / maxabs)) AS BIGINT) AS qv
         |  FROM ma CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
         |)
         |SELECT vec_id, round(maxabs, 4) AS maxabs,
         |       CAST(sum(qv) AS BIGINT) AS q_sum,
         |       CAST(sum(CASE WHEN abs(qv) >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
         |       CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |FROM q GROUP BY vec_id, maxabs ORDER BY vec_id""".stripMargin,

    "q_semantic_cluster" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 7 = 0
         |),
         |$nearDupCandSqlCtes,
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |           round(${dotSql("ea.embedding", "eb.embedding")} /
         |                 (sqrt(${dotSql("ea.embedding", "ea.embedding")}) *
         |                  sqrt(${dotSql("eb.embedding", "eb.embedding")})), 4) AS sim
         |    FROM cand c
         |    JOIN corpus ea ON ea.vec_id = c.id_a
         |    JOIN corpus eb ON eb.vec_id = c.id_b
         |  ) WHERE sim >= 0.99
         |),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(id, label) AS (
         |  SELECT vec_id, vec_id FROM corpus
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
         |),
         |comp AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members, max(id) AS max_id
         |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q_embedding_near_dup" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 7 = 0
         |),
         |$nearDupCandSqlCtes
         |SELECT id_a, id_b, sim FROM (
         |  SELECT c.id_a, c.id_b,
         |         round(${dotSql("ea.embedding", "eb.embedding")} /
         |               (sqrt(${dotSql("ea.embedding", "ea.embedding")}) *
         |                sqrt(${dotSql("eb.embedding", "eb.embedding")})), 4) AS sim
         |  FROM cand c
         |  JOIN corpus ea ON ea.vec_id = c.id_a
         |  JOIN corpus eb ON eb.vec_id = c.id_b
         |)
         |WHERE sim >= 0.99 ORDER BY id_a, id_b""".stripMargin,

    // same 2^20 quantization as the engine; per-dim BIGINT sums, then
    // HUGEINT products (the DECIMAL(38,0) twin), one double division
    "q_centroid_drift" ->
      """WITH q AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        |  FROM embeddings
        |),
        |g AS (
        |  SELECT label, d.i AS i, CAST(sum(qv[d.i]) AS BIGINT) AS gi
        |  FROM q, generate_series(1, 64) d(i)
        |  GROUP BY label, d.i
        |),
        |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        |       FROM q GROUP BY label),
        |gl AS (SELECT i, CAST(sum(gi) AS BIGINT) AS ggi FROM g GROUP BY i),
        |dots AS (
        |  SELECT label,
        |         sum(CAST(gi AS HUGEINT) * ggi) AS dot,
        |         sum(CAST(gi AS HUGEINT) * gi) AS n2a
        |  FROM g JOIN gl USING (i) GROUP BY label
        |),
        |nb AS (SELECT sum(CAST(ggi AS HUGEINT) * ggi) AS n2b FROM gl)
        |SELECT d.label, nv.n_vecs,
        |       round(CAST(dot AS DOUBLE) /
        |             (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))),
        |             4) + 0.0 AS drift_cos
        |FROM dots d JOIN nv USING (label) CROSS JOIN nb
        |ORDER BY d.label""".stripMargin,

    "q_embedding_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
        |  FROM embeddings
        |),
        |el AS (SELECT vec_id, label, d.i AS i, qv[d.i] AS x
        |       FROM q, generate_series(1, 64) d(i)),
        |s AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS si
        |      FROM el GROUP BY label, i),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |      FROM q GROUP BY label),
        |dd AS (
        |  SELECT el.vec_id, el.label,
        |         sum(CAST(n.n * el.x - s.si AS HUGEINT)
        |             * (n.n * el.x - s.si)) AS dd
        |  FROM el JOIN s ON s.label = el.label AND s.i = el.i
        |  JOIN n ON n.label = el.label
        |  GROUP BY el.vec_id, el.label
        |),
        |win AS (
        |  SELECT vec_id, label, dd,
        |         sum(dd) OVER (PARTITION BY label) AS tot,
        |         max(dd) OVER (PARTITION BY label) AS mxdd
        |  FROM dd
        |)
        |SELECT w.label, n.n AS n_vecs,
        |       CAST(sum(CASE WHEN n.n * w.dd > 4 * w.tot
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       CAST(max(w.dd * 10000 // w.tot) AS BIGINT) AS max_ratio_pm,
        |       max(CASE WHEN w.dd = w.mxdd THEN w.vec_id END) AS worst_vec
        |FROM win w JOIN n ON n.label = w.label
        |GROUP BY w.label, n.n ORDER BY w.label""".stripMargin,

    // the 8 iterations are UNROLLED as generated CTE pairs (DuckDB
    // recursion adds nothing for a fixed count); all arithmetic
    // HUGEINT — the `//` on a signed numerator truncates toward zero
    // exactly like Spark's `div` (measured: −7 // 2 = −3)
    "q_pca_power" -> {
      // every iteration CTE is MATERIALIZED: DuckDB inlines CTEs by
      // default, and v_k references it_k twice (directly + under the
      // max-abs renormalizer) — inlined, the matrix chain re-evaluates
      // 2^8 times (the same exponential-reuse blowup the Spark side
      // hit relationally; measured as a >300 s oracle before this)
      val sqs = (1 to 5).map { k =>
        s"""sq$k AS MATERIALIZED (
           |  SELECT x.i AS i, y.j AS j, sum(x.a * y.a) AS a
           |  FROM b${k - 1} x JOIN b${k - 1} y ON x.j = y.i GROUP BY 1, 2
           |),
           |b$k AS MATERIALIZED (
           |  SELECT i, j, (a * 1048576) // greatest(mxs.mx, 1) AS a
           |  FROM sq$k CROSS JOIN
           |       (SELECT max(abs(a)) AS mx FROM sq$k) mxs
           |)""".stripMargin
      }.mkString(",\n")
      val its = (1 to 8).map { k =>
        val pv = if (k == 1) "v0" else s"v${k - 1}"
        s"""it$k AS MATERIALIZED (
           |  SELECT b5.i, sum(b5.a * $pv.vj) AS wi
           |  FROM b5 JOIN $pv ON $pv.j = b5.j GROUP BY b5.i
           |),
           |v$k AS MATERIALIZED (
           |  SELECT it$k.i AS j,
           |         (it$k.wi * 1048576) // greatest(mxt.mx, 1) AS vj
           |  FROM it$k CROSS JOIN
           |       (SELECT max(abs(wi)) AS mx FROM it$k) mxt
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (
         |  SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
         |  FROM embeddings
         |),
         |qe AS (SELECT row_number() OVER () AS rid, qv FROM q),
         |el AS (SELECT rid, d.i AS i, qv[d.i] AS x
         |       FROM qe, generate_series(1, 64) d(i)),
         |g AS (
         |  -- unnest once + rid self-join: the correlated qv[i]*qv[j]
         |  -- double-unnest form re-indexes the list 4096x per row and
         |  -- measured >300 s at sf0.01; this hash-join form is 0.1 s
         |  SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS gij
         |  FROM el a JOIN el b USING (rid) GROUP BY 1, 2
         |),
         |m AS (SELECT i, CAST(sum(x) AS HUGEINT) AS mi FROM el GROUP BY i),
         |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM qe),
         |a AS MATERIALIZED (
         |  SELECT g.i, g.j, g.gij * nn.n - ma.mi * mb.mi AS a
         |  FROM g JOIN m ma ON ma.i = g.i JOIN m mb ON mb.i = g.j
         |  CROSS JOIN nn
         |),
         |b0 AS MATERIALIZED (
         |  SELECT i, j, (a * 1048576) // greatest(mxa.mx, 1) AS a
         |  FROM a CROSS JOIN (SELECT max(abs(a)) AS mx FROM a) mxa
         |),
         |$sqs,
         |v0 AS (SELECT d.i AS j, CAST(1048576 AS HUGEINT) AS vj
         |       FROM generate_series(1, 64) d(i)),
         |$its,
         |w9 AS (SELECT a.i, sum(a.a * v8.vj) AS wi
         |       FROM a JOIN v8 ON v8.j = a.j GROUP BY a.i),
         |rq AS (
         |  SELECT round(CAST(sum(w9.wi * v8.vj) AS DOUBLE)
         |               / CAST(sum(v8.vj * v8.vj) AS DOUBLE)
         |               / CAST(max(nn.n) AS DOUBLE) / CAST(max(nn.n) AS DOUBLE)
         |               / 1099511627776.0, 6) AS lambda1
         |  FROM w9 JOIN v8 ON v8.j = w9.i CROSS JOIN nn
         |)
         |SELECT v8.j AS i, CAST(v8.vj AS BIGINT) AS v_scaled, lambda1
         |FROM v8 CROSS JOIN rq ORDER BY i""".stripMargin
    },
  )
}
