package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an N× row-count fixture from a driver fixture dir by
  * unioning key-shifted copies (r11 verdict #4 — the
  * q_embedding_near_dup corpus-doubling trick generalized). The driver
  * provides at most sf0.1; the 2 GiB memory-squeeze smoke cannot catch
  * broadcast-threshold flips or band skew that only a real row-count
  * scale-up exposes, so this builds one locally.
  *
  * Copy 0 is the original. Every copy i > 0 is transformed so the
  * result models a REAL bigger corpus, not 10 stacked replicas:
  *
  *  - all primary keys shift by i·10⁷ (foreign keys consistently, so
  *    within-copy relationships hold);
  *  - document text goes through a per-copy BIJECTIVE character map
  *    (independent vowel + "stnr" rotations — see [[charPerm]]).
  *    A bijection preserves shingle equality/inequality WITHIN a copy,
  *    so the planted dup-rate is constant across scale, while
  *    cross-copy texts share no shingles — without this, 10 verbatim
  *    copies give every doc 9 exact replicas and pair counts grow
  *    ~45× instead of the realistic ~10×;
  *  - embeddings go through a per-copy SIGNED PERMUTATION (rotate by
  *    i·6 positions, then multiply by a seeded ±1 vector — see
  *    [[signFlips]]) — an exact isometry, so within-copy cosine
  *    geometry (and the label column's cluster truth) is preserved,
  *    while copies are genuinely uncorrelated cross-copy against any
  *    fixed hyperplane family (a bare rotation was NOT: it aliased
  *    the arithmetic LSH weight family and made copies collide
  *    systematically — the r13 20×-superlinear finding);
  *  - embedding labels shift by i·10: at a 10× corpus a retrained
  *    quantizer has more cells, so per-cell membership must stay
  *    bounded — label-blocked self-joins (q_knn_join) would otherwise
  *    quietly go quadratic on stacked labels.
  *
  * Dimension-like tables (region/nation/supplier/part) copy verbatim:
  * facts grow, dims don't — the realistic shape.
  *
  * Usage: runMain graft.tools.Scale10 <srcDir> <outDir> [copies=10]
  */
object Scale10 {

  private val Offset = 10000000L

  /** Source alphabet of the per-copy character bijection. */
  private[graft] val PermSrc = "aeioustnr"

  /** Distinct bijections over [[PermSrc]]: vowels rotate by i mod 5 —
    * over the FORWARD vowel order for copies 0..19 and the REVERSED
    * order for 20..39 (r20, for the 40× probe) — and the consonants
    * "stnr" rotate independently by i mod 4. (i mod 5, i mod 4, i div
    * 20) is injective over 0..39, and a reversed 5-rotation never
    * equals a forward one, so all 40 maps are pairwise distinct, and
    * the pairwise positional gap stays ≥ 4 of 9 (Scale10Spec pins both
    * over the full 0..39 family).
    *
    * The EXACT cross-copy-replication condition (corrected r20 — the
    * earlier "must lack an entire character block" claim was too
    * strong once the reversed-vowel half exists): enumerating all 780
    * pairs, the per-pair agreement sets are exactly ∅, a single vowel,
    * {aeiou}, {nrst}, or one vowel ∪ {nrst} (Scale10Spec pins the
    * enumeration). A row is byte-identical across SOME pair iff its
    * lowercase [[PermSrc]] usage fits inside one of the maximal sets —
    * i.e. it uses NO lowercase s/t/n/r, or ≤ 1 DISTINCT lowercase
    * vowel. [[replicableRows]] counts that class and [[build]] refuses
    * a corpus containing any (all driver fixtures measure 0 for both
    * translated columns); uppercase characters are not permuted, so
    * the check is deliberately case-sensitive. i = 0 is the identity.
    */
  private[graft] def charPerm(i: Int): String = {
    val v = if (i / 20 == 0) "aeiou" else "uoiea"
    val c = "stnr"
    val r = i % 5; val q = i % 4
    v.substring(r) + v.substring(0, r) + c.substring(q) + c.substring(0, q)
  }

  private def copies(n: Int, base: DataFrame)(tf: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(i => if (i == 0) base else tf(base, i)).reduce(_ unionByName _)

  /** Rows of `column` whose lowercase [[PermSrc]] usage fits inside a
    * cross-copy agreement set (see [[charPerm]]): no lowercase
    * s/t/n/r, or at most one distinct lowercase vowel. Any such row
    * translates to ITSELF under some pair of copies — an unintended
    * exact cross-copy duplicate that would contaminate every dedup and
    * band-join number measured on the fixture.
    */
  private[graft] def replicableRows(df: DataFrame, column: String): Long =
    df.filter(
      !col(column).rlike("[stnr]") ||
        expr(s"size(array_distinct(filter(split($column, ''), " +
          "x -> x IN ('a','e','i','o','u')))) <= 1")
    ).count()

  /** Per-copy deterministic ±1 sign-flip vector for the embedding
    * transform (identity at copy 0). Seeded, so re-runs produce the
    * identical fixture; multiplication by ±1.0 and the cast back to
    * float are both exact, so the composed rotate+flip is a bitwise
    * signed permutation.
    */
  private[graft] def signFlips(i: Int): Array[Float] = {
    if (i == 0) Array.fill(64)(1f)
    else {
      val rng = new scala.util.Random(0xC0FFEE + i)
      Array.fill(64)(if (rng.nextBoolean()) 1f else -1f)
    }
  }

  def build(s: SparkSession, srcDir: String, outDir: String, n: Int): Unit = {
    // charPerm carries 40 pairwise-distinct bijections (period-20
    // rotation family × forward/reversed vowel order) with the ≥4-char
    // block gap (Scale10Spec pins both at 40). Past 40 copies i and
    // i-40 share a map and the corpus degenerates into stacked
    // replicas — fail loudly at the boundary.
    require(n >= 1 && n <= 40, s"copies must be in [1, 40], got $n")
    new java.io.File(outDir).mkdirs()
    def src(t: String) = s.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // Data-level guard on the charPerm replication condition (see its
    // scaladoc): measured 0/0 on every driver fixture, but a swapped
    // or regenerated corpus must fail HERE, loudly, not as silently
    // contaminated dedup numbers downstream (the PcmCoef ceiling
    // discipline applied to text).
    val badDocs = replicableRows(src("documents"), "text")
    val badCust = replicableRows(src("customer"), "c_name")
    require(badDocs == 0L && badCust == 0L,
      s"source corpus has $badDocs documents.text / $badCust customer.c_name rows " +
        "inside a cross-copy agreement class (no lowercase stnr, or <=1 distinct " +
        "lowercase vowel) - such rows replicate byte-identical across copies; " +
        "strengthen charPerm or clean the corpus before scaling it")

    write(copies(n, src("documents")) { (d, i) =>
      d.select((col("doc_id") + i * Offset).as("doc_id"),
        translate(col("text"), PermSrc, charPerm(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    // SIGNED permutation, not a bare rotation (r13 fix): a circular
    // shift alone maps the deterministic arithmetic hyperplane family
    // onto (nearly) itself — w(h, d+6) equals w(h', d) for h' = h+88
    // (mod 97) away from the 6-dim wraparound seam — so rotated copies
    // collided in LSH bands SYSTEMATICALLY instead of randomly:
    // measured at the 10× fixture, 7.9M candidate pairs where the
    // uncorrelated-copy model predicts ~0.77M (≈90% cross-copy), and
    // 4.0× pair growth per 2× rows at 20× (ROUND13_NOTES). Composing the
    // rotation with a per-copy seeded sign-flip vector keeps the
    // transform an exact isometry (a signed permutation is orthogonal,
    // so within-copy cosine geometry and cluster truth are untouched)
    // while re-randomizing every hyperplane response — cross-copy
    // collisions drop to the random-baseline rate a real bigger corpus
    // would show (post-fix: 0.84M at 10×, ~linear in copies).
    write(copies(n, src("embeddings")) { (d, i) =>
      val off = (i * 6) % 64
      val rot = s"concat(slice(embedding, ${off + 1}, ${64 - off}), " +
        s"slice(embedding, 1, $off))"
      val flipSql = signFlips(i)
        .map(f => if (f > 0) "1.0" else "-1.0")
        .mkString("array(", ",", ")")
      d.select((col("vec_id") + i * Offset).as("vec_id"),
        expr(s"cast(zip_with($rot, $flipSql, (x, s) -> x * s) " +
          "as array<float>)").as("embedding"),
        (col("label") + i * 10).cast("int").as("label"))
    }, "embeddings")

    write(copies(n, src("customer")) { (d, i) =>
      d.select((col("c_custkey") + i * Offset).as("c_custkey"),
        translate(col("c_name"), PermSrc, charPerm(i)).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    // Offset is divisible by 10 and 16, so modulus-derived structure
    // (the skew-join hot key l_orderkey % 10, manifest dims) keeps its
    // per-copy distribution — the hot key genuinely grows 10×.
    write(copies(n, src("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * Offset)
    }, "lineitem")

    write(copies(n, src("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * Offset)
        .withColumn("o_custkey", col("o_custkey") + i * Offset)
    }, "orders")

    write(copies(n, src("events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + i * Offset)
        .withColumn("user_id", col("user_id") + i * Offset)
    }, "events")

    Seq("region", "nation", "supplier", "part")
      .foreach(t => write(src(t), t))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1x"
    val n = if (args.length > 2) args(2).toInt else 10
    // 32 shuffle partitions: the recipe the fixtures behind the
    // committed BENCH_SCALE* artifacts were written with
    val s = graft.Harness.session(partitions = 32)
    build(s, srcDir, outDir, n)
    println(s"scale$n fixture written to $outDir")
    s.stop()
  }
}
