package graft.queries

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.BandJoin
import graft.plans.BandJoin.Cap
import graft.text.Corpus

/** Deduplication operators for training-data pipelines, over the
  * deterministic re-crawl corpus (Corpus.withDuplicates):
  *
  *   - exact dedup: content-hash group-by — at 100 TB this is THE
  *     canonical shuffle-on-hash; map-side it's a projection, the only
  *     exchange is on the 128-bit digest;
  *   - n-gram Jaccard: shingle-set similarity verified pairwise (here
  *     on known candidate pairs — the bounded O(N) verification stage);
  *   - MinHash + LSH banding: the scale path that FINDS candidates
  *     without all-pairs — signatures are 8 md5-minima over shingles,
  *     banded 4×2; only same-band-bucket pairs are verified. md5 is
  *     the hash in both engines, so the DuckDB oracle reproduces
  *     signatures bit-for-bit;
  *   - SimHash (16-bit here): per-token md5 bits vote per position;
  *     near-dups land at small Hamming distance.
  */
object DedupQueries {

  private val Hex = "0123456789abcdef".toCharArray

  private def hexify(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  // NOT String.format per byte: the formatter allocates per call and
  // dominated the minhash kernel (~12 s at sf0.1 → sub-second)
  private def md5Hex(s: String): String =
    hexify(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))

  /** unsigned lexicographic byte compare == compare of lowercase hex
    * strings == SQL MIN over VARCHAR md5 hex.
    */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** MinHash signature → LSH band keys, one pass per doc: per seed,
    * the lexicographic minimum of md5("<seed>:<shingle>") (identical
    * to SQL MIN over the same strings); bands of 2 signature values
    * hashed into 4 keys. One MessageDigest per row, byte-level minima,
    * hex only at the end. Returning the band keys directly (instead of
    * a signature array indexed 8×) matters: Catalyst's CollapseProject
    * freely duplicates deterministic UDFs per reference, so sig[0..7]
    * would run the whole kernel 8 times.
    */
  /** Band keys over the `sh` shingle column: the native codegen'd
    * `minhash_bands` expression ([[graft.plans.MinhashBands]]) by
    * default; `GRAFT_MINHASH_UDF=1` selects the legacy ScalaUDF for
    * A/B measurement only (bit-identical outputs, see MinhashKernel).
    */
  private def bandKeys(s: SparkSession): org.apache.spark.sql.Column =
    if (sys.env.get("GRAFT_MINHASH_UDF").contains("1")) minhashBandsUdf(col("sh"))
    else {
      graft.plans.MinhashKernel.register(s)
      expr("minhash_bands(sh)")
    }

  // private[graft]: NativeExprSpec pins the native expression
  // bit-identical to this legacy UDF
  private[graft] val minhashBandsUdf = udf { (shingles: Seq[String]) =>
    val md = MessageDigest.getInstance("MD5")
    val sig = Array.tabulate(8) { seed =>
      val prefix = seed.toString + ":"
      var minB: Array[Byte] = null
      shingles.foreach { sh =>
        md.reset()
        val d = md.digest((prefix + sh).getBytes("UTF-8"))
        if (minB == null || unsignedLess(d, minB)) minB = d
      }
      if (minB == null) "" else hexify(minB)
    }
    Array.tabulate(4) { b =>
      md.reset()
      hexify(md.digest((sig(2 * b) + sig(2 * b + 1)).getBytes("UTF-8")))
    }
  }

  /** 64-bit SimHash as four 16-bit band words (low word first): per
    * token, the first 16 md5 hex chars form words w0..w3 (4 hex chars
    * each, nibble-big-endian like simhash16); bit j of the final hash
    * lives in word j/16 at position j%16 and is 1 iff the per-token
    * vote sum over that bit is > 0. Band words double as the LSH
    * blocking key for the Hamming pairing query.
    */
  private val simhash64Udf = udf { (text: String) =>
    val counts = new Array[Int](64)
    text.split(" ").foreach { tok =>
      val hex = md5Hex(tok)
      var w = 0
      while (w < 4) {
        val v = Integer.parseInt(hex.substring(4 * w, 4 * w + 4), 16)
        var b = 0
        while (b < 16) {
          val j = 16 * w + b
          if (((v >> b) & 1) == 1) counts(j) += 1 else counts(j) -= 1
          b += 1
        }
        w += 1
      }
    }
    (0 until 4).map { w =>
      var word = 0L
      var b = 0
      while (b < 16) {
        if (counts(16 * w + b) > 0) word |= (1L << b)
        b += 1
      }
      word
    }
  }

  private val simhash16Udf = udf { (text: String) =>
    val counts = new Array[Int](16)
    text.split(" ").foreach { tok =>
      val v = Integer.parseInt(md5Hex(tok).substring(0, 4), 16)
      var j = 0
      while (j < 16) {
        if (((v >> j) & 1) == 1) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
    }
    (0 until 16).map(j => if (counts(j) > 0) 1L << j else 0L).sum
  }

  /** MinHash subset: every 5th doc, with a near-twin for every 10th —
    * bounds signature work to 20% of the corpus at any sf.
    */
  private def minhashDocs(s: SparkSession, dir: String): DataFrame = {
    // repartition: the fixture is one row group → one scan partition;
    // the signature kernel below is the cost center and must spread
    // across cores (the same redistribute that balances a real
    // cluster's skewed post-filter partitioning before a heavy kernel)
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
    docs.filter(col("doc_id") % 5 === 0)
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zzz tail")).as("text")))
  }

  /** Shared body for the two q_textband_recall variants — the text-pack
    * mirror of MultimodalQueries.fpbandRecall (VERDICT r19 #1). Audit
    * corpus = the q_dedup_minhash sub-corpus PLUS a planted degenerate
    * block (every 7th doc re-emitted at +3×10⁶ with a sub-shingle-width
    * text, so the whole block shares the empty-set band keys md5("") —
    * the quadratic-in-disguise class the cap exists for: ~72 docs ≈
    * 2.5k junk candidates at sf0.01). Capped arm forced at `capAt`,
    * truth arm genuinely uncapped ([[BandJoin.Cap.Off]]); both
    * verified by INTEGER cross-multiplication (2·∩ ≥ ∪ AND ∪ > 0 —
    * never the float jaccard: two empty sets give 0/0, which Spark
    * orders as NaN ≥ 0.5 = true while DuckDB yields NULL = false, so
    * the float form would diverge between engines exactly on the
    * planted block). Emits recall AND both candidate counts — at a cap
    * the block clears, recall stays 10000‰ while n_cand collapses,
    * which is the designed trade made visible. Session conf untouched
    * (ADVICE r17).
    */
  private[graft] def textBandRecall(s: SparkSession, dir: String,
      capAt: Long): DataFrame = {
    // the planted block is BOUNDED (copy-0 ids only, doc_id < 1e6):
    // the block shares ONE band-key set, so the UNCAPPED truth arm is
    // quadratic in it — a block growing with the corpus would make the
    // audit itself the blow-up it measures (≈4×10⁸ junk pairs at the
    // 40× fixture). Fixed block ≈715 docs from sf0.1 up: still 3.5× the
    // production cap, so the prod audit keeps biting at every scale.
    val docs = minhashDocs(s, dir).unionByName(
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 7 === 0 && col("doc_id") < 1000000L)
        .select((col("doc_id") + 3000000L).as("doc_id"), lit("xx").as("text")))
    val bands = QueryCaches.cache(docs
      .withColumn("sh", Corpus.shingles("text"))
      .select(col("doc_id"),
        posexplode(bandKeys(s)).as(Seq("band", "bkey"))))
    // NOT cached (optimization r20 A/B): `verified` runs twice and
    // joins this frame on both sides, so the shingle kernel evaluates
    // 4× per query — but caching it measured parity-to-WORSE on the
    // 3-pass bench subset (prod arm 1.46× vs a 1.17–1.32× sentinel
    // window shift; see OPTIMIZATION_r20.md). Same verdict family as
    // the q_freq_itemsets/q_rfm cache probes: a ~6k-row array-of-string
    // materialization plus its GC debt costs more than re-running the
    // codegen'd kernel over the page-cached scan.
    val sets = docs.select(col("doc_id"), Corpus.shingles("text").as("sh"))
    def verified(cands: DataFrame): DataFrame = cands
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(
        size(array_intersect(col("sh_a"), col("sh_b"))) * 2 >=
          size(array_union(col("sh_a"), col("sh_b"))) &&
          size(array_union(col("sh_a"), col("sh_b"))) > 0)
      .select(col("id_a"), col("id_b"))
    val cappedCands = QueryCaches.cache(BandJoin.pairs(bands,
      Seq("band", "bkey"), "doc_id", "minhash", Cap.Forced(capAt), 0L).distinct())
    val plainCands = QueryCaches.cache(BandJoin.pairs(bands,
      Seq("band", "bkey"), "doc_id", "minhash", Cap.Off, 0L).distinct())
    // The capped arm joins UNVERIFIED (optimization r20, guide §1.2
    // "don't compute things you throw away"): capping only DROPS band
    // keys, so cappedCands ⊆ plainCands, and for any pair already in
    // verified(plainCands) membership in verified(cappedCands) is
    // exactly membership in cappedCands (the verify predicate is a
    // per-pair function, and these pairs all pass it). Joining the raw
    // capped candidate set therefore marks the same `found` rows while
    // skipping the capped arm's two sets-joins + shingle verify — the
    // audit's single largest redundant computation. n_cand_capped
    // below still counts the RAW capped candidates, as before.
    verified(plainCands)
      .join(cappedCands.withColumn("found", lit(1L)),
        Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n_true_pairs"),
        // outer coalesce: SUM over ZERO rows is NULL while the oracle's
        // scalar count(*) is 0 — on a corpus with no verified true
        // pairs the two engines would diverge exactly on the
        // degenerate edge this audit exists for
        coalesce(sum(coalesce(col("found"), lit(0L))), lit(0L))
          .as("n_found"))
      .crossJoin(broadcast(plainCands.agg(count(lit(1)).as("n_cand_plain"))))
      .crossJoin(broadcast(cappedCands.agg(count(lit(1)).as("n_cand_capped"))))
      .select(col("n_true_pairs"), col("n_found"),
        expr("n_found * 10000 div nullif(n_true_pairs, 0)").as("recall_pm"),
        col("n_cand_plain"), col("n_cand_capped"))
  }

  /** On-disk parquet tree for q_stream_dedup_cluster: the chain
    * graph's nodes (customer keys) split into `chunks` INTERLEAVED
    * chunk files (chunk = id mod `chunks`), so chain neighbors
    * (c, c+1) arrive in different micro-batches and cross-batch merges
    * are what the stream exercises. Spark writes (no driver collect),
    * one coalesced file per chunk, built once per JVM per (dir,
    * chunks), published atomically.
    *
    * Chunk files carry STRICTLY INCREASING lastModified stamps in
    * chunk order (ADVICE r19): Spark's file source orders files by
    * modification time with unspecified tie-breaking, and the
    * q_streamcluster_mergesize oracle attributes a merge to
    * GREATEST(src % chunks, dst % chunks) — i.e. it assumes chunk b is
    * batch b. The stamps make that processing order enforced rather
    * than incidental (coarse-mtime filesystems would otherwise tie).
    */
  private def clusterNodeTree(s: SparkSession, dir: String,
      chunks: Int = 6): String = {
    val out = SideStores.keyedTmpPath("graft_cluster_nodes_", dir,
      if (chunks == 6) "" else s"_c$chunks")
    SideStores.stagedTree(out) { stage =>
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val t0 = java.nio.file.Files.getLastModifiedTime(stage).toMillis
      (0 until chunks).foreach { b =>
        nodes.filter(col("id") % chunks === b).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/chunk$b")
        val walk = java.nio.file.Files.walk(stage.resolve(s"chunk$b"))
        try walk.forEach { p =>
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + b * 2000L))
          ()
        } finally walk.close()
      }
    }
    out
  }

  /** On-disk parquet tree for q_stream_keep_best: the dedup corpus
    * (originals + injected near-duplicates) split into 6 interleaved
    * chunk files (chunk = doc_id mod 6). A duplicate's id is its
    * source + 10⁶ ≡ source + 4 (mod 6) and an exact copy's is its
    * source + 2×10⁶ ≡ source + 2 (mod 6), so every (original,
    * duplicate) pair — BOTH injected duplicate classes (ADVICE r19) —
    * lands in DIFFERENT micro-batches and the survivor state is
    * genuinely revised across batches, not resolved within one. Anyone
    * changing the Corpus.withDuplicates offsets must keep every offset
    * ≢ 0 (mod 6).
    */
  private def keepBestDocTree(s: SparkSession, dir: String): String = {
    val out = SideStores.keyedTmpPath("graft_keepbest_docs_", dir)
    SideStores.stagedTree(out) { stage =>
      val docs = Corpus.withDuplicates(s, dir).select(col("doc_id"), col("text"))
      (0 until 6).foreach { b =>
        docs.filter(col("doc_id") % 6 === b).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/chunk$b")
      }
    }
    out
  }

  /** Typed rows for the q_stream_keep_best state machine (object-level:
    * product encoders resolve here, not inside the query lambda).
    */
  final case class KbRow(doc_id: Long, prefix_key: String, toks: Long)
  final case class KbState(prefix_key: String, n_members: Long,
      survivor_id: Long, survivor_toks: Long, min_toks: Long)

  /** Per-batch instrumentation from the most recent
    * [[streamClusterDrain]] — PROCESS-GLOBAL, spec-only (ADVICE r19):
    * concurrent drains would clobber each other's probe, so specs that
    * cannot tolerate that must consume the probe via the drain's return
    * value instead. Fields: rows EAGERLY materialized this batch (`ckptRows` — the
    * delta-proportionality evidence StreamClusterSpec asserts; -1 when
    * the probe conf is off, because counting costs a per-batch job) and
    * the merge-graph pair count (`mergePairs` — always recorded, the
    * driver already holds the collected pairs; -1 when the batch
    * overflowed the cap and routed to the distributed fallback, where
    * the exact count is unknown by design). q_streamcluster_mergesize
    * turns the pair counts into the gated cap-margin audit row
    * (VERDICT r18 #6).
    */
  private[graft] final case class StreamClusterBatch(
      batch: Long, ckptRows: Long, mergePairs: Long)

  /** Probe rows of the most recent drain in the whole process (volatile
    * is enough for visibility — each spec runs its drain and reads the
    * probe synchronously on one thread; see the clobbering caveat on
    * [[StreamClusterBatch]]).
    */
  @volatile private[graft] var lastStreamClusterProbe: Vector[StreamClusterBatch] =
    Vector.empty

  /** Drain the chunked node stream, maintaining cluster state with
    * DELTA-ONLY materialization (VERDICT r18 #5): per batch the ONLY
    * eagerly-checkpointed frames are the batch's own arrival rows (and,
    * on the rare fallback route, the touched-label root mapping) — both
    * ∝ the delta, never the cumulative state. The cumulative assignment
    * stays a LAZY plan: union of per-batch arrival checkpoints threaded
    * through one broadcast remap join per batch (map-side, ≤cap rows),
    * so per-batch checkpoint BYTES are O(delta) instead of the previous
    * O(total state) full-state rewrite — on a long-lived stream the
    * per-batch cost follows the delta, not the corpus. The lazy chain's
    * read-side depth is bounded by a compaction checkpoint every
    * `spark.graft.streamcluster.compact_every` batches (default 32 —
    * amortized O(state/32) per batch, the same main+delta-then-compact
    * cadence as q_index_compact; the 6-chunk gated fixture never
    * triggers it, which is exactly what lets Round19OpsSpec assert
    * pure-delta writes — and a compact_every=2 case pins the compaction
    * schedule and its answer-neutrality). Batch-frame hygiene: every
    * frame the lazy
    * chain references is either a checkpoint (arrivals, fallback roots)
    * or driver-local (union-find roots via toDF), so nothing dangles
    * into an expired micro-batch.
    *
    * Returns the final (lazy) assignment and the per-batch probe rows.
    */
  private[graft] def streamClusterDrain(
      s: SparkSession, dir: String,
      chunks: Int = 6): (DataFrame, Vector[StreamClusterBatch]) = {
    val tree = clusterNodeTree(s, dir, chunks)
    graft.streaming.EventStreams.drainTuned(s, dir) {
      import s.implicits._
      val probe = s.conf.getOption("spark.graft.streamcluster.probe").contains("true")
      val cap = s.conf.getOption("spark.graft.streamcluster.cap")
        .map(_.toInt).getOrElse(100000)
      val compactEvery = s.conf.getOption("spark.graft.streamcluster.compact_every")
        .map(_.toInt).getOrElse(32)
      var assign: DataFrame = null
      var sinceCompact = 0
      val batches = scala.collection.mutable.ArrayBuffer.empty[StreamClusterBatch]
      val update = (batch: DataFrame, batchId: Long) => {
        // per-run ids are disjoint across batches by construction
        // (the chunk files partition the key space; each invocation
        // drains a FRESH checkpoint, so no micro-batch replays) — no
        // distinct/anti-join hygiene needed, and a violation would
        // inflate n_nodes and fail the oracle gate loudly.
        // The arrival delta is the batch's ONLY full-width checkpoint:
        // new nodes enter with label = own id (the component-minimum
        // invariant's base case).
        val newRows = batch.select(col("id"), col("id").as("label"))
          .localCheckpoint(true)
        val newNodes = newRows.select(col("id"))
        // CANDIDATE chain-rule edges incident to a new node
        // (other-endpoint existence is NOT checked here: the label
        // joins below are inner, so an edge to a never-seen node
        // drops there for free — two semi-join exchanges saved per
        // batch). Duplicate edges ((new,new) pairs appear in both
        // orientations) are harmless: union-find and the star rounds
        // are both idempotent on repeated pairs — cheaper than a
        // per-batch distinct exchange
        val fwd = newNodes
          .filter(col("id") % 10 >= 1 && col("id") % 10 <= 3)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
        val bwd = newNodes
          .select((col("id") - 1).as("src"), col("id").as("dst"))
          .filter(col("src") % 10 >= 1 && col("src") % 10 <= 3)
        val edges = fwd.unionByName(bwd)
        val cur =
          if (assign == null) newRows else assign.unionByName(newRows)
        // label-merge graph: endpoint labels of this batch's edges.
        // DELTA-sized by construction (≤ one pair per batch edge), so
        // the common case resolves with a driver union-find: the
        // first 10× run paid 18.7 s here because every micro-batch
        // ran the full distributed star machinery (2–4 rounds × 2
        // shuffle-joins + a signature collect + 2 localCheckpoints)
        // on a merge graph of a few hundred labels — per-batch FIXED
        // cost, not data. One limit(cap+1) collect both sizes the
        // gate and delivers the pairs (no second job); graphs larger
        // than the cap (a pathological batch merging >1e5 clusters
        // at once) fall back to the distributed star rounds. Same
        // size-gated routing as the fpband/CDC hot-key caps — but
        // answer-PRESERVING here (both paths compute the same roots;
        // StreamClusterSpec forces the fallback and pins equality).
        // no distinct: duplicate pairs are idempotent in both
        // resolution paths, and the pair stream is delta-bounded
        // (≤ 2 rows per batch edge) either way
        val el = edges
          .join(cur.select(col("id").as("src"), col("label").as("la")), "src")
          .join(cur.select(col("id").as("dst"), col("label").as("lb")), "dst")
          .select(col("la"), col("lb"))
          .filter(col("la") =!= col("lb"))
        val pairRows = el.limit(cap + 1).collect()
        val fast = pairRows.length <= cap
        val roots: DataFrame =
          if (fast) {
            // min-root union-find with path compression: parent maps
            // every non-root label to a smaller label, so find()
            // terminates and the component root IS the minimum
            val parent = scala.collection.mutable.LongMap.empty[Long]
            def find(x: Long): Long = {
              var r = x
              while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
              var c = x
              while (parent.getOrElse(c, c) != c) {
                val n = parent(c); parent(c) = r; c = n
              }
              r
            }
            pairRows.foreach { row =>
              val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
              if (ra != rb) {
                if (ra < rb) parent(rb) = ra else parent(ra) = rb
              }
            }
            // keys snapshotted BEFORE find(): path compression mutates
            // the map, and mutating a LongMap mid-iteration is undefined
            // by the collection contract (ADVICE r18)
            parent.keys.toArray.map(l => (l, find(l)))
              .filter { case (l, r) => l != r }.toSeq
              .toDF("label", "root")
          } else {
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"graft.streamcluster: merge graph exceeds $cap pairs — " +
                "routing to distributed star resolution")
            val labelNodes = el.select(col("la").as("id"))
              .unionByName(el.select(col("lb").as("id"))).distinct()
            // checkpointed: the lazy assignment chain replays its remap
            // join on every later execution, and the star rounds must
            // run once per batch, not once per replay. Size ∝ labels
            // touched by THIS batch's merges — delta-bounded.
            GraphOps.alternatingStarComponents(labelNodes,
              el.select(col("la").as("src"), col("lb").as("dst")))._1
              .filter(col("id") =!= col("label"))
              .select(col("id").as("label"), col("label").as("root"))
              .localCheckpoint(true)
          }
        // broadcast only the driver-resolved mapping (≤ cap rows by
        // construction); the distributed fallback's mapping can be
        // arbitrarily large — let the planner pick its join
        val rootsHinted = if (fast) broadcast(roots) else roots
        // the remap stays LAZY: one broadcast left-outer join appended
        // to the assignment plan — no O(state) write here
        assign = cur
          .join(rootsHinted, Seq("label"), "left_outer")
          .select(col("id"), coalesce(col("root"), col("label")).as("label"))
        sinceCompact += 1
        var ckptRows = if (probe) {
          var n = newRows.count()
          if (!fast) n += roots.count()
          n
        } else -1L
        if (sinceCompact >= compactEvery) {
          assign = assign.localCheckpoint(true)
          sinceCompact = 0
          if (probe) ckptRows += assign.count()
        }
        batches += StreamClusterBatch(batchId, ckptRows,
          if (fast) pairRows.length.toLong else -1L)
        ()
      }
      graft.streaming.EventStreams.drainParquetFiles(s, "id BIGINT",
        s"$tree/chunk*")(update) // glob: chunks live one level down
      val out = batches.toVector
      lastStreamClusterProbe = out
      (assign, out)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup: group by content hash, keep the smallest id.
    "q_dedup_exact" -> ((s, dir) =>
      Corpus.withDuplicates(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
        .orderBy("survivor_id")),

    // The dedup REMAP table — the artifact a dedup pass actually ships
    // downstream: every non-survivor duplicate mapped to its cluster's
    // survivor (min doc_id per content hash), so references to dropped
    // docs can be rewritten. One hash shuffle for the survivor agg, one
    // hash-keyed join back; the hashed corpus is cached across both.
    "q_dedup_remap" -> ((s, dir) => {
      val hashed = Corpus.withDuplicates(s, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
        .transform(QueryCaches.cache(_))
      val survivors = hashed.groupBy("content_hash")
        .agg(min(col("doc_id")).as("survivor_id"))
      hashed.join(survivors, "content_hash")
        .filter(col("doc_id") =!= col("survivor_id"))
        .select(col("doc_id").as("dup_id"), col("survivor_id"))
        .orderBy("dup_id")
    }),

    // CO-LOCATED remap serving (VERDICT r19 #7): the dedup remap table
    // is the artifact every downstream consumer joins against (rewrite
    // stored references to dropped docs → their survivors), and that
    // join is hot enough to deserve the postings-index treatment — the
    // remap AND the reference table are persisted BUCKETED + SORTED on
    // the probe key (8 buckets, aligned repartition → one file per
    // bucket), so the rewrite join is a sort-merge with NO exchange and
    // NO sort on either side: the layout is the shuffle, paid once at
    // write time (q_bucketed_join discipline; exchange-free plan pinned
    // in Round20OpsSpec). References cite the re-crawl copies (+2×10⁶
    // for every doc_id % 4 = 0 — links point at duplicate URLs), the
    // left join canonicalizes them through the remap, and the output
    // re-aggregates citations per canonical survivor (that GROUP BY and
    // the presentation sort are the plan's only exchanges). At 100 TB
    // the remap is rewritten per dedup pass but probed by every
    // downstream job — exactly the postings-index cost profile.
    "q_remap_serve" -> ((s, dir) => {
      BucketedTables.ensure(s, Seq("graft_bkt_remap", "graft_bkt_refs"),
          "spark.graft.remapbkt.writtenDir", dir) {
        val hashed = Corpus.withDuplicates(s, dir)
          .select(col("doc_id"), md5(col("text")).as("content_hash"))
        val survivors = hashed.groupBy("content_hash")
          .agg(min(col("doc_id")).as("survivor_id"))
        hashed.join(survivors, "content_hash")
          .filter(col("doc_id") =!= col("survivor_id"))
          .select(col("doc_id").as("dup_id"), col("survivor_id"))
          .repartition(8, col("dup_id"))
          .write.mode("overwrite")
          .bucketBy(8, "dup_id").sortBy("dup_id")
          .saveAsTable("graft_bkt_remap")
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id").as("src_id"),
            when(col("doc_id") % 4 === 0, col("doc_id") + 2000000L)
              .otherwise(col("doc_id")).as("cited"))
          .repartition(8, col("cited"))
          .write.mode("overwrite")
          .bucketBy(8, "cited").sortBy("cited")
          .saveAsTable("graft_bkt_refs")
      }
      QueryCaches.scopedConf(s,
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val remap = s.table("graft_bkt_remap")
      val refs = s.table("graft_bkt_refs")
      refs.hint("merge")
        .join(remap, refs("cited") === remap("dup_id"), "left_outer")
        .select(coalesce(col("survivor_id"), col("cited")).as("canonical_id"))
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_refs"))
        .orderBy("canonical_id")
    }),

    // Cross-source duplicate overlap matrix: for every pair of sources,
    // how many distinct content hashes they share — the crawl-analytics
    // view that decides which feeds are redundant (a re-crawl snapshot
    // is simulated as "<source>-rc" over every doc_id % 4 == 0). The
    // join is hash-keyed (never a source×source product) and the final
    // matrix is |sources|² rows at most.
    "q_source_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      val recrawl = docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("source"), lit("-rc")).as("source"), col("text"))
      val hashed = docs.unionByName(recrawl)
        .select(col("source"), md5(col("text")).as("h"))
        .transform(QueryCaches.cache(_)) // both sides of the pair join
      val a = hashed.select(col("source").as("src_a"), col("h"))
      val b = hashed.select(col("source").as("src_b"), col("h"))
      a.join(b, "h")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(countDistinct(col("h")).as("n_shared"))
        .orderBy("src_a", "src_b")
    }),

    // Duplicate-concentration diversity per source — Simpson/HHI over
    // the exact-dup cluster sizes within each source: the curation
    // dashboard number that separates "this crawl slice has a few
    // mega-duplicated boilerplate pages" from "uniform light
    // duplication" (same HHI, very different fixes). Cluster = md5
    // content hash over the dup-injected corpus; copies recover their
    // base doc's source via doc_id % 1e6 and a broadcast-sized join
    // back to the (doc_id, source) projection. hhi_pm = Σ n_c²·10⁴
    // div N², eff_x100 = N²·100 div Σ n_c² (inverse Simpson =
    // effective cluster count). Shape: one corpus hash aggregate to
    // the (source, cluster) frame, one re-aggregate to |sources|,
    // integer throughout. int64 bound: N²·10⁴ caps per-source docs at
    // ~9.6e6 (the q_centroid_drift documentation discipline); past
    // that the pair goes DECIMAL(38,0), the q_embedding_outliers path.
    "q_simpson_diversity" -> ((s, dir) => {
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("base_id"), col("source"))
      // `doc_id % 1e6` recovers the base doc ONLY under the fixture
      // contract base doc_id < 1e6 (pinned in FixtureContractSpec); the
      // Scale10/Scale20 fixtures offset copies by 1e7, so every copy's
      // rows resolve to copy-0 — correct there only because source is
      // copy-invariant by construction.
      val clusters = Corpus.withDuplicates(s, dir)
        .select((col("doc_id") % 1000000L).as("base_id"),
          md5(col("text")).as("h"))
        .join(src, "base_id")
        .groupBy("source", "h").agg(count(lit(1)).as("n_c"))
      clusters.groupBy("source")
        .agg(sum(col("n_c")).as("n_docs"),
          count(lit(1)).as("n_clusters"),
          sum(expr("n_c * n_c")).as("ss"))
        .select(col("source"), col("n_docs"), col("n_clusters"),
          (col("n_docs") - col("n_clusters")).as("dup_docs"),
          expr("ss * 10000 div (n_docs * n_docs)").as("hhi_pm"),
          expr("n_docs * n_docs * 100 div ss").as("eff_x100"))
        .orderBy("source")
    }),

    // n-gram Jaccard between each base doc and its near-twin.
    "q_dedup_ngram" -> ((s, dir) => {
      val corpus = Corpus.withDuplicates(s, dir)
        .withColumn("sh", Corpus.shingles("text"))
      val base = corpus.filter(col("doc_id") % 3 === 0 && col("doc_id") < 1000000)
        .select(col("doc_id").as("base_id"), col("sh").as("sh_a"))
      val twin = corpus.filter(col("doc_id") >= 1000000 && col("doc_id") < 2000000)
        .select((col("doc_id") - 1000000L).as("base_id"),
          col("doc_id").as("twin_id"), col("sh").as("sh_b"))
      base.join(twin, "base_id")
        .withColumn("jaccard", round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4))
        .select(col("base_id"), col("twin_id"), col("jaccard"),
          (col("jaccard") >= 0.5).as("is_near_dup"))
        .orderBy("base_id")
    }),

    // EXACT set-similarity join via prefix filtering (the PPJoin family)
    // — the deterministic complement to MinHash: every pair with
    // shingle-Jaccard ≥ 0.95 is found, no probabilistic recall. The
    // filter: sort each doc's shingles by ONE global order (document
    // frequency asc, shingle — rarest first) and index only the first
    // |d| − ⌈0.95·|d|⌉ + 1 of them; two sets meeting the threshold MUST
    // share a prefix element, so the candidate join keys on the rarest
    // slivers of each set and posting lists stay short where df is
    // high — candidate volume scales with actual similarity, not
    // corpus². (Shingles, not word tokens: the fixture's 33-word
    // vocabulary makes word sets degenerate — every doc overlaps every
    // doc — while 3-gram shingles are discriminative, max df 8.)
    // Verification is an intersection count restricted to candidates
    // (equi-joins on doc then (doc, shingle)), and the accept test is
    // integer cross-multiplication (20·∩ ≥ 19·∪) — no float threshold
    // to disagree across engines. A doc_id%5 slice keeps the oracle's
    // brute-force join bounded.
    "q_set_join_prefix" -> ((s, dir) => {
      // set size rides the explode (computed once per doc, pre-explode)
      // so no per-doc size aggregate or join-back is ever needed
      val toks = QueryCaches.cache(
        Corpus.withDuplicates(s, dir)
          .filter((col("doc_id") % 1000000) % 5 === 0)
          .select(col("doc_id"), Corpus.shingles("text").as("ts"))
          .select(col("doc_id"), size(col("ts")).cast("bigint").as("sz"),
            explode(col("ts")).as("tok")))
      val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
      // the df attach and the candidate join below are AQE-adaptive,
      // not hint-forced (r12, same audit as q_containment): the vocab
      // table and the candidate set both GROW with the corpus (vocab
      // sublinearly, candidates O(dups)), so a broadcast() hint would
      // hard-fail past the 8 GB limit at scale instead of degrading.
      // At fixture scale the planner picks the identical all-broadcast
      // plan from size estimates (Explain: 10× BroadcastHashJoin,
      // unchanged), and the A/B measured parity (min 1.41 ↔ 1.44 s).
      val prefix = toks.join(dfreq, "tok")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("sz") - expr("(sz * 19 + 19) div 20") + 1)
      val cand = prefix.select(col("doc_id").as("da"), col("tok"))
        .join(prefix.select(col("doc_id").as("db"), col("tok")), "tok")
        .filter(col("da") < col("db"))
        .select("da", "db").distinct()
      // candidates are O(true dups); the verification joins broadcast
      // them while they fit (AQE/planner-chosen — see the note above).
      // (Semi-filtering the b side to candidate docs before the
      // (db, tok) shuffle was tried and REVERTED: min 1.66 → 1.83 s
      // in-suite — at this volume the extra broadcast probe over the
      // cached token scan costs more than the shuffle rows it saves;
      // revisit only if the candidate set stops being O(dups).)
      val a = toks.select(col("doc_id").as("da"), col("sz").as("sza"), col("tok"))
      val b = toks.select(col("doc_id").as("db"), col("sz").as("szb"), col("tok"))
      a.join(cand, "da").join(b, Seq("db", "tok"))
        .groupBy("da", "db", "sza", "szb").agg(count(lit(1)).as("inter"))
        .filter(col("inter") * 20 >= (col("sza") + col("szb") - col("inter")) * 19)
        .select(col("da"), col("db"), col("inter"),
          expr("inter * 10000 div (sza + szb - inter)").as("jaccard_pm"))
        .orderBy("da", "db")
    }),

    // MinHash signatures → LSH bands → candidate pairs → verify.
    // Signatures are computed in ONE pass per doc (scalar kernel over
    // the shingle array) instead of explode → crossJoin(seeds) →
    // groupBy → pivot: same md5 minima (lexicographic min over
    // lowercase hex == SQL MIN over VARCHAR), but zero shuffles until
    // the band self-join — at 100 TB the explode plan shuffles
    // |docs|·|shingles|·8 rows; this shuffles nothing.
    "q_dedup_minhash" -> ((s, dir) => {
      val docs = minhashDocs(s, dir)
      val bands = QueryCaches.cache(docs
        .withColumn("sh", Corpus.shingles("text"))
        .select(col("doc_id"),
          posexplode(bandKeys(s)).as(Seq("band", "bkey"))))
      // cached; an uncached variant relying on the self-join's
      // ReuseExchange A/B'd at level-parity (r12) — kept cached, the
      // cache also survives plan changes that would break exchange
      // reuse. Released by the harness via QueryCaches.releaseAll.

      // size-gated hot-band-key cap (VERDICT r19 #1): plain plan at or
      // below the gate (this fixture — oracle unchanged), occupancy cap
      // above it, recall gated by q_textband_recall/_prod. The gate
      // count reads the already-cached band frame.
      val cands = BandJoin.pairs(bands, Seq("band", "bkey"), "doc_id",
        "minhash", Cap.Auto, gateRows = bands.count()).distinct()
      val sets = docs.select(col("doc_id"), Corpus.shingles("text").as("sh"))
      cands
        .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard", round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    // DEDUP EVALUATION — the audit every dedup deployment runs before
    // trusting a banding configuration (the q_ann_recall counterpart
    // for the dedup path): candidate RECALL of the PLANTED near-dup
    // pairs (every 10th doc's appended-tail twin — ground truth known
    // by construction) and the verification SURVIVAL rate (what share
    // of band-collision candidates actually clears the Jaccard
    // threshold — the precision proxy that sizes the verify stage's
    // cost). One summary row, all counts integer-exact. Scale shape:
    // identical to q_dedup_minhash's banding (the thing under test)
    // plus one broadcast-joinable planted-pair table — nothing here
    // exceeds the construction being audited.
    "q_dedup_eval" -> ((s, dir) => {
      val docs = minhashDocs(s, dir)
      val bands = QueryCaches.cache(docs
        .withColumn("sh", Corpus.shingles("text"))
        .select(col("doc_id"),
          posexplode(bandKeys(s)).as(Seq("band", "bkey"))))
      // same size-gated capped construction as q_dedup_minhash (the
      // banding under audit must be the banding production runs)
      val cands = QueryCaches.cache(BandJoin.pairs(bands, Seq("band", "bkey"),
        "doc_id", "minhash", Cap.Auto, gateRows = bands.count()).distinct())
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1000000L).as("id_b"))
      val sets = docs.select(col("doc_id"), Corpus.shingles("text").as("sh"))
      val verified = cands
        .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4) >= 0.5)
      // one declarative plan: four scalar aggregates cross-joined into
      // the single summary row — no driver-side actions
      planted.agg(count(lit(1)).as("n_planted"))
        .crossJoin(cands.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(cands.join(planted, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1)).as("planted_found")))
        .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
        .select(col("n_planted"), col("n_candidates"), col("planted_found"),
          expr("planted_found * 1000 div greatest(n_planted, 1)")
            .as("cand_recall_pm"),
          col("n_verified"),
          expr("n_verified * 1000 div greatest(n_candidates, 1)")
            .as("verify_rate_pm"))
    }),

    // Capped-band RECALL audits (VERDICT r19 #1) — the q_fpband_recall
    // twins for the text LSH packs: what does the hot-band-key
    // occupancy cap cost in verified pairs, and what does it buy in
    // candidate volume, both as oracle-gated numbers. Forced cap 25
    // bites at sf0.01 (the planted empty-shingle block is ~72 docs →
    // its 4 shared band keys are hot → ~2.5k junk candidates drop);
    // cap 200 is the production Auto default, biting from sf0.1 up —
    // the scale artifacts carry its 10×/20× values, mirroring
    // q_fpband_recall_prod.
    "q_textband_recall" -> ((s, dir) => textBandRecall(s, dir, capAt = 25L)),
    "q_textband_recall_prod" -> ((s, dir) =>
      textBandRecall(s, dir, capAt = 200L)),

    // Corpus-level MinHash sketch per source via the typed Aggregator
    // (graft.text.MinHashAgg): per seed, min md5 over every shingle of
    // every doc in the group — partial sketches merge elementwise, so
    // this is a true map-side-combine aggregate.
    "q_source_minhash" -> ((s, dir) => {
      val sketch = udaf(graft.text.MinHashAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("sh", Corpus.shingles("text"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(sketch(col("sh")), ",").as("sketch"))
        .orderBy("source")
    }),

    // SimHash near-dup detection end-to-end: 64-bit hashes banded into
    // 4×16-bit words; pairs sharing ANY band word are candidates
    // (standard Hamming-LSH blocking — a pair within Hamming distance
    // 3 of 64 must agree on some band, and the appended-tail twins are
    // far tighter than that); candidates verified by exact Hamming
    // distance ≤ 12. Same shuffle shape as MinHash banding: the band
    // word is the partition key.
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      val docs = minhashDocs(s, dir)
      val words = QueryCaches.cache(docs
        .select(col("doc_id"), simhash64Udf(col("text")).as("w")))
      val bands = words.select(col("doc_id"),
        posexplode(col("w")).as(Seq("band", "bv")))
      // capped like the minhash bands (VERDICT r19 #1) — SimHash band
      // words are 16-bit, so unlike md5 band keys they collide
      // naturally as the corpus grows; the gate count reuses the
      // cached `words` frame (bands itself is a cheap uncached
      // posexplode, 4 rows per cached word row)
      val cands = BandJoin.pairs(bands, Seq("band", "bv"), "doc_id",
        "simhash", Cap.Auto, gateRows = words.count() * 4).distinct()
      cands
        .join(words.select(col("doc_id").as("id_a"), col("w").as("wa")), "id_a")
        .join(words.select(col("doc_id").as("id_b"), col("w").as("wb")), "id_b")
        .withColumn("hamming", expr(
          "bit_count(wa[0] ^ wb[0]) + bit_count(wa[1] ^ wb[1]) + " +
            "bit_count(wa[2] ^ wb[2]) + bit_count(wa[3] ^ wb[3])").cast("bigint"))
        .filter(col("hamming") <= 12)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    }),

    // CONSENSUS (ensemble) dedup — the high-precision mode production
    // pipelines run before destructive deletion: a pair is dropped
    // only when flagged by ≥2 INDEPENDENT signals (exact hash,
    // MinHash-LSH verified Jaccard, SimHash banded Hamming). Exact
    // twins vote 3/3; appended-tail near-dups vote 2/3 (minhash +
    // simhash — exact hashing deliberately misses them); any single-
    // method false positive dies at the vote. All three pair streams
    // are the SAME blocked/banded constructions the standalone queries
    // gate — no new all-pairs anything — and the vote is one hash
    // aggregate keyed on the pair.
    //
    // KEPT AS RECOMPUTE-PER-SIGNAL DELIBERATELY (round-11 three-way
    // A/B, same mini-suite, quiet machine, sf0.1 minima): this form
    // 1.81 s; one cached wide (hash, words, shingles, bands) artifact
    // frame 2.51 s (and 6.8 s median in the full suite — ~10
    // deserialized InMemoryTableScans of array-heavy rows); skinny
    // per-signal caches with re-keyed re-crawl twins 2.52 s. The
    // kernels are cheap enough that recomputation FUSED into each
    // signal's codegen'd join pipeline beats any cache's
    // materialization barrier + row-scan tax at this scale. (The
    // apparent r10 3.86 s median that motivated sharing was
    // adjudicated as machine load — the quiet base is 1.78 s.)
    "q_dedup_consensus" -> ((s, dir) => {
      // the minhash sub-corpus plus VERBATIM re-crawl copies of every
      // 20th doc: exact twins vote 3/3 (hash + jaccard 1 + hamming 0),
      // appended-tail twins vote 2/3, so both consensus tiers are
      // exercised
      val docs = minhashDocs(s, dir).unionByName(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      // exact: self-join on the content hash (identical-text pairs).
      // hashed and mbands are UNCACHED (r13 §8 lens): each feeds only
      // its own self-join, whose canonically-identical sides
      // ReuseExchange computes once — dropping both caches measured a
      // 17% WIN (5-pass mini-suite minima 1.850 → 1.539 s: two
      // materialization barriers and two deserialized-scan reads gone).
      // `words` below KEEPS its cache — its consumers (band self-join
      // + both id-keyed verify joins) need three different exchanges.
      val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val ex = hashed.as("a").join(hashed.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // `words` is defined up here (its simhash consumer is below)
      // because its cache also serves as the CHEAP size-gate count for
      // both capped band joins: mbands stays deliberately uncached
      // (r13 §8 — its self-join's sides are canonically identical, so
      // ReuseExchange computes the kernel once; a property the capped
      // construction preserves, both sides sharing one window), and
      // counting it directly would pay the minhash kernel an extra
      // full pass. words rows = consensus docs exactly.
      val words = QueryCaches.cache(docs
        .select(col("doc_id"), simhash64Udf(col("text")).as("w")))
      // minhash: banded LSH candidates verified at jaccard >= 0.5,
      // size-gated hot-key cap as in q_dedup_minhash (VERDICT r19 #1)
      val mbands = docs
        .withColumn("sh", Corpus.shingles("text"))
        .select(col("doc_id"),
          posexplode(bandKeys(s)).as(Seq("band", "bkey")))
      val mcands = BandJoin.pairs(mbands, Seq("band", "bkey"), "doc_id",
        "minhash", Cap.Auto, gateRows = words.count() * 4).distinct()
      val sets = docs.select(col("doc_id"), Corpus.shingles("text").as("sh"))
      val mh = mcands
        .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(round(
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))), 4) >= 0.5)
        .select("id_a", "id_b")
      // simhash: band-word collision candidates verified at hamming <= 12
      // (words cached above); same capped construction
      val sbands = words.select(col("doc_id"),
        posexplode(col("w")).as(Seq("band", "bv")))
      val scands = BandJoin.pairs(sbands, Seq("band", "bv"), "doc_id",
        "simhash", Cap.Auto, gateRows = words.count() * 4).distinct()
      val sh = scands
        .join(words.select(col("doc_id").as("id_a"), col("w").as("wa")), "id_a")
        .join(words.select(col("doc_id").as("id_b"), col("w").as("wb")), "id_b")
        .filter(expr(
          "bit_count(wa[0] ^ wb[0]) + bit_count(wa[1] ^ wb[1]) + " +
            "bit_count(wa[2] ^ wb[2]) + bit_count(wa[3] ^ wb[3])") <= 12)
        .select("id_a", "id_b")
      ex.withColumn("m", lit("e"))
        .unionByName(mh.withColumn("m", lit("m")))
        .unionByName(sh.withColumn("m", lit("s")))
        .groupBy("id_a", "id_b")
        .agg(max(when(col("m") === "e", 1L).otherwise(0L)).as("in_exact"),
          max(when(col("m") === "m", 1L).otherwise(0L)).as("in_minhash"),
          max(when(col("m") === "s", 1L).otherwise(0L)).as("in_simhash"))
        .withColumn("votes",
          col("in_exact") + col("in_minhash") + col("in_simhash"))
        .filter(col("votes") >= 2)
        .orderBy("id_a", "id_b")
    }),

    // Fuzzy matching: edit-distance similarity between adjacent catalog
    // entries — levenshtein is the classic record-linkage verifier run
    // AFTER blocking bounds the candidate pairs (here: consecutive
    // part keys; at scale: the same banding keys the minhash/simhash
    // stages produce). Both engines implement the identical DP metric,
    // so distances are exact integers.
    "q_fuzzy_match" -> ((s, dir) => {
      val parts = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_name"))
      val next = parts.select((col("p_partkey") - 1).as("p_partkey"),
        col("p_name").as("next_name"))
      parts.filter(col("p_partkey") % 5 === 0)
        .join(next, "p_partkey")
        .select(col("p_partkey"),
          levenshtein(col("p_name"), col("next_name")).cast("bigint").as("edit_dist"),
          (levenshtein(col("p_name"), col("next_name")) <= 15).as("is_match"))
        .orderBy("p_partkey")
    }),

    // Incremental (cross-crawl) dedup: only new-crawl docs whose
    // content hash is absent from the existing index survive — a hash
    // anti-join, the shape of a daily ingest against a 100 TB corpus
    // index (shuffle on the digest, or a bloom-filter pre-pass).
    // Exact re-crawls (+2M ids) are dropped; appended-tail near-dups
    // (+1M ids) pass — exact hashing deliberately misses them, which is
    // why the minhash/simhash stages exist downstream.
    "q_dedup_incremental" -> ((s, dir) => {
      val crawl = Corpus.withDuplicates(s, dir)
      val index = s.read.parquet(s"$dir/documents.parquet")
        .select(md5(col("text")).as("content_hash"))
      crawl.filter(col("doc_id") >= 1000000)
        .withColumn("content_hash", md5(col("text")))
        .join(index, Seq("content_hash"), "left_anti")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    }),

    // PageRank, 3 unrolled power iterations over a deterministic
    // 2-regular graph (edges c→(c+1) mod N and c→(2c+7) mod N) — the
    // iterative-join algorithm class beyond connected components:
    // each iteration is contribs = edges ⋈ ranks → groupBy(dst) →
    // nodes left-join, i.e. pure shuffle-join rounds with no driver
    // state, exactly how link analysis runs on a cluster. Numerics are
    // BIT-EXACT by construction, not by rounding: out-degree is always
    // 2 (÷2 exact), damping is dyadic (0.75/0.25), teleport is a
    // constant — every intermediate is a dyadic rational in double
    // range, so summation order can never matter and the oracle matches
    // to the last bit.
    "q_pagerank" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val n = nodes.count()
      val edges = nodes.select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
        .unionByName(nodes.select(col("id").as("src"), ((col("id") * 2 + 7) % n).as("dst")))
      var ranks = nodes.withColumn("r", lit(1.0))
      for (_ <- 1 to 3) {
        val contribs = edges.join(ranks, edges("src") === ranks("id"))
          .groupBy(col("dst")).agg(sum(col("r") / 2.0).as("contrib"))
        ranks = nodes.join(contribs, nodes("id") === contribs("dst"), "left")
          .select(col("id"), (lit(0.25) + lit(0.75) * coalesce(col("contrib"), lit(0.0))).as("r"))
      }
      ranks.orderBy(col("r").desc, col("id")).limit(20)
        .select(col("id"), col("r").as("rank"))
    }),

    // Degree-oriented triangle counting — the clustering-coefficient /
    // community-density primitive. The naive three-way edge self-join
    // is O(Σ deg²) on hub nodes and dies on power-law graphs; the
    // standard fix (orient every edge from its (degree, id)-smaller to
    // its (degree, id)-larger endpoint) bounds every node's OUT-degree
    // by O(√m), so the wedge join — the only superlinear step — is
    // O(m^1.5) worst-case TOTAL and each triangle is generated exactly
    // once, at its minimum-degree corner. Shapes: explode → degree
    // aggregate, two broadcast-or-shuffle equi-joins keyed on node ids,
    // a wedge self-join keyed on the shared source, one closing
    // equi-join on the (dst, dst) pair. Same deterministic graph family
    // as q_pagerank (ids are 0..n−1 contiguous by fixture contract).
    "q_triangle_count" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val n = nodes.count()
      val raw = nodes.select(col("id").as("u"), ((col("id") + 1) % n).as("v"))
        .unionByName(nodes.select(col("id").as("u"), ((col("id") + 2) % n).as("v")))
        .unionByName(nodes.select(col("id").as("u"), ((col("id") * 3 + 7) % n).as("v")))
      val und = raw.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
        .transform(QueryCaches.cache(_))
      val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      // orient low → high by (degree, id); keep the head's key so the
      // wedge join can re-order its two endpoints by the same relation
      val oriented = und
        .join(deg.withColumnRenamed("id", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("id", "b").withColumnRenamed("deg", "db"), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("src"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("dst"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("db"))
            .otherwise(col("da")).as("ddst"))
        .transform(QueryCaches.cache(_))
      val e1 = oriented.select(col("src"), col("dst").as("x"), col("ddst").as("dx"))
      val e2 = oriented.select(col("src"), col("dst").as("y"), col("ddst").as("dy"))
      val wedges = e1.join(e2, "src")
        .filter(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")))
      val closing = oriented.select(col("src").as("cx"), col("dst").as("cy"))
      val closed = wedges.join(closing,
        col("x") === col("cx") && col("y") === col("cy"))
      und.agg(count(lit(1)).as("n_edges")).crossJoin(
        broadcast(closed.agg(count(lit(1)).as("n_triangles"))))
        .withColumn("n_nodes", lit(n))
        .select("n_nodes", "n_edges", "n_triangles")
    }),

    // Bounded k-core peeling (k=5, 3 rounds) over the same synthetic
    // graph as q_triangle_count: each round drops every node whose
    // degree in the CURRENT induced subgraph is below k, then keeps
    // only edges with both endpoints surviving — the standard
    // dense-subgraph / spam-cluster extraction primitive. The round
    // budget is fixed so the computation is deterministic and SQL-
    // oracle-able (a production run loops to fixpoint; the per-round
    // cost model is identical). Shape: per round one degree aggregate
    // plus two LEFT SEMI joins, every exchange keyed on the node id —
    // O(E) per round at any scale, and the edge set only shrinks.
    // Count-min sketch, expressed RELATIONALLY — the frequency sketch
    // under heavy-hitter monitoring when exact per-key state is
    // unaffordable: 4 hash rows × 1024 cells of counts (the d×w grid
    // is the ENTIRE state — bounded regardless of corpus size), a
    // key's estimate is the MIN over its 4 cells, overcounts only
    // (collisions add, never subtract). The sketch build is one hash
    // aggregate over ≤4096 keys — map-side combine collapses the
    // token stream before the exchange, which is the whole 100 TB
    // story: the shuffle carries cells, not tokens. Reported against
    // exact counts for the top-10 tokens so the collision overcount is
    // visible and oracle-checked. The 4 hash rows are 4 DISJOINT
    // 12-bit windows of ONE md5 per token (chars 1-3, 4-6, 7-9, 10-12
    // of the 32-hex digest — independent bits of the same digest, the
    // standard cheap-CMS construction), so the hot path hashes each
    // token once, not once per row.
    "q_countmin_est" -> ((s, dir) => {
      // ONE token-frequency aggregate feeds both the sketch build and
      // the exact top-10 yardstick: a CMS cell's count is Σ counts of
      // the tokens hashing into it, so building from (tok, count) rows
      // is bit-identical to counting raw occurrences — but hashes each
      // DISTINCT token once instead of once per occurrence × 4 depths.
      // This is the combine every production sketch builder runs
      // map-side anyway; at 100 TB vocabulary ≪ corpus, so after the
      // one corpus-wide count the sketch build is a vocabulary-sized
      // job (isolated bench: 0.62 s median vs the 1.75 s fastest pass
      // of the per-occurrence form, oracle unchanged).
      val tokCounts = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("tok").agg(count(lit(1)).as("exact_n")))
      val cellExpr = expr(
        "CAST(conv(substring(h, d * 3 + 1, 3), 16, 10) AS BIGINT) % 1024")
      val cms = tokCounts.withColumn("h", md5(col("tok")))
        .select(col("exact_n"), col("h"), explode(expr("sequence(0, 3)")).as("d"))
        .withColumn("cell", cellExpr)
        .groupBy("d", "cell").agg(sum(col("exact_n")).as("cn"))
      val top = tokCounts.orderBy(col("exact_n").desc, col("tok")).limit(10)
      val probes = broadcast(top)
        .withColumn("h", md5(col("tok")))
        .select(col("tok"), col("exact_n"), col("h"),
          explode(expr("sequence(0, 3)")).as("d"))
        .withColumn("cell", cellExpr)
      probes.join(cms, Seq("d", "cell"))
        .groupBy("tok", "exact_n").agg(min(col("cn")).as("cms_est"))
        .select(col("tok"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("tok"))
    }),

    // Multi-source BFS, bounded depth — the traversal primitive under
    // "what's within k hops of these seeds" (contamination spread,
    // account-linking rings, neighborhood feature extraction). Frontier
    // expansion is one equi-join per hop with a min-combine after each
    // union, so the working set stays one row per REACHED node — never
    // a path enumeration (paths explode combinatorially; distances
    // don't). Three fixed rounds; exchanges keyed on node id only. The
    // graph is the deterministic customer chain (edges (c, c+1) for
    // c % 10 ∈ {1,2,3}, both directions), seeds are chain roots ending
    // in 01, so the oracle is a recursive CTE both engines agree on.
    "q_graph_bfs" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val fwd = nodes.filter(col("id") % 10 >= 1 && col("id") % 10 <= 3)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
      val edges = QueryCaches.cache(fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"))))
      var dist = nodes.filter(col("id") % 100 === 1)
        .select(col("id"), lit(0L).as("hop"))
      for (h <- 1 to 3) {
        val next = dist.filter(col("hop") === (h - 1))
          .join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), lit(h.toLong).as("hop"))
        dist = dist.unionByName(next)
          .groupBy("id").agg(min(col("hop")).as("hop"))
      }
      dist.groupBy("hop").agg(count(lit(1)).as("n_nodes"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy("hop")
    }),

    // HITS hubs & authorities (Kleinberg), two exact iterations on
    // the DIRECTED deterministic graph — the mutual-recursion
    // fixpoint pagerank doesn't cover (a good hub points AT good
    // authorities; a good authority is pointed at BY good hubs).
    // Scores stay unnormalized integers (h₀ = 1; aᵢ = Σ h over
    // in-edges; hᵢ = Σ a over out-edges — degree ≤ 3 each way, so
    // two rounds stay tiny), which makes both engines bit-exact with
    // no float normalization step; each round is one edge equi-join
    // + one hash aggregate, the same O(rounds) shuffle shape as the
    // BFS/k-core pack. Ranks are per-mille of the max, integer.
    "q_graph_hits" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val edges = (1 to 3).map(k =>
          nodes.select(col("id").as("src"), (col("id") + k).as("dst")))
        .reduce(_ unionByName _)
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .transform(QueryCaches.cache(_)) // four consumers (two rounds
      // × two directions) over a semi-join lineage
      // a1(v) = Σ_{u→v} h0(u) = indegree
      val a1 = edges.groupBy("dst").agg(count(lit(1)).as("a1"))
      // h1(u) = Σ_{u→v} a1(v)
      val h1 = edges.join(a1, "dst")
        .groupBy("src").agg(sum("a1").as("h1"))
      // a2(v) = Σ_{u→v} h1(u)
      val a2 = edges.join(h1, "src")
        .groupBy("dst").agg(sum("h1").as("a2"))
      val top = a2.join(a1, "dst")
        .join(h1.withColumnRenamed("src", "dst"), Seq("dst"), "left")
        .select(col("dst").as("id"), col("a1").as("indeg"),
          coalesce(col("h1"), lit(0L)).as("hub"), col("a2").as("auth"))
      top.crossJoin(broadcast(top.agg(max(col("auth")).as("mx"))))
        .withColumn("auth_pm", expr("auth * 1000 div mx"))
        .select("id", "indeg", "hub", "auth", "auth_pm")
        .orderBy(col("auth").desc, col("id"))
        .limit(20)
    }),

    // Jaccard link prediction (common-neighbors scoring) — rank the
    // NON-edges most likely to exist, the "people you may know" /
    // entity-linking primitive. Complements q_triangle_count: the
    // wedge join there counts CLOSED wedges; here the OPEN ones are
    // the product. One wedge enumeration keyed on the middle node
    // (Σ deg² — deg is ≤6 by the generator construction; on a general
    // graph this is where a degree cap goes, same argument as the
    // triangle pack), an anti-join drops pairs already linked, and
    // |N(u)∪N(v)| comes from the degree margins (du + dv − common) —
    // never a second neighbor-set join. All-integer per-mille score.
    "q_graph_jaccard" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val fwd = (1 to 3).map(k =>
          nodes.select(col("id").as("src"), (col("id") + k).as("dst")))
        .reduce(_ unionByName _)
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .transform(QueryCaches.cache(_)) // three consumers with three
      // DIFFERENT exchanges (adj both directions feeding the wedge join
      // and degrees; the canonical edge anti-join) over a lineage with
      // a semi-join — the paying configuration
      val adj = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
      val wedges = adj.as("a").join(adj.as("b"),
          col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
        .groupBy(col("a.dst").as("u"), col("b.dst").as("v"))
        .agg(count(lit(1)).as("common"))
      val epairs = fwd.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
      wedges.join(epairs, Seq("u", "v"), "left_anti")
        .join(deg.withColumnRenamed("src", "u")
          .withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("src", "v")
          .withColumnRenamed("deg", "dv"), "v")
        .select(col("u"), col("v"), col("common"),
          expr("common * 1000 div (du + dv - common)").as("jaccard_pm"))
        .orderBy(col("jaccard_pm").desc, col("u"), col("v"))
        .limit(20)
    }),

    // Iterative 5-core peel, 3 rounds. Two measured r12 decisions:
    // (1) materialize the DROP-set (deg < 5, the tiny peel boundary)
    // and broadcast-ANTI-join it, instead of semi-joining the ~|V|-row
    // keep-set; (2) do NOT cache the per-round edge set — after (1)
    // its lineage is the round-1 distinct cache plus broadcast
    // anti-joins (no shuffle, stays in codegen), so recomputing it for
    // the next round's degree scan is cheaper than a 450 k-row cache
    // materialization. 5-pass mini-suite minima at sf0.1:
    // 3.90 s (keep-semi + per-round cache) → 3.26 (drop-anti, cached)
    // → 2.53 (drop-anti, uncached). Only the per-round DEGREE table is
    // cached (consumed by drop-set, survivor count, and every later
    // round through the anti-join lineage).
    "q_graph_kcore" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val n = nodes.count()
      val raw = nodes.select(col("id").as("u"), ((col("id") + 1) % n).as("v"))
        .unionByName(nodes.select(col("id").as("u"), ((col("id") + 2) % n).as("v")))
        .unionByName(nodes.select(col("id").as("u"), ((col("id") * 3 + 7) % n).as("v")))
      var edges = raw.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct()
        .transform(QueryCaches.cache(_))
      val rounds = (1 to 3).map { r =>
        // consumed twice (the drop-set + the survivor count)
        val deg = QueryCaches.cache(
          edges.select(explode(array(col("a"), col("b"))).as("id"))
            .groupBy("id").agg(count(lit(1)).as("deg")))
        // materialize the DROP-set, not the keep-set (the q_containment
        // trick): in a peel round almost every node survives, so the
        // keep-set is ~|V| while the sub-threshold set is the tiny
        // boundary — the two anti-join broadcasts ship kilobytes
        // instead of the old keep-semi-joins' ~|V|-row builds, and the
        // asymmetry only grows with the graph. The broadcast is
        // AQE-ADAPTIVE, not hint-forced (r13 audit): THIS fixture's
        // peel boundary is kilobyte-scale, but in a general graph the
        // sub-threshold set is O(|V|) — on a sparse graph a forced
        // broadcast() hard-fails past the 8 GB limit where AQE
        // degrades to a shuffled anti-join. AQE converts from the
        // cached deg aggregate's runtime stats (PlanShapeSpec pins the
        // final plan); measured parity on de-hinting, 5-pass
        // mini-suite minima: 2.931 → 2.753 s.
        val drop = deg.filter(col("deg") < 5).select("id")
        edges = edges
          .join(drop.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
          .join(drop.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
        deg.filter(col("deg") >= 5).agg(count(lit(1)).as("n_nodes"))
          .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }
      rounds.reduce(_ unionByName _).orderBy("round")
    }),

    // The bloom-filter pre-pass in front of incremental dedup — the
    // shape that matters at 100 TB: the historical index collapses to a
    // fixed-size sketch (n·~10 bits at 1% fpp) built by one aggregation
    // and shipped to every executor, so the EXPENSIVE anti-join runs
    // only over the tiny bloom-positive slice (true dups + ~1% false
    // positives) instead of the whole fresh crawl. Bloom misses are
    // definitely-new by construction (no false negatives), so
    // prefilter + exact-verify-the-positives is EXACTLY the plain
    // anti-join result — the oracle is the same SQL as
    // q_dedup_incremental, proving the optimization changes the plan,
    // not the answer. The sketch is PLAN-INTERNAL: a scalar subquery
    // over Spark's native BloomFilterAggregate, probed with the native
    // `might_contain` expression — no driver-side build, no broadcast
    // variable, no UDF (this replaced the round-8 ScalaUDF; the dedup
    // pack is now UDF-free), and the whole pipeline stays inside
    // whole-stage codegen.
    "q_dedup_bloom" -> ((s, dir) => {
      graft.plans.NativeBloom.register(s)
      // sized from the table's row count — an unfiltered parquet count()
      // is a footer-metadata aggregate, not a data scan; ~10 bits/item
      // ≈ 1% fpp. CLAMPED to the analyzer's hard caps (default 4M
      // items / 2²⁶ bits): bloom_filter_agg REJECTS arguments above
      // spark.sql.optimizer.runtime.bloomFilter.maxNum{Items,Bits} at
      // analysis time, so past ~6.7M rows an unclamped sketch would
      // fail the whole query instead of degrading — with the clamp the
      // sketch saturates and the fpp rises, which only sends more rows
      // to the exact verify branch (the result stays exact by
      // construction).
      val maxItems = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
      val maxBits = s.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
      val nItems = math.min(maxItems,
        math.max(s.read.parquet(s"$dir/documents.parquet").count(), 1000L))
      val nBits = math.min(maxBits, nItems * 10)
      Corpus.withDuplicates(s, dir)
        .filter(col("doc_id") >= 1000000)
        .withColumn("content_hash", md5(col("text")))
        .createOrReplaceTempView("graft_bloom_fresh")
      // cached: BOTH output branches (definitely-new, verify-positives)
      // read the probed stream — without the cache each branch re-scans
      // the corpus AND re-executes the bloom-build subquery
      val bloomed = QueryCaches.cache(s.sql(
        s"""SELECT doc_id, content_hash,
           |       might_contain(
           |         (SELECT bloom_filter_agg(xxhash64(md5(text)), ${nItems}L, ${nBits}L)
           |          FROM parquet.`$dir/documents.parquet`),
           |         xxhash64(content_hash)) AS maybe_dup
           |FROM graft_bloom_fresh""".stripMargin))
      val index = s.read.parquet(s"$dir/documents.parquet")
        .select(md5(col("text")).as("content_hash"))
      bloomed.filter(!col("maybe_dup")).select("doc_id", "content_hash")
        .unionByName(bloomed.filter(col("maybe_dup"))
          .join(index, Seq("content_hash"), "left_anti")
          .select("doc_id", "content_hash"))
        .orderBy("doc_id")
    }),

    // Dedup clustering: connected components over a candidate-pair
    // graph by iterative min-label propagation — the step that turns
    // pairwise near-dup hits into survivor groups. The graph here is a
    // deterministic chain construction (nodes = customer keys; edges
    // (c, c+1) for c % 10 ∈ {1,2,3} → components of ≤ 4 nodes), so the
    // oracle has a closed form while the Spark side runs the real
    // large-star/small-star alternation (GraphOps): distance-doubling
    // rewiring converges in O(log diameter) shuffle rounds where plain
    // min-label propagation needs O(diameter) — on these diameter-3
    // chains both are quick, but at 100 TB chain-shaped components the
    // log bound is the difference between 3 and 30 shuffle rounds. No
    // driver-side graph state either way.
    "q_dedup_cluster" -> ((s, dir) => {
      val nodes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("id"))
      val fwd = nodes.filter(col("id") % 10 >= 1 && col("id") % 10 <= 3)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        // keep only edges whose endpoint exists (chain truncation at max key)
        .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      GraphOps.alternatingStarComponents(nodes, edges)._1
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy("cluster_id")
    }),

    // INCREMENTAL cluster maintenance as a STREAM (VERDICT r17 #8 —
    // the main+delta pattern the BM25 index already has, brought to
    // the dedup survivor/cluster state): new documents arrive in
    // micro-batches (Trigger.AvailableNow file source, one chunk file
    // per trigger) and cluster assignments UPDATE without full
    // recompute. Per batch: (1) only the edges incident to NEW nodes
    // materialize; (2) those edges' endpoint labels form a LABEL-MERGE
    // graph, resolved to component minima over the touched LABELS only
    // — a frame proportional to the delta, not the corpus; (3) one
    // broadcast remap join extends the (lazy) cumulative assignment.
    // Per-batch CHECKPOINT bytes ∝ delta (VERDICT r18 #5 — see
    // streamClusterDrain), so at 100 TB new docs stream in and both
    // the recompute AND the state I/O follow the delta, never the
    // corpus.
    //
    // Correctness: connected components are arrival-order independent,
    // and the min-label invariant holds inductively (every batch's
    // merge takes the min over the merged components' labels, which
    // are themselves component minima of the arrived prefix), so the
    // drained state EQUALS the batch q_dedup_cluster — same closed-form
    // oracle, the batch ≡ stream discipline q_stream_pipeline set. The
    // chunk files interleave ids mod 6 (chain neighbors c, c+1 land in
    // different files), so nearly every edge merges ACROSS batches —
    // the incremental path is exercised, not bypassed.
    "q_stream_dedup_cluster" -> ((s, dir) => {
      val (assign, _) = streamClusterDrain(s, dir)
      assign.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy("cluster_id")
    }),

    // Cap-margin AUDIT for the stream-cluster driver union-find
    // (VERDICT r18 #6): the 100k-pair cap that routes a batch's merge
    // graph to the driver fast path was a magic number — this query
    // makes the margin a MEASURED, oracle-gated row at every fixture
    // (and lands in the scale artifacts at 10×/20× via Verify +
    // tools/scale_artifacts.py). It drains the real stream and reports
    // the LARGEST per-batch merge graph observed. The oracle re-derives
    // the same number arithmetically: chunk b holds ids ≡ b (mod 6) and
    // AvailableNow processes chunks in chunk order — ENFORCED by the
    // strictly increasing mtime stamps clusterNodeTree writes (ADVICE
    // r19: the file source sorts by modification time, and without the
    // stamps a coarse-mtime filesystem could tie and flip the batch
    // attribution) — so a valid chain
    // edge (c, c+1) survives the inner label joins exactly once — in
    // the batch its LATER endpoint arrives, max(c mod 6, (c+1) mod 6) —
    // and the la≠lb filter never drops a chain edge (the chain graph is
    // a forest: an edge's endpoints cannot be already-connected when it
    // is processed). Per-batch merge-pair count therefore equals the
    // count of valid edges with that activation batch, a pure GROUP BY
    // in SQL. The cap column carries the PRODUCTION default (the margin
    // being audited), pinned as a literal on both sides.
    "q_streamcluster_mergesize" -> ((s, dir) => {
      val (_, batches) = streamClusterDrain(s, dir)
      require(batches.forall(_.mergePairs >= 0),
        "merge graph overflowed the cap during the audit drain — raise " +
          "spark.graft.streamcluster.cap for this fixture")
      val mx = batches.map(_.mergePairs).max
      val withMerges = batches.count(_.mergePairs > 0).toLong
      import s.implicits._
      Seq((mx, withMerges, 100000L))
        .toDF("max_merge_pairs", "n_batches_with_merges", "cap")
    }),

    // INCREMENTAL survivor selection as a STREAM (VERDICT r18 #8 — the
    // last mutable dedup artifact brought under the batch ≡ stream
    // discipline: index r14, pipeline r17, clusters r18, survivors
    // now): documents arrive in micro-batches and each prefix-key
    // cluster's best survivor (max tokens, ties to min doc_id) REVISES
    // incrementally. Machinery deliberately differs from the cluster
    // query: this is Spark's own keyed state store via
    // mapGroupsWithState (per-key state = one 5-field record, bounded
    // regardless of cluster size; the engine's HDFS-backed store writes
    // per-batch DELTA files of touched keys only — the delta-sized
    // state I/O the cluster query hand-builds, here for free), Update
    // output into a memory sink, last emission per key selected at
    // drain end by the monotone member counter. The fold is
    // order-independent (max over a total order + counters), so the
    // drained state equals batch q_dedup_keep_best verbatim — same
    // oracle. The chunk tree puts every (original, duplicate) pair in
    // different batches (keepBestDocTree), so survivor revision is
    // exercised cross-batch, not resolved within one. At 100 TB: state
    // ∝ distinct clusters, per-batch I/O ∝ touched keys, and the memory
    // sink becomes an upsert sink (foreachBatch MERGE) with the same
    // plan.
    "q_stream_keep_best" -> ((s, dir) => {
      import s.implicits._
      val tree = keepBestDocTree(s, dir)
      val name = s"stream_keep_best_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val updates = graft.streaming.EventStreams.drainTuned(s, dir) {
        val rows = s.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$tree/chunk*")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            md5(expr("concat_ws(' ', slice(w, 1, 30))")).as("prefix_key"),
            size(col("w")).cast("bigint").as("toks"))
          .as[KbRow]
        val st = rows.groupByKey(_.prefix_key)
          .mapGroupsWithState[KbState, KbState](
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
            (key: String, it: Iterator[KbRow], state: org.apache.spark.sql.streaming.GroupState[KbState]) =>
              var cur = state.getOption
                .getOrElse(KbState(key, 0L, -1L, -1L, Long.MaxValue))
              it.foreach { r =>
                // same total order as the batch max_by ord struct
                // (toks desc, doc_id asc); -1L sentinel loses to any
                // real token count, so the first row always installs
                val better = r.toks > cur.survivor_toks ||
                  (r.toks == cur.survivor_toks && r.doc_id < cur.survivor_id)
                cur = KbState(key, cur.n_members + 1,
                  if (better) r.doc_id else cur.survivor_id,
                  if (better) r.toks else cur.survivor_toks,
                  math.min(cur.min_toks, r.toks))
              }
              state.update(cur)
              cur
          }
        graft.streaming.EventStreams.runToCompletion(st.toDF(), name,
          org.apache.spark.sql.streaming.OutputMode.Update())
      }
      // last emission per key: n_members is strictly monotone across a
      // key's emissions (every emitting batch added ≥1 member), so the
      // lexicographic struct max IS the final state
      updates.groupBy(col("prefix_key"))
        .agg(max(struct(col("n_members"), col("survivor_id"),
          col("survivor_toks"), col("min_toks"))).as("m"))
        .filter(col("m.n_members") >= 2)
        .select(col("prefix_key"), col("m.n_members").as("n_members"),
          col("m.survivor_id").as("survivor_id"),
          col("m.survivor_toks").as("survivor_toks"),
          col("m.min_toks").as("min_toks"))
        .orderBy("prefix_key")
    }),

    // 16-bit SimHash per subset doc (full 64-bit is the same loop with
    // a wider accumulator; 16 bits keeps the oracle SQL tractable).
    "q_dedup_simhash" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 5 === 0)
        .repartition(col("doc_id")) // single-row-group scan → spread the hash kernel
        .select(col("doc_id"), simhash16Udf(col("text")).as("simhash16"))
        .orderBy("doc_id")),

    // Approximate string JOIN at edit distance ≤ 1 via deletion
    // neighborhoods (the SymSpell blocking scheme): every string emits
    // itself plus each single-character deletion as blocking keys; two
    // strings within one edit (substitution / insertion / deletion)
    // PROVABLY share at least one key, so the quadratic similarity join
    // becomes an equi-join on the key with small buckets, followed by
    // exact levenshtein verification of the candidates (needed: e.g.
    // "ab"/"ba" share the key "b" but sit at distance 2). The oracle is
    // the naive all-pairs join — feasible only at oracle scale, which
    // is exactly the point: at 100 TB the neighborhood key is the
    // shuffle key and nothing is ever all-pairs. Key generation is a
    // pure HOF expression (sequence + transform + substring), no UDF.
    "q_fuzzy_join" -> ((s, dir) => {
      // NOT spread (r20) — the explode feeds straight into the
      // shuffle-hash join's exchange, so a pre-exchange only
      // duplicates that shuffle (the valid-A/B family's losing
      // pattern, OPTIMIZATION_r20.md §2).
      val names = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_name").as("name"))
      // array_distinct matters: deleting any char of an equal-char run
      // yields the SAME key (customer names carry ~7-zero runs), so the
      // raw neighborhood holds the key up to 7×; deduping keys per name
      // before the explode cuts the candidate join's fan-out
      // quadratically (measured ~25% off the sf0.1 median; the rest is
      // the inherent ~10⁵-pair distinct + levenshtein verify)
      // NOT cached although both join sides read it (r12 A/B: caching
      // measured min 1.51 → 1.82 s) — the self-join's two sides are
      // canonically identical, so ReuseExchange already computes the
      // HOF neighborhood once at the shuffle; a cache only adds a
      // materialization barrier. The HOF-work-once rule is satisfied
      // by exchange reuse here, unlike q_boilerplate_lines where the
      // two consumers need DIFFERENT exchanges.
      val variants = names.withColumn("key", explode(array_distinct(concat(
        array(col("name")),
        expr("""transform(sequence(1, length(name)),
               |  i -> concat(substring(name, 1, i - 1),
               |              substring(name, i + 1, length(name) - i)))""".stripMargin)))))
      val a = variants.select(col("name").as("name_a"), col("key"))
      val b = variants.select(col("name").as("name_b"), col("key"))
      // shuffle-hash, not sort-merge: the candidate join's value is in
      // its (small) per-key buckets, not in key order — hashing skips
      // sorting both exploded sides, and the downstream distinct
      // re-shuffles on the pair anyway so the SMJ order is never reused
      a.hint("shuffle_hash").join(b, "key")
        .filter(col("name_a") < col("name_b"))
        .select("name_a", "name_b").distinct()
        .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
        .orderBy("name_a", "name_b")
    }),

    // URL canonicalization dedup — the first stage of any crawl
    // pipeline: lowercase, strip fragment, strip utm_* tracking params,
    // drop "www." and default port, collapse the trailing slash, THEN
    // group. Pure codegen'd string expressions (zero UDF), one shuffle
    // on the canonical key; at 100 TB the canonical form is also the
    // natural partition key for everything downstream. The raw URLs are
    // derived deterministically from (doc_id, source) so both engines
    // build byte-identical inputs.
    // Sub-document (paragraph-level) dedup with reconstruction — the
    // CCNet/FineWeb-style pass that whole-doc dedup cannot replace: a
    // page quoting a syndicated block keeps its original content while
    // the REPEATED block is stripped, and only the first occurrence
    // corpus-wide survives. Paragraph = fixed 16-token window (the
    // fixture text has no sentence punctuation); first occurrence =
    // min (doc_id, idx) per chunk text, realized as ONE chunk-keyed
    // window pass (row_number over (chunk) ordered by (doc_id, idx) —
    // uniqueness needs no special case, a unique chunk's rn IS 1).
    // Shape: doc-local HOF chunking run once (q_phrase_search rule),
    // one chunk-keyed exchange for the window, one doc_id aggregate
    // that rebuilds the cleaned text from kept chunks in idx order
    // (sort_array of (idx, chunk) structs — deterministic) and hashes
    // it. At 100 TB a boilerplate mega-chunk sorts on one reducer —
    // the standard mitigation is pre-aggregating count==1 chunks past
    // the window (they are the overwhelming majority and their rn is
    // trivially 1); not needed at fixture scale, recorded here.
    "q_paragraph_dedup" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window.partitionBy("chunk").orderBy("doc_id", "idx")
      Corpus.withDuplicates(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0L, (size(w) + 15) div 16 - 1),
            |  i -> struct(i as idx,
            |    concat_ws(' ', slice(w, CAST(i * 16 + 1 AS INT), 16)) as chunk))"""
            .stripMargin)).as("p"))
        .select(col("doc_id"), col("p.idx").as("idx"), col("p.chunk").as("chunk"))
        .withColumn("rn", row_number().over(win))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          md5(expr("array_join(transform(sort_array(collect_list(" +
            "CASE WHEN rn = 1 THEN struct(idx, chunk) END)), s -> s.chunk), ' ')"))
            .as("cleaned_hash"))
        .orderBy("doc_id")
    }),

    // Quality-aware survivor selection — the dedup policy knob
    // q_dedup_exact/q_dedup_remap deliberately fix at "min doc_id":
    // real curation keeps the BEST member of a near-dup cluster, here
    // the MOST COMPLETE one (token count — near-dup clusters routinely
    // contain truncated variants of the same page; any integer quality
    // score plugs into the same ord). Cluster key = md5 of the first
    // 30 tokens (prefix fingerprint — the crawl-dedup blocking that
    // catches tail-truncated/extended variants exact hashing misses;
    // the withDuplicates near-copies share their base's prefix, so the
    // selection is demonstrably NOT min-id: the longer +1M variant
    // wins its cluster, spec-pinned). The scale design point is the
    // SHAPE: survivor = max_by(doc_id, ord) with ord a STRUCT
    // (quality, -doc_id) — structs are orderable in Spark, compared
    // field-by-field, so max IS (best quality, then smallest doc_id)
    // with NO packing arithmetic and therefore no overflow bound: any
    // int64 quality score and any int64 doc_id plug in (the r14
    // packed-BIGINT ord silently mis-picked past doc_id > 1e10−1 or
    // toks ≥ ~9.2e8 — ADVICE audit). Still a single map-side
    // combinable aggregate on the cluster key: ONE exchange, no
    // per-cluster window, no survivor join-back. The DuckDB oracle
    // can't struct-order max_by, so it packs into HUGEINT (int128,
    // 10^18 stride — exact for toks < 9.2e18/1e18 bound-free in
    // practice). Contrast q_dedup_remap, which ships the remap table
    // and pays the join back.
    "q_dedup_keep_best" -> ((s, dir) => {
      Corpus.withDuplicates(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          md5(expr("concat_ws(' ', slice(w, 1, 30))")).as("prefix_key"),
          size(col("w")).cast("bigint").as("toks"))
        .withColumn("ord", expr("struct(toks, -doc_id)"))
        .groupBy("prefix_key")
        .agg(count(lit(1)).as("n_members"),
          expr("max_by(doc_id, ord)").as("survivor_id"),
          max("toks").as("survivor_toks"),
          min("toks").as("min_toks"))
        .filter(col("n_members") >= 2)
        .orderBy("prefix_key")
    }),

    // Cross-doc exact repeated-SPAN detection — the relational form of
    // suffix-array exact-substring dedup (the "dedup training data at
    // the substring level" pass published corpus work runs alongside
    // near-dup): find every maximal token span that appears verbatim in
    // MORE THAN ONE document, and report per doc how much of it is
    // duplicated text. Where q_paragraph_dedup strips fixed 16-token
    // chunks and q_repetition scores intra-doc repeats, this is
    // position-exact and cross-doc: 5-token shingles WITH positions
    // (doc-local HOF transform run once — the q_phrase_search rule),
    // a shingle-keyed min/max aggregate whose min(doc_id) ≠ max(doc_id)
    // is the EXACT cross-doc test (map-side combinable, never a
    // count-distinct), a keep-set equi-join back to positions (bounded
    // by the corpus's position count — each position joins at most
    // once), then per-doc island merging: two repeated-shingle
    // positions share a span iff their 5-token windows overlap or
    // touch (gap ≤ 5), realized as the q_gaps_islands lag+running-sum
    // shape over doc-bounded windows — flat at 100 TB. rep_toks is the
    // exact size of the UNION of repeated windows (islands are
    // disjoint by construction), so an exact copy measures cov_pm =
    // 10000 (spec-pinned). The shuffle key is xxhash64(shingle) — see
    // the collision-bound note below; at 100 TB the hottest
    // boilerplate shingles would additionally go through the
    // q_containment df-cap drop-set.
    "q_span_dedup" -> ((s, dir) => {
      val k = 5
      // The shingle STRING is hashed to a 64-bit key map-side
      // (xxhash64) before either exchange, so the ~40-byte 5-gram
      // text never shuffles — the groupBy and the keep-set join both
      // move 8-byte keys (A/B at sf0.1, 5-pass mini-suite, two
      // confirming runs: min 2.00 → 1.49 s, median 2.99 → 1.94 —
      // −26%/−35%). Collision honesty: a false "repeated"
      // mark needs two DIFFERENT shingles sharing a 64-bit hash; by
      // the birthday bound that is ~n²/2⁶⁵ ≈ 7·10⁻⁹ at this fixture's
      // ~5·10⁵ distinct shingles, and the deterministic fixtures are
      // EMPIRICALLY collision-free — the DuckDB oracle (string-keyed)
      // hash-matches at every gate scale and the NewOpsSpec
      // brute-force cross-check agrees on random corpora. At 10¹²
      // distinct shingles (100 TB) the expected ~30k collisions each
      // mis-mark one 5-token window (~10⁻⁷ relative coverage error)
      // — the standard trade published hash-based span-dedup
      // pipelines make; switch to a 128-bit pair of seeded xxhash64
      // if even that is unacceptable.
      // NOT spread (r20: the one VALID same-session A/B read off
      // 0.68×/0.73× — a Spread.ifNarrow here costs ~30%; the first
      // A/Bs that suggested otherwise compared identical code through
      // a conf-quoting bug, see OPTIMIZATION_r20.md §2).
      val sh = Corpus.withDuplicates(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), size(col("w")).cast("bigint").as("n_toks"),
          posexplode(expr(
            s"""transform(slice(w, 1, greatest(size(w) - ${k - 1}, 0)),
               |  (x, i) -> concat_ws(' ', x, element_at(w, i + 2),
               |    element_at(w, i + 3), element_at(w, i + 4),
               |    element_at(w, i + 5)))""".stripMargin))
            .as(Seq("pos", "sh")))
        .select(col("doc_id"), col("n_toks"), col("pos"),
          xxhash64(col("sh")).as("h"))
      val repeated = sh.groupBy("h")
        .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
        .filter(col("mn") =!= col("mx"))
        .select("h")
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      sh.join(repeated, "h")
        .select("doc_id", "n_toks", "pos")
        .withColumn("brk",
          when(col("pos") - lag("pos", 1).over(w1) > k, 1L).otherwise(0L))
        .withColumn("grp", sum("brk").over(w1))
        .groupBy(col("doc_id"), col("n_toks"), col("grp"))
        .agg(min("pos").as("sp"), max("pos").as("ep"))
        .withColumn("span_toks", (col("ep") - col("sp") + k).cast("bigint"))
        .groupBy("doc_id", "n_toks")
        .agg(count(lit(1)).as("n_spans"),
          max("span_toks").as("max_span_toks"),
          sum("span_toks").as("rep_toks"))
        .withColumn("cov_pm", expr("rep_toks * 10000 div n_toks"))
        .select("doc_id", "n_spans", "max_span_toks", "rep_toks", "cov_pm")
        .orderBy("doc_id")
    }),

    "q_url_canonical" -> ((s, dir) => {
      val raw = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
        .withColumn("url", concat(
          lit("https://"),
          when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
          col("source"), lit(".example.com"),
          when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/"), (col("doc_id") % 37).cast("string"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?id="), (col("doc_id") % 37).cast("string"),
          lit("&utm_source=s"), (col("doc_id") % 5).cast("string"),
          lit("#sec"), (col("doc_id") % 7).cast("string")))
      raw
        .withColumn("canon",
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(lower(col("url")), "#.*$", ""),
                  "&utm_[^&#]*", ""),
                "://www\\.", "://"),
              ":443/", "/"),
            "/\\?", "?"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("canon")
    }),

    // Containment dedup (overlap coefficient against the smaller set):
    // catches a document fully CONTAINED in another — an excerpt, a
    // quoted page, a subset re-crawl — which symmetric Jaccard misses
    // (|A∩B|/|A∪B| stays small when |A| ≪ |B| even at containment 1.0).
    // Excerpts are derived deterministically (first 30 tokens of every
    // doc_id % 5 == 0, id + 3,000,000) so both engines build identical
    // inputs. Shape: shingle-keyed equi-join between the exploded
    // excerpt and base shingle sets (never a doc product); per-pair
    // intersection counts (shingle lists are distinct, so the join row
    // count IS |∩|) divided by the excerpt's CAPPED set size.
    //
    // DF CAP (skew bound, same discipline as q_passage_overlap's
    // posting-list cap): a boilerplate shingle shared by 10⁶ documents
    // would make one shuffle key carry 10⁶ rows — the hot-key straggler
    // at 100 TB — and each hot shingle contributes O(df·|excerpts with
    // it|) candidate pairs. Shingles with base document frequency > 50
    // are dropped from BOTH sides before the join. The drop-set (not
    // the keep-set) is what's materialized: by Zipf it is the tiny head
    // of the distribution, so it broadcasts and both explodes are
    // filtered map-side with a broadcast anti-join — the hot keys never
    // enter any shuffle at all (an inner join with the huge keep-set
    // would itself shuffle the hot keys it exists to kill). The
    // broadcast is AQE-ADAPTIVE, not hint-forced (r13, closing the
    // forced-broadcast audit): the Zipf-head argument makes the
    // drop-set SUBLINEAR in the corpus but puts no hard bound on it —
    // on a corpus whose shingle distribution is flatter than this
    // fixture's, a forced broadcast() would hard-fail past the 8 GB
    // limit where AQE degrades to a shuffled anti-join. At fixture
    // scale AQE converts from the aggregate's runtime stats and the
    // map-side filtering is unchanged (PlanShapeSpec pins the FINAL
    // plan); measured parity on de-hinting, 5-pass mini-suite minima:
    // 1.886 → 1.833 s. The df aggregate that finds the head is safe:
    // partial map-side combine means a hot shingle arrives at the
    // reducer as one pre-merged count per task, not 10⁶ rows.
    // Containment = |∩ capped| / |excerpt capped|.
    "q_containment" -> ((s, dir) => {
      // NOT spread (r20) — both explodes fill CACHES, and a cached
      // plan's partitioning is pinned, so a pre-exchange's 32 fixed
      // partitions would propagate into every consumer stage
      // (the valid-A/B family's biggest loss mode — q_passage_overlap
      // read 0.40× under exactly this shape; OPTIMIZATION_r20.md §2).
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val excerpts = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 30)).as("text"))
      // cache re-measured at the 20x fixture TWICE. Cold single-pass
      // (r13): uncached 7.10 -> 7.72 s min. Warm 3-pass under the
      // bench's prebuild pass (r15): cached min 2.06 s vs uncached
      // 4.60 s — the cache pays 2.2x even fully warm (three
      // different-exchange consumers: df agg, base anti-join,
      // intersection join), so it STAYS. The r13/r14 "2.5-3.2x per 2x
      // rows" scale constant is hereby RETIRED as a cold-measurement
      // artifact: warm adjudicated 3-pass minima are ~flat across
      // scale (sf0.1 1.87 s, 10x 2.24 s, 20x 2.06 s for 1x/10x/20x
      // doc counts; disp_frac2 0.0 on every run) — at these fixture
      // sizes the query is overhead-bound and its volumes were already
      // proven exactly linear in r13 (docs/ROUND13_NOTES.md).
      // Shingles are hashed to 64-bit keys map-side right after the
      // explode (the q_span_dedup treatment, same collision bound —
      // a collision inflates one pair's |∩| by 1): the df aggregate
      // shuffles 8-byte keys, the drop-set broadcast and the AQE
      // excerpt-side broadcast ship 8-byte keys, and both CACHES hold
      // longs instead of ~30-byte strings — the cache-pressure scale
      // constant (2.5–3.2× per 2× rows, volumes proven linear by
      // ROUND13_NOTES) shrinks with the working set. Measured at
      // sf0.1, 5-pass mini-suite: min 1.45 → 1.28 s, median
      // 1.79 → 1.45 s.
      val baseShAll = QueryCaches.cache(docs
        .select(col("doc_id").as("base_id"),
          explode(Corpus.shingles("text")).as("shingle"))
        .select(col("base_id"), xxhash64(col("shingle")).as("h")))
      val dropSh = baseShAll.groupBy("h")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > 50)
        .select("h")
      val baseSh = baseShAll.join(dropSh, Seq("h"), "left_anti")
      val exSh = QueryCaches.cache(excerpts
        .select(col("doc_id").as("exc_id"),
          explode(Corpus.shingles("text")).as("shingle"))
        .select(col("exc_id"), xxhash64(col("shingle")).as("h"))
        .join(dropSh, Seq("h"), "left_anti"))
      val exSize = exSh.groupBy("exc_id").agg(count(lit(1)).as("n_exc"))
      // The intersection join is left to AQE, NOT hint-forced: the
      // cached excerpt side's runtime stats let AQE broadcast it while
      // it fits — keeping the measured win (min 1.67 → 1.36 s at
      // sf0.1: the 850k-row base explode skips the shingle-keyed
      // exchange) — and degrade to a shuffle join beyond the
      // threshold. A hard broadcast() was landed first and REVERTED
      // on review: the excerpt side is Θ(corpus) (0.2·N docs × ≤28
      // shingles), unlike the Zipf-bounded drop-set broadcast above,
      // so forcing it would hard-fail past the 8 GB broadcast limit
      // instead of degrading — the q_boilerplate_lines AQE pattern is
      // the scale-honest form of the same optimization.
      exSh.join(baseSh, "h")
        .groupBy("exc_id", "base_id")
        .agg(count(lit(1)).as("n_shared"))
        .join(exSize, "exc_id")
        .withColumn("containment", round(col("n_shared") / col("n_exc"), 4))
        .filter(col("containment") >= 0.8)
        .select(col("exc_id"), col("base_id"), col("n_shared"), col("containment"))
        .orderBy("exc_id", "base_id")
    }),

    // Leakage-safe train/val/test split: the split key is the dedup
    // CLUSTER (content hash), not the document — a naive per-doc hash
    // split leaks eval near-copies into training, which inflates
    // benchmark scores on a 100 TB corpus precisely because dedup never
    // catches what the split already separated. Every member inherits
    // its cluster's split, so no duplicate cluster straddles a
    // boundary; the audit column proves it (n_leaky_clusters computed
    // from the data, 0 by construction). The slot comes from the md5
    // content hash itself (first 4 hex digits mod 100 → 80/10/10) —
    // already uniformly mixed, where any id-arithmetic scheme is just a
    // permutation of id residues and collapses when ids arrive in
    // strides. Shape: one window exchange on the cluster hash (no
    // join, no second corpus scan), two aggregates.
    "q_split_leakage" -> ((s, dir) => {
      val wv = org.apache.spark.sql.expressions.Window.partitionBy("h")
      val assigned = Corpus.withDuplicates(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("survivor_id", min(col("doc_id")).over(wv))
        .withColumn("slot",
          expr("CAST(conv(substring(h, 1, 4), 16, 10) AS BIGINT) % 100"))
        .withColumn("split",
          when(col("slot") < 80, lit("train"))
            .when(col("slot") < 90, lit("val"))
            .otherwise(lit("test")))
        .transform(QueryCaches.cache(_)) // per-split agg + leak audit
      val leaky = assigned.groupBy("survivor_id")
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("n_leaky_clusters"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("survivor_id")).as("n_clusters"))
        .crossJoin(leaky) // 1-row audit
        .orderBy("split")
    }),

    // Content-defined-chunking dedup — the FastCDC/rsync family brought
    // to the corpus: chunk boundaries come from the CONTENT (a gear
    // hash over the last two token codes hitting a mask), not from
    // fixed offsets, so an insertion early in a document shifts every
    // fixed-window chunk but leaves all content-defined chunks after
    // the edit identical — the property that makes CDC the storage-
    // dedup standard and a stronger substring-dedup primitive than
    // q_paragraph_dedup's fixed 16-token windows. All deterministic
    // integer arithmetic: token code = 16-bit md5 prefix (the
    // q_feature_hashing idiom — no engine-specific hash), boundary
    // before token i iff (31·tᵢ + 7·tᵢ₋₁) mod 8 = 0 (≈1/8 cut rate →
    // ~8-token mean chunks on this fixture). Shape: doc-local
    // posexplode, ONE doc-bounded window pair (lag + running sum — the
    // q_gaps_islands shape, flat at 100 TB), chunk assembly by
    // doc+chunk key (map-side combinable collect over ≤chunk-size
    // groups), then the exact cross-doc test is min≠max on the chunk
    // hash (the q_span_dedup discipline — never a count-distinct), and
    // the dup marking is an equi-join back on the chunk hash. Exact
    // copies chunk identically end-to-end, so their dup coverage is
    // 10000 pm (spec-pinned). Hot-key posture (r16, closing the r15
    // verdict item — previously a comment, now code): the dup-marking
    // equi-join shuffles chunk rows BY CHUNK HASH, so a boilerplate
    // chunk shared by 10⁶ documents would put 10⁶ rows on one reducer
    // key — the classic straggler. The frequency aggregate (map-side
    // combinable, hot keys arrive pre-merged) now also counts
    // occurrences; chunk hashes over the ABSOLUTE cap (100 — a
    // corpus-relative cap is quadratic in disguise, the q_sparse_knn
    // lesson) form the drop-set, which CARRIES its min≠max dup flag,
    // so routing is a plan rewrite with an unchanged answer and an
    // unchanged oracle: hot rows are flagged map-side by an
    // AQE-adaptive broadcast (Zipf head — sublinear, and if a flat
    // corpus outgrows the threshold AQE degrades to a shuffled join,
    // the q_containment de-hinting contract) and only sub-cap keys
    // (≤100 rows each, skew-free by construction) enter the shuffled
    // join-back. SIZE-GATED like nearDupPairs' SmallCorpusCutoff: the
    // routing is answer-preserving, so the gate cannot change results
    // — it only decides which plan runs. Below 200k docs even a
    // fully-hot key puts <200k pre-combined rows on one reducer (no
    // straggler) while the split measured +0.44 s on the fixture
    // (5-pass mini-suite, 2.08 → 2.52 s), so small corpora keep the
    // plain single-join plan verbatim; above the cutoff the routed
    // plan engages. One oracle covers both paths unconditionally.
    "q_cdc_chunk_dedup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      // NOT spread (r20: the one VALID same-session A/B — after the
      // conf-quoting bug that made the first three A/Bs compare
      // identical code — read off 0.70×/0.71×, i.e. a Spread.ifNarrow
      // here costs ~40%; see OPTIMIZATION_r20.md §2 for the mechanism).
      val toks = Corpus.withDuplicates(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("t",
          expr("CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT)"))
      val cuts = toks
        .withColumn("tprev", lag(col("t"), 1).over(w))
        .withColumn("cut", expr(
          """CASE WHEN tprev IS NULL THEN 0
            |     WHEN (t * 31 + tprev * 7) % 8 = 0 THEN 1
            |     ELSE 0 END""".stripMargin))
        .withColumn("chunk_idx", sum(col("cut")).over(w))
      val chunks = cuts.groupBy("doc_id", "chunk_idx")
        .agg(count(lit(1)).as("n_toks"),
          md5(expr("array_join(transform(sort_array(collect_list(" +
            "struct(pos, tok))), x -> x.tok), ' ')")).as("ch"))
      // Sized from FS metadata, not a count job (ScaleGate): sf0.1's
      // documents are 594,568 B for 5,000 docs ≈ 119 B/doc, so the 200k-doc
      // cutoff sits near 23.8 MB — exactly where Scale10's 40× fixture
      // (200,000 docs; permuted copies encode within 0.3% of the source)
      // lands. 32 MiB ≈ 282k docs at that density keeps every fixture run
      // so far (sf0.001–sf0.1, 10×/20×/40×) on the plain plan with ~40%
      // headroom. forceRouted "true"/"false" pins either plan (PlanShapeSpec
      // asserts the large-corpus shape without a 200k-doc fixture).
      val bigCorpus = ScaleGate.route(s, "spark.graft.cdc.forceRouted", "true", "false",
        s"$dir/documents.parquet", bytes = 32L << 20)
      val marked = if (!bigCorpus) {
        val dup = chunks.groupBy("ch")
          .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
          .filter(col("mn") =!= col("mx"))
          .select(col("ch"), lit(1L).as("isd"))
        chunks.join(dup, Seq("ch"), "left_outer")
          .withColumn("isd", coalesce(col("isd"), lit(0L)))
          .select("doc_id", "n_toks", "isd")
      } else {
        val freq = chunks.groupBy("ch")
          .agg(count(lit(1)).as("cnt"),
            min("doc_id").as("mn"), max("doc_id").as("mx"))
        val hotCap = 100L
        val hot = freq.filter(col("cnt") > hotCap)
          .select(col("ch"),
            when(col("mn") =!= col("mx"), 1L).otherwise(0L).as("hot_isd"))
        val coldDup = freq
          .filter(col("cnt") <= hotCap && col("mn") =!= col("mx"))
          .select(col("ch"), lit(1L).as("cold_isd"))
        val routed = chunks.join(hot, Seq("ch"), "left_outer")
        val hotRows = routed.filter(col("hot_isd").isNotNull)
          .select(col("doc_id"), col("n_toks"), col("hot_isd").as("isd"))
        val coldRows = routed.filter(col("hot_isd").isNull)
          .select(col("ch"), col("doc_id"), col("n_toks"))
          .join(coldDup, Seq("ch"), "left_outer")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("cold_isd"), lit(0L)).as("isd"))
        hotRows.unionByName(coldRows)
      }
      marked
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("isd")).as("n_dup_chunks"),
          sum(expr("isd * n_toks")).as("dup_toks"),
          sum(col("n_toks")).as("n_toks_total"))
        .withColumn("dup_pm", expr("dup_toks * 10000 div n_toks_total"))
        .filter(col("n_dup_chunks") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
          col("dup_toks"), col("dup_pm"))
        .orderBy("doc_id")
    }),
  )

  // ---- oracles -----------------------------------------------------

  private val hexVal: String => String = c =>
    s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
      s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
      s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
      s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"

  private val dedupClusterSql =
    """WITH comp AS (
      |  SELECT c_custkey AS id,
      |         CASE WHEN c_custkey % 10 BETWEEN 1 AND 4
      |              THEN c_custkey - (c_custkey % 10) + 1
      |              ELSE c_custkey END AS cluster_id
      |  FROM customer
      |)
      |SELECT cluster_id, count(*) AS n_nodes, min(id) AS min_id, max(id) AS max_id
      |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Shared by q_dedup_keep_best and its streaming twin
    * q_stream_keep_best (batch ≡ stream — one oracle serves both).
    */
  private val keepBestSql =
    s"""WITH ${Corpus.corpusCte},
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
       |sc AS (
       |  SELECT doc_id,
       |         md5(array_to_string(list_slice(ws, 1, 30), ' ')) AS prefix_key,
       |         CAST(len(ws) AS BIGINT) AS toks
       |  FROM w
       |),
       |o AS (SELECT *, CAST(toks AS HUGEINT) * 1000000000000000000
       |               + (999999999999999999 - doc_id) AS ord FROM sc)
       |SELECT prefix_key, CAST(count(*) AS BIGINT) AS n_members,
       |       max_by(doc_id, ord) AS survivor_id,
       |       CAST(max(toks) AS BIGINT) AS survivor_toks,
       |       CAST(min(toks) AS BIGINT) AS min_toks
       |FROM o GROUP BY prefix_key HAVING count(*) >= 2
       |ORDER BY prefix_key""".stripMargin

  private val jaccardSql =
    "round(len(list_intersect(sa.sh, sb.sh)) * 1.0 / len(list_distinct(list_concat(sa.sh, sb.sh))), 4)"

  /** Oracle for the q_textband_recall variants: re-derives the audit
    * corpus (minhash sub-corpus + the +3×10⁶ degenerate block), the
    * band keys — with the EMPTY-shingle-set case matched to the
    * kernel: a doc with no shingles has sig = '' per seed, hence band
    * keys md5(''||'') on every band, realized via the LEFT JOIN +
    * coalesce(h, '') below (an inner derivation would simply LOSE
    * empty docs and miss the entire degenerate block) — the hot-key
    * set at the forced cap, both candidate sets, and the
    * integer-cross-multiplied verification (2·∩ ≥ ∪ AND ∪ > 0; the
    * float jaccard is avoided deliberately — see textBandRecall).
    */
  private def textBandRecallSql(cap: Long): String =
    s"""WITH msub AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' zzz tail' FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000, 'xx' FROM documents
       |  WHERE doc_id % 7 = 0 AND doc_id < 1000000
       |),
       |msh AS (SELECT doc_id, unnest(${Corpus.shinglesSql.replace("text", "msub.text")}) AS shingle FROM msub),
       |mh AS (
       |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
       |  FROM msh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
       |  GROUP BY doc_id, seed
       |),
       |sig AS (
       |  SELECT m.doc_id,
       |         coalesce(min(CASE WHEN seed = 0 THEN h END), '') AS s0,
       |         coalesce(min(CASE WHEN seed = 1 THEN h END), '') AS s1,
       |         coalesce(min(CASE WHEN seed = 2 THEN h END), '') AS s2,
       |         coalesce(min(CASE WHEN seed = 3 THEN h END), '') AS s3,
       |         coalesce(min(CASE WHEN seed = 4 THEN h END), '') AS s4,
       |         coalesce(min(CASE WHEN seed = 5 THEN h END), '') AS s5,
       |         coalesce(min(CASE WHEN seed = 6 THEN h END), '') AS s6,
       |         coalesce(min(CASE WHEN seed = 7 THEN h END), '') AS s7
       |  FROM msub m LEFT JOIN mh ON mh.doc_id = m.doc_id
       |  GROUP BY m.doc_id
       |),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bkey FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig
       |),
       |hot AS (
       |  SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) > $cap
       |),
       |kept AS (
       |  SELECT b.doc_id, b.band, b.bkey FROM bands b
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h
       |                    WHERE h.band = b.band AND h.bkey = b.bkey)
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |ccand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM kept a JOIN kept b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |),
       |sets AS (SELECT doc_id, ${Corpus.shinglesSql.replace("text", "msub.text")} AS sh FROM msub),
       |pv AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c JOIN sets sa ON sa.doc_id = c.id_a
       |              JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 2 >= len(list_distinct(list_concat(sa.sh, sb.sh)))
       |    AND len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
       |),
       |cv AS (
       |  SELECT c.id_a, c.id_b
       |  FROM ccand c JOIN sets sa ON sa.doc_id = c.id_a
       |               JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE len(list_intersect(sa.sh, sb.sh)) * 2 >= len(list_distinct(list_concat(sa.sh, sb.sh)))
       |    AND len(list_distinct(list_concat(sa.sh, sb.sh))) > 0
       |),
       |agg AS (
       |  SELECT (SELECT count(*) FROM pv) AS n_true_pairs,
       |         (SELECT count(*) FROM pv p JOIN cv c
       |            ON c.id_a = p.id_a AND c.id_b = p.id_b) AS n_found,
       |         (SELECT count(*) FROM cand) AS n_cand_plain,
       |         (SELECT count(*) FROM ccand) AS n_cand_capped
       |)
       |SELECT CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       |       CAST(n_found AS BIGINT) AS n_found,
       |       CAST(n_found * 10000 // nullif(n_true_pairs, 0) AS BIGINT) AS recall_pm,
       |       CAST(n_cand_plain AS BIGINT) AS n_cand_plain,
       |       CAST(n_cand_capped AS BIGINT) AS n_cand_capped
       |FROM agg""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_containment" ->
      s"""WITH exc AS (
         |  SELECT doc_id + 3000000 AS exc_id,
         |         array_to_string(list_slice(string_split(text, ' '), 1, 30), ' ') AS text
         |  FROM documents WHERE doc_id % 5 = 0
         |),
         |ex_sets AS (SELECT exc_id, ${Corpus.shinglesSql} AS sh FROM exc),
         |base_all AS (
         |  SELECT doc_id AS base_id, unnest(${Corpus.shinglesSql}) AS shingle
         |  FROM documents
         |),
         |drop_sh AS (
         |  SELECT shingle FROM base_all GROUP BY shingle HAVING count(*) > 50
         |),
         |base_sh AS (
         |  SELECT * FROM base_all
         |  WHERE shingle NOT IN (SELECT shingle FROM drop_sh)
         |),
         |ex_sh AS (
         |  SELECT exc_id, shingle FROM (
         |    SELECT exc_id, unnest(sh) AS shingle FROM ex_sets
         |  ) WHERE shingle NOT IN (SELECT shingle FROM drop_sh)
         |),
         |ex_n AS (
         |  SELECT exc_id, CAST(count(*) AS BIGINT) AS n_exc
         |  FROM ex_sh GROUP BY exc_id
         |),
         |pairs AS (
         |  SELECT exc_id, base_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ex_sh JOIN base_sh USING (shingle)
         |  GROUP BY exc_id, base_id
         |)
         |SELECT p.exc_id, p.base_id, p.n_shared,
         |       round(p.n_shared * 1.0 / e.n_exc, 4) AS containment
         |FROM pairs p JOIN ex_n e USING (exc_id)
         |WHERE round(p.n_shared * 1.0 / e.n_exc, 4) >= 0.8
         |ORDER BY p.exc_id, p.base_id""".stripMargin,

    "q_split_leakage" ->
      s"""WITH ${Corpus.corpusCte},
         |hs AS (SELECT doc_id, md5(text) AS h FROM corpus),
         |a AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS survivor_id,
         |         CASE WHEN (${hexVal("substr(h, 1, 1)")} * 4096
         |                    + ${hexVal("substr(h, 2, 1)")} * 256
         |                    + ${hexVal("substr(h, 3, 1)")} * 16
         |                    + ${hexVal("substr(h, 4, 1)")}) % 100 < 80 THEN 'train'
         |              WHEN (${hexVal("substr(h, 1, 1)")} * 4096
         |                    + ${hexVal("substr(h, 2, 1)")} * 256
         |                    + ${hexVal("substr(h, 3, 1)")} * 16
         |                    + ${hexVal("substr(h, 4, 1)")}) % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM hs
         |),
         |leak AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_leaky_clusters FROM (
         |    SELECT survivor_id FROM a GROUP BY survivor_id
         |    HAVING count(DISTINCT split) > 1)
         |),
         |per AS (
         |  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(count(DISTINCT survivor_id) AS BIGINT) AS n_clusters
         |  FROM a GROUP BY split
         |)
         |SELECT split, n_docs, n_clusters, n_leaky_clusters
         |FROM per CROSS JOIN leak ORDER BY split""".stripMargin,

    "q_dedup_remap" ->
      s"""WITH ${Corpus.corpusCte},
         |h AS (SELECT doc_id, md5(text) AS content_hash FROM corpus),
         |sv AS (
         |  SELECT content_hash, min(doc_id) AS survivor_id
         |  FROM h GROUP BY content_hash
         |)
         |SELECT h.doc_id AS dup_id, sv.survivor_id
         |FROM h JOIN sv ON h.content_hash = sv.content_hash
         |WHERE h.doc_id <> sv.survivor_id
         |ORDER BY dup_id""".stripMargin,

    "q_source_overlap" ->
      """WITH all_docs AS (
        |  SELECT source, md5(text) AS h FROM documents
        |  UNION ALL
        |  SELECT source || '-rc' AS source, md5(text) AS h
        |  FROM documents WHERE doc_id % 4 = 0
        |)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       CAST(count(DISTINCT a.h) AS BIGINT) AS n_shared
        |FROM all_docs a JOIN all_docs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      s"""WITH ${Corpus.corpusCte}
         |SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
         |       count(*) AS n_copies
         |FROM corpus GROUP BY md5(text) ORDER BY survivor_id""".stripMargin,

    "q_simpson_diversity" ->
      s"""WITH ${Corpus.corpusCte},
         |clusters AS (
         |  SELECT d.source AS source, md5(c.text) AS h,
         |         CAST(count(*) AS BIGINT) AS n_c
         |  FROM corpus c JOIN documents d ON c.doc_id % 1000000 = d.doc_id
         |  GROUP BY d.source, md5(c.text)
         |),
         |per AS (
         |  SELECT source, CAST(sum(n_c) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_clusters,
         |         CAST(sum(n_c * n_c) AS BIGINT) AS ss
         |  FROM clusters GROUP BY source
         |)
         |SELECT source, n_docs, n_clusters, n_docs - n_clusters AS dup_docs,
         |       CAST(ss * 10000 // (n_docs * n_docs) AS BIGINT) AS hhi_pm,
         |       CAST(n_docs * n_docs * 100 // ss AS BIGINT) AS eff_x100
         |FROM per ORDER BY source""".stripMargin,

    "q_paragraph_dedup" ->
      s"""WITH ${Corpus.corpusCte},
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |ch AS (
         |  SELECT doc_id, u.i AS idx,
         |         array_to_string(list_slice(ws, u.i * 16 + 1, u.i * 16 + 16), ' ') AS chunk
         |  FROM w, unnest(generate_series(0, (len(ws) + 15) // 16 - 1)) u(i)
         |),
         |r AS (SELECT doc_id, idx, chunk,
         |             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
         |      FROM ch)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx), '')) AS cleaned_hash
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_best" -> keepBestSql,

    // batch ≡ stream: the incremental survivor state drains to exactly
    // the batch survivor table
    "q_stream_keep_best" -> keepBestSql,

    // positions: DuckDB's generate_series is 1-based vs posexplode's
    // 0-based — only position DIFFERENCES enter the result (island
    // breaks and span lengths), so the outputs agree exactly
    "q_span_dedup" ->
      s"""WITH ${Corpus.corpusCte},
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |sh AS (
         |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_toks, u.i AS pos,
         |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
         |         ws[i+3] || ' ' || ws[i+4] AS sh
         |  FROM w, unnest(generate_series(1, greatest(len(ws) - 4, 0))) u(i)
         |),
         |rep AS (
         |  SELECT sh FROM (SELECT sh, min(doc_id) AS mn, max(doc_id) AS mx
         |                  FROM sh GROUP BY sh)
         |  WHERE mn <> mx
         |),
         |hits AS (SELECT s.doc_id, s.n_toks, s.pos FROM sh s JOIN rep USING (sh)),
         |g AS (
         |  SELECT doc_id, n_toks, pos,
         |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         |              THEN 1 ELSE 0 END AS brk
         |  FROM hits
         |),
         |isl AS (
         |  SELECT doc_id, n_toks, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS UNBOUNDED PRECEDING) AS grp
         |  FROM g
         |),
         |sp AS (SELECT doc_id, n_toks, grp, min(pos) AS s, max(pos) AS e
         |       FROM isl GROUP BY 1, 2, 3)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(max(e - s + 5) AS BIGINT) AS max_span_toks,
         |       CAST(sum(e - s + 5) AS BIGINT) AS rep_toks,
         |       CAST(sum(e - s + 5) * 10000 // n_toks AS BIGINT) AS cov_pm
         |FROM sp GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH ${Corpus.corpusCte},
         |sets AS (SELECT doc_id, ${Corpus.shinglesSql} AS sh FROM corpus)
         |SELECT sa.doc_id AS base_id, sb.doc_id AS twin_id,
         |       $jaccardSql AS jaccard,
         |       $jaccardSql >= 0.5 AS is_near_dup
         |FROM sets sa JOIN sets sb ON sb.doc_id = sa.doc_id + 1000000
         |WHERE sa.doc_id % 3 = 0 AND sa.doc_id < 1000000
         |ORDER BY base_id""".stripMargin,

    // the three standalone constructions re-stated verbatim (exact /
    // minhash-verified / simhash-verified pair sets over the same
    // sub-corpus), then one vote aggregate — pairs kept at >= 2 votes
    "q_dedup_consensus" ->
      s"""WITH msub AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zzz tail' FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
         |),
         |expairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM msub a JOIN msub b
         |    ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
         |),
         |msh AS (SELECT doc_id, unnest(${Corpus.shinglesSql.replace("text", "msub.text")}) AS shingle FROM msub),
         |mhx AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
         |  FROM msh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
         |  GROUP BY doc_id, seed
         |),
         |sig AS (
         |  SELECT doc_id,
         |         min(CASE WHEN seed = 0 THEN h END) AS s0, min(CASE WHEN seed = 1 THEN h END) AS s1,
         |         min(CASE WHEN seed = 2 THEN h END) AS s2, min(CASE WHEN seed = 3 THEN h END) AS s3,
         |         min(CASE WHEN seed = 4 THEN h END) AS s4, min(CASE WHEN seed = 5 THEN h END) AS s5,
         |         min(CASE WHEN seed = 6 THEN h END) AS s6, min(CASE WHEN seed = 7 THEN h END) AS s7
         |  FROM mhx GROUP BY doc_id
         |),
         |mbands AS (
         |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig
         |),
         |mcand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM mbands a JOIN mbands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |),
         |msets AS (SELECT doc_id, ${Corpus.shinglesSql.replace("text", "msub.text")} AS sh FROM msub),
         |mhpairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b, $jaccardSql AS jaccard
         |    FROM mcand c
         |    JOIN msets sa ON sa.doc_id = c.id_a
         |    JOIN msets sb ON sb.doc_id = c.id_b
         |  ) WHERE jaccard >= 0.5
         |),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM msub),
         |tw AS (
         |  SELECT doc_id,
         |         ${hexVal("substr(md5(tok), 1, 1)")} * 4096 + ${hexVal("substr(md5(tok), 2, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 3, 1)")} * 16 + ${hexVal("substr(md5(tok), 4, 1)")} AS v0,
         |         ${hexVal("substr(md5(tok), 5, 1)")} * 4096 + ${hexVal("substr(md5(tok), 6, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 7, 1)")} * 16 + ${hexVal("substr(md5(tok), 8, 1)")} AS v1,
         |         ${hexVal("substr(md5(tok), 9, 1)")} * 4096 + ${hexVal("substr(md5(tok), 10, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 11, 1)")} * 16 + ${hexVal("substr(md5(tok), 12, 1)")} AS v2,
         |         ${hexVal("substr(md5(tok), 13, 1)")} * 4096 + ${hexVal("substr(md5(tok), 14, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 15, 1)")} * 16 + ${hexVal("substr(md5(tok), 16, 1)")} AS v3
         |  FROM toks
         |),
         |svotes AS (
         |  SELECT doc_id, j,
         |         sum(2 * ((CASE j // 16 WHEN 0 THEN v0 WHEN 1 THEN v1
         |                   WHEN 2 THEN v2 ELSE v3 END >> (j % 16)) & 1) - 1) AS s
         |  FROM tw CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
         |  GROUP BY doc_id, j
         |),
         |words AS (
         |  SELECT doc_id, j // 16 AS band,
         |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % 16)) ELSE 0 END) AS BIGINT) AS bv
         |  FROM svotes GROUP BY doc_id, j // 16
         |),
         |scand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM words a JOIN words b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |),
         |wp AS (
         |  SELECT doc_id,
         |         min(CASE WHEN band = 0 THEN bv END) AS w0,
         |         min(CASE WHEN band = 1 THEN bv END) AS w1,
         |         min(CASE WHEN band = 2 THEN bv END) AS w2,
         |         min(CASE WHEN band = 3 THEN bv END) AS w3
         |  FROM words GROUP BY doc_id
         |),
         |shpairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b,
         |           bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) +
         |           bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) AS hamming
         |    FROM scand c JOIN wp a ON a.doc_id = c.id_a JOIN wp b ON b.doc_id = c.id_b
         |  ) WHERE hamming <= 12
         |),
         |allp AS (
         |  SELECT id_a, id_b, 1 AS e, 0 AS m, 0 AS s FROM expairs
         |  UNION ALL SELECT id_a, id_b, 0, 1, 0 FROM mhpairs
         |  UNION ALL SELECT id_a, id_b, 0, 0, 1 FROM shpairs
         |)
         |SELECT id_a, id_b,
         |       CAST(max(e) AS BIGINT) AS in_exact,
         |       CAST(max(m) AS BIGINT) AS in_minhash,
         |       CAST(max(s) AS BIGINT) AS in_simhash,
         |       CAST(max(e) + max(m) + max(s) AS BIGINT) AS votes
         |FROM allp GROUP BY id_a, id_b
         |HAVING max(e) + max(m) + max(s) >= 2
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH msub AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zzz tail' FROM documents WHERE doc_id % 10 = 0
         |),
         |msh AS (SELECT doc_id, unnest(${Corpus.shinglesSql.replace("text", "msub.text")}) AS shingle FROM msub),
         |mh AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
         |  FROM msh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
         |  GROUP BY doc_id, seed
         |),
         |sig AS (
         |  SELECT doc_id,
         |         min(CASE WHEN seed = 0 THEN h END) AS s0, min(CASE WHEN seed = 1 THEN h END) AS s1,
         |         min(CASE WHEN seed = 2 THEN h END) AS s2, min(CASE WHEN seed = 3 THEN h END) AS s3,
         |         min(CASE WHEN seed = 4 THEN h END) AS s4, min(CASE WHEN seed = 5 THEN h END) AS s5,
         |         min(CASE WHEN seed = 6 THEN h END) AS s6, min(CASE WHEN seed = 7 THEN h END) AS s7
         |  FROM mh GROUP BY doc_id
         |),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |),
         |sets AS (SELECT doc_id, ${Corpus.shinglesSql.replace("text", "msub.text")} AS sh FROM msub)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT c.id_a, c.id_b, $jaccardSql AS jaccard
         |  FROM cand c
         |  JOIN sets sa ON sa.doc_id = c.id_a
         |  JOIN sets sb ON sb.doc_id = c.id_b
         |)
         |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_eval" ->
      s"""WITH msub AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zzz tail' FROM documents WHERE doc_id % 10 = 0
         |),
         |msh AS (SELECT doc_id, unnest(${Corpus.shinglesSql.replace("text", "msub.text")}) AS shingle FROM msub),
         |mh AS (
         |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
         |  FROM msh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
         |  GROUP BY doc_id, seed
         |),
         |sig AS (
         |  SELECT doc_id,
         |         min(CASE WHEN seed = 0 THEN h END) AS s0, min(CASE WHEN seed = 1 THEN h END) AS s1,
         |         min(CASE WHEN seed = 2 THEN h END) AS s2, min(CASE WHEN seed = 3 THEN h END) AS s3,
         |         min(CASE WHEN seed = 4 THEN h END) AS s4, min(CASE WHEN seed = 5 THEN h END) AS s5,
         |         min(CASE WHEN seed = 6 THEN h END) AS s6, min(CASE WHEN seed = 7 THEN h END) AS s7
         |  FROM mh GROUP BY doc_id
         |),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(s0 || s1) AS bkey FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sig
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |),
         |planted AS (
         |  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
         |  FROM documents WHERE doc_id % 10 = 0
         |),
         |sets AS (SELECT doc_id, ${Corpus.shinglesSql.replace("text", "msub.text")} AS sh FROM msub),
         |verified AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT c.id_a, c.id_b, $jaccardSql AS jaccard
         |    FROM cand c
         |    JOIN sets sa ON sa.doc_id = c.id_a
         |    JOIN sets sb ON sb.doc_id = c.id_b
         |  ) WHERE jaccard >= 0.5
         |),
         |agg AS (
         |  SELECT (SELECT count(*) FROM planted) AS n_planted,
         |         (SELECT count(*) FROM cand) AS n_candidates,
         |         (SELECT count(*) FROM cand c JOIN planted p
         |            ON p.id_a = c.id_a AND p.id_b = c.id_b) AS planted_found,
         |         (SELECT count(*) FROM verified) AS n_verified
         |)
         |SELECT CAST(n_planted AS BIGINT) AS n_planted,
         |       CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(planted_found AS BIGINT) AS planted_found,
         |       CAST(planted_found * 1000 // greatest(n_planted, 1) AS BIGINT) AS cand_recall_pm,
         |       CAST(n_verified AS BIGINT) AS n_verified,
         |       CAST(n_verified * 1000 // greatest(n_candidates, 1) AS BIGINT) AS verify_rate_pm
         |FROM agg""".stripMargin,

    // the rewrite join canonicalizes citations of the exact re-crawl
    // copies through the min-id survivor remap
    "q_remap_serve" ->
      s"""WITH ${Corpus.corpusCte},
         |hashed AS (SELECT doc_id, md5(text) AS h FROM corpus),
         |surv AS (SELECT h, min(doc_id) AS survivor_id FROM hashed GROUP BY h),
         |remap AS (
         |  SELECT doc_id AS dup_id, survivor_id
         |  FROM hashed JOIN surv USING (h)
         |  WHERE doc_id <> survivor_id
         |),
         |refs AS (
         |  SELECT doc_id AS src_id,
         |         CASE WHEN doc_id % 4 = 0 THEN doc_id + 2000000
         |              ELSE doc_id END AS cited
         |  FROM documents
         |)
         |SELECT coalesce(r.survivor_id, f.cited) AS canonical_id,
         |       CAST(count(*) AS BIGINT) AS n_refs
         |FROM refs f LEFT JOIN remap r ON r.dup_id = f.cited
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_textband_recall" -> textBandRecallSql(25L),
    "q_textband_recall_prod" -> textBandRecallSql(200L),

    "q_source_minhash" ->
      s"""WITH sh AS (
         |  SELECT source, doc_id, unnest(${Corpus.shinglesSql.replace("text", "documents.text")}) AS shingle
         |  FROM documents
         |),
         |mins AS (
         |  SELECT source, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS h
         |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed)
         |  GROUP BY source, seed
         |),
         |counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
         |SELECT c.source, c.n_docs,
         |       (SELECT string_agg(h, ',' ORDER BY seed) FROM mins m WHERE m.source = c.source) AS sketch
         |FROM counts c ORDER BY c.source""".stripMargin,

    "q_dedup_simhash_pairs" ->
      s"""WITH msub AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' zzz tail' FROM documents WHERE doc_id % 10 = 0
         |),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM msub),
         |tw AS (
         |  SELECT doc_id,
         |         ${hexVal("substr(md5(tok), 1, 1)")} * 4096 + ${hexVal("substr(md5(tok), 2, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 3, 1)")} * 16 + ${hexVal("substr(md5(tok), 4, 1)")} AS v0,
         |         ${hexVal("substr(md5(tok), 5, 1)")} * 4096 + ${hexVal("substr(md5(tok), 6, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 7, 1)")} * 16 + ${hexVal("substr(md5(tok), 8, 1)")} AS v1,
         |         ${hexVal("substr(md5(tok), 9, 1)")} * 4096 + ${hexVal("substr(md5(tok), 10, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 11, 1)")} * 16 + ${hexVal("substr(md5(tok), 12, 1)")} AS v2,
         |         ${hexVal("substr(md5(tok), 13, 1)")} * 4096 + ${hexVal("substr(md5(tok), 14, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 15, 1)")} * 16 + ${hexVal("substr(md5(tok), 16, 1)")} AS v3
         |  FROM toks
         |),
         |votes AS (
         |  SELECT doc_id, j,
         |         sum(2 * ((CASE j // 16 WHEN 0 THEN v0 WHEN 1 THEN v1
         |                   WHEN 2 THEN v2 ELSE v3 END >> (j % 16)) & 1) - 1) AS s
         |  FROM tw CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
         |  GROUP BY doc_id, j
         |),
         |words AS (
         |  SELECT doc_id, j // 16 AS band,
         |         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % 16)) ELSE 0 END) AS BIGINT) AS bv
         |  FROM votes GROUP BY doc_id, j // 16
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM words a JOIN words b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |),
         |wp AS (
         |  SELECT doc_id,
         |         min(CASE WHEN band = 0 THEN bv END) AS w0,
         |         min(CASE WHEN band = 1 THEN bv END) AS w1,
         |         min(CASE WHEN band = 2 THEN bv END) AS w2,
         |         min(CASE WHEN band = 3 THEN bv END) AS w3
         |  FROM words GROUP BY doc_id
         |)
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT c.id_a, c.id_b,
         |         CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) +
         |              bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) AS BIGINT) AS hamming
         |  FROM cand c JOIN wp a ON a.doc_id = c.id_a JOIN wp b ON b.doc_id = c.id_b
         |)
         |WHERE hamming <= 12 ORDER BY id_a, id_b""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT a.p_partkey,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
        |       levenshtein(a.p_name, b.p_name) <= 15 AS is_match
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |WHERE a.p_partkey % 5 = 0
        |ORDER BY a.p_partkey""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH ${Corpus.corpusCte}
         |SELECT doc_id, md5(text) AS content_hash
         |FROM corpus
         |WHERE doc_id >= 1000000
         |  AND md5(text) NOT IN (SELECT md5(text) FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // 3 power iterations unrolled as CTE pairs (contribs, ranks); all
    // arithmetic dyadic → bit-equal to Spark's join rounds
    "q_pagerank" -> {
      val iters = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT dst, sum(r / 2) AS contrib
           |  FROM edges JOIN r${i - 1} ON r${i - 1}.id = edges.src GROUP BY dst
           |),
           |r$i AS (
           |  SELECT nodes.id,
           |         CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
           |           coalesce(contrib, CAST(0 AS DOUBLE)) AS r
           |  FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH nodes AS (SELECT c_custkey AS id FROM customer),
         |cnt AS (SELECT count(*) AS n FROM customer),
         |edges AS (
         |  SELECT id AS src, (id + 1) % (SELECT n FROM cnt) AS dst FROM nodes
         |  UNION ALL
         |  SELECT id, (id * 2 + 7) % (SELECT n FROM cnt) FROM nodes
         |),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM nodes),
         |$iters
         |SELECT id, r AS rank FROM r3 ORDER BY r DESC, id LIMIT 20""".stripMargin
    },

    // brute-force reference: every pair sharing ANY token, then the
    // exact-threshold filter — the prefix filter must lose nothing
    "q_set_join_prefix" ->
      s"""WITH ${Corpus.corpusCte},
         |toks AS (
         |  SELECT doc_id, unnest(${Corpus.shinglesSql}) AS tok
         |  FROM corpus WHERE (doc_id % 1000000) % 5 = 0
         |),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM toks a JOIN toks b ON b.tok = a.tok AND b.doc_id > a.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT da, db, inter,
         |       inter * 10000 // (sa.sz + sb.sz - inter) AS jaccard_pm
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = pairs.da
         |JOIN sizes sb ON sb.doc_id = pairs.db
         |WHERE 20 * inter >= 19 * (sa.sz + sb.sz - inter)
         |ORDER BY da, db""".stripMargin,

    // id-ordered three-way join — counts each triangle once at its
    // smallest id; Spark's degree-oriented count must agree because
    // both enumerate every triangle exactly once
    "q_triangle_count" ->
      """WITH nodes AS (SELECT c_custkey AS id FROM customer),
        |cnt AS (SELECT count(*) AS n FROM customer),
        |raw AS (
        |  SELECT id AS u, (id + 1) % (SELECT n FROM cnt) AS v FROM nodes
        |  UNION ALL
        |  SELECT id, (id + 2) % (SELECT n FROM cnt) FROM nodes
        |  UNION ALL
        |  SELECT id, (id * 3 + 7) % (SELECT n FROM cnt) FROM nodes
        |),
        |und AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM raw WHERE u <> v
        |)
        |SELECT (SELECT n FROM cnt) AS n_nodes,
        |       (SELECT count(*) FROM und) AS n_edges,
        |       (SELECT count(*)
        |        FROM und e1
        |        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        |        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles""".stripMargin,

    "q_countmin_est" ->
      s"""WITH tk AS (
         |  SELECT t.tok FROM documents, unnest(string_split(text, ' ')) t(tok)
         |  WHERE length(t.tok) > 0
         |),
         |ds AS (SELECT unnest(generate_series(0, 3)) AS d),
         |keyed AS (
         |  SELECT tok, d, md5(tok) AS h FROM tk, ds
         |),
         |cells AS (
         |  SELECT tok, d,
         |         (${hexVal("substr(h, d * 3 + 1, 1)")} * 256
         |          + ${hexVal("substr(h, d * 3 + 2, 1)")} * 16
         |          + ${hexVal("substr(h, d * 3 + 3, 1)")}) % 1024 AS cell
         |  FROM keyed
         |),
         |cms AS (SELECT d, cell, count(*) AS cn FROM cells GROUP BY 1, 2),
         |exact AS (SELECT tok, count(*) AS exact_n FROM tk GROUP BY tok),
         |top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 10),
         |cellmap AS (SELECT DISTINCT tok, d, cell FROM cells),
         |est AS (
         |  SELECT t.tok, t.exact_n, min(m.cn) AS cms_est
         |  FROM top t
         |  JOIN cellmap k ON k.tok = t.tok
         |  JOIN cms m ON m.d = k.d AND m.cell = k.cell
         |  GROUP BY 1, 2
         |)
         |SELECT tok, exact_n, CAST(cms_est AS BIGINT) AS cms_est,
         |       CAST(cms_est - exact_n AS BIGINT) AS overcount
         |FROM est ORDER BY exact_n DESC, tok""".stripMargin,

    "q_graph_bfs" ->
      """WITH RECURSIVE nodes AS (SELECT c_custkey AS id FROM customer),
        |fwd AS (
        |  SELECT n.id AS src, n.id + 1 AS dst FROM nodes n
        |  WHERE n.id % 10 BETWEEN 1 AND 3
        |    AND EXISTS (SELECT 1 FROM nodes m WHERE m.id = n.id + 1)
        |),
        |edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
        |walk(id, hop) AS (
        |  SELECT id, 0 FROM nodes WHERE id % 100 = 1
        |  UNION ALL
        |  SELECT e.dst, w.hop + 1 FROM walk w JOIN edges e ON e.src = w.id
        |  WHERE w.hop < 3
        |),
        |dist AS (SELECT id, min(hop) AS hop FROM walk GROUP BY id)
        |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_nodes,
        |       min(id) AS min_id, max(id) AS max_id
        |FROM dist GROUP BY hop ORDER BY hop""".stripMargin,

    "q_graph_hits" ->
      """WITH nodes AS (SELECT c_custkey AS id FROM customer),
        |e AS (
        |  SELECT n.id AS src, n.id + k AS dst
        |  FROM nodes n, unnest([1, 2, 3]) t(k)
        |  WHERE EXISTS (SELECT 1 FROM nodes m WHERE m.id = n.id + k)
        |),
        |a1 AS (SELECT dst, count(*) AS a1 FROM e GROUP BY dst),
        |h1 AS (SELECT src, CAST(sum(a1) AS BIGINT) AS h1
        |       FROM e JOIN a1 USING (dst) GROUP BY src),
        |a2 AS (SELECT dst, CAST(sum(h1) AS BIGINT) AS a2
        |       FROM e JOIN h1 USING (src) GROUP BY dst),
        |top AS (
        |  SELECT a2.dst AS id, a1.a1 AS indeg,
        |         coalesce(h1.h1, 0) AS hub, a2.a2 AS auth
        |  FROM a2 JOIN a1 ON a1.dst = a2.dst
        |  LEFT JOIN h1 ON h1.src = a2.dst
        |),
        |mx AS (SELECT max(auth) AS mx FROM top)
        |SELECT id, indeg, CAST(hub AS BIGINT) AS hub, auth,
        |       CAST(auth * 1000 // mx AS BIGINT) AS auth_pm
        |FROM top CROSS JOIN mx
        |ORDER BY auth DESC, id LIMIT 20""".stripMargin,

    "q_graph_jaccard" ->
      """WITH nodes AS (SELECT c_custkey AS id FROM customer),
        |fwd AS (
        |  SELECT n.id AS src, n.id + k AS dst
        |  FROM nodes n, unnest([1, 2, 3]) t(k)
        |  WHERE EXISTS (SELECT 1 FROM nodes m WHERE m.id = n.id + k)
        |),
        |adj AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
        |deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY src),
        |wedges AS (
        |  SELECT a.dst AS u, b.dst AS v, count(*) AS common
        |  FROM adj a JOIN adj b ON a.src = b.src AND a.dst < b.dst
        |  GROUP BY 1, 2
        |),
        |epairs AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM fwd
        |)
        |SELECT w.u, w.v, w.common,
        |       w.common * 1000 // (du.deg + dv.deg - w.common) AS jaccard_pm
        |FROM wedges w
        |JOIN deg du ON du.src = w.u
        |JOIN deg dv ON dv.src = w.v
        |WHERE NOT EXISTS (SELECT 1 FROM epairs e
        |                  WHERE e.u = w.u AND e.v = w.v)
        |ORDER BY jaccard_pm DESC, w.u, w.v LIMIT 20""".stripMargin,

    "q_graph_kcore" ->
      """WITH nodes AS (SELECT c_custkey AS id FROM customer),
        |cnt AS (SELECT count(*) AS n FROM customer),
        |raw AS (
        |  SELECT id AS u, (id + 1) % (SELECT n FROM cnt) AS v FROM nodes
        |  UNION ALL
        |  SELECT id, (id + 2) % (SELECT n FROM cnt) FROM nodes
        |  UNION ALL
        |  SELECT id, (id * 3 + 7) % (SELECT n FROM cnt) FROM nodes
        |),
        |e0 AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM raw WHERE u <> v
        |),
        |d0 AS (SELECT id, count(*) AS deg
        |       FROM (SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) GROUP BY 1),
        |k1 AS (SELECT id FROM d0 WHERE deg >= 5),
        |e1 AS (SELECT a, b FROM e0 WHERE a IN (SELECT id FROM k1)
        |                             AND b IN (SELECT id FROM k1)),
        |d1 AS (SELECT id, count(*) AS deg
        |       FROM (SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) GROUP BY 1),
        |k2 AS (SELECT id FROM d1 WHERE deg >= 5),
        |e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT id FROM k2)
        |                             AND b IN (SELECT id FROM k2)),
        |d2 AS (SELECT id, count(*) AS deg
        |       FROM (SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) GROUP BY 1),
        |k3 AS (SELECT id FROM d2 WHERE deg >= 5),
        |e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT id FROM k3)
        |                             AND b IN (SELECT id FROM k3))
        |SELECT CAST(1 AS BIGINT) AS round,
        |       (SELECT count(*) FROM k1) AS n_nodes,
        |       (SELECT count(*) FROM e1) AS n_edges
        |UNION ALL
        |SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
        |UNION ALL
        |SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
        |ORDER BY round""".stripMargin,

    // identical answer to the exact anti-join — the bloom pre-pass is a
    // plan optimization, never a semantics change
    "q_dedup_bloom" ->
      s"""WITH ${Corpus.corpusCte}
         |SELECT doc_id, md5(text) AS content_hash
         |FROM corpus
         |WHERE doc_id >= 1000000
         |  AND md5(text) NOT IN (SELECT md5(text) FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // closed form: nodes c%10∈{1..4} belong to the chain rooted at
    // c − c%10 + 1 (edges exist iff both endpoints ≤ max key, which the
    // CASE respects because membership follows the surviving nodes).
    // Shared VERBATIM with the streaming twin — batch ≡ stream is the
    // gated contract: incremental per-batch merges must converge to
    // exactly the batch components.
    "q_dedup_cluster" -> dedupClusterSql,
    "q_stream_dedup_cluster" -> dedupClusterSql,

    // activation-batch arithmetic: chunk b = ids ≡ b (mod 6), processed
    // in order, so a valid chain edge contributes its one merge pair in
    // the batch its later endpoint arrives (see the query's comment)
    "q_streamcluster_mergesize" ->
      """WITH e AS (
        |  SELECT c.c_custkey AS src, c.c_custkey + 1 AS dst
        |  FROM customer c
        |  WHERE c.c_custkey % 10 BETWEEN 1 AND 3
        |    AND EXISTS (SELECT 1 FROM customer d
        |                WHERE d.c_custkey = c.c_custkey + 1)
        |),
        |b AS (
        |  SELECT GREATEST(src % 6, dst % 6) AS batch, count(*) AS cnt
        |  FROM e GROUP BY 1
        |)
        |SELECT CAST(max(cnt) AS BIGINT) AS max_merge_pairs,
        |       CAST(count(*) AS BIGINT) AS n_batches_with_merges,
        |       CAST(100000 AS BIGINT) AS cap
        |FROM b""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH ssub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM ssub),
         |tv AS (
         |  SELECT doc_id,
         |         ${hexVal("substr(md5(tok), 1, 1)")} * 4096 +
         |         ${hexVal("substr(md5(tok), 2, 1)")} * 256 +
         |         ${hexVal("substr(md5(tok), 3, 1)")} * 16 +
         |         ${hexVal("substr(md5(tok), 4, 1)")} AS v
         |  FROM toks
         |),
         |bits AS (
         |  SELECT doc_id, j, sum(2 * ((v >> j) & 1) - 1) AS s
         |  FROM tv CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)
         |  GROUP BY doc_id, j
         |)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash16
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_fuzzy_join" ->
      """SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM customer a, customer b
        |WHERE a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    "q_url_canonical" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         'https://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
        |           || source || '.example.com'
        |           || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        |           || '/docs/' || CAST(doc_id % 37 AS VARCHAR)
        |           || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |           || '?id=' || CAST(doc_id % 37 AS VARCHAR)
        |           || '&utm_source=s' || CAST(doc_id % 5 AS VARCHAR)
        |           || '#sec' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents
        |)
        |SELECT regexp_replace(
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(lower(url), '#.*$', '', 'g'),
        |               '&utm_[^&#]*', '', 'g'),
        |             '://www\.', '://', 'g'),
        |           ':443/', '/', 'g'),
        |         '/\?', '?', 'g') AS canon,
        |       count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM raw GROUP BY canon ORDER BY canon""".stripMargin,

    // generate_series positions are 1-based vs posexplode's 0-based —
    // only ORDER and lag adjacency matter, and the cut predicate uses
    // lag-NULL (not a position literal) for the first token, so the
    // two engines chunk identically
    "q_cdc_chunk_dedup" ->
      s"""WITH ${Corpus.corpusCte},
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
         |tk AS (
         |  SELECT doc_id, u.i AS pos, ws[u.i] AS tok,
         |         ('0x' || substr(md5(ws[u.i]), 1, 4))::BIGINT AS t
         |  FROM w, unnest(generate_series(1, len(ws))) u(i)
         |),
         |cuts AS (
         |  SELECT doc_id, pos, tok, t,
         |         lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS tprev
         |  FROM tk
         |),
         |flagged AS (
         |  SELECT doc_id, pos, tok,
         |         CASE WHEN tprev IS NULL THEN 0
         |              WHEN (t * 31 + tprev * 7) % 8 = 0 THEN 1
         |              ELSE 0 END AS cut
         |  FROM cuts
         |),
         |asg AS (
         |  SELECT doc_id, pos, tok,
         |         sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
         |                        ROWS UNBOUNDED PRECEDING) AS chunk_idx
         |  FROM flagged
         |),
         |chunks AS (
         |  SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_toks,
         |         md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
         |  FROM asg GROUP BY doc_id, chunk_idx
         |),
         |dup AS (
         |  SELECT ch, 1 AS isd FROM (
         |    SELECT ch, min(doc_id) AS mn, max(doc_id) AS mx
         |    FROM chunks GROUP BY ch)
         |  WHERE mn <> mx
         |),
         |marked AS (
         |  SELECT c.doc_id, c.n_toks, coalesce(d.isd, 0) AS isd
         |  FROM chunks c LEFT JOIN dup d USING (ch)
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(isd) AS BIGINT) AS n_dup_chunks,
         |       CAST(sum(isd * n_toks) AS BIGINT) AS dup_toks,
         |       CAST(sum(isd * n_toks) * 10000 // sum(n_toks) AS BIGINT)
         |         AS dup_pm
         |FROM marked GROUP BY doc_id
         |HAVING sum(isd) > 0 ORDER BY doc_id""".stripMargin,
  )
}
