package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.Corpus

/** Text-analysis operators for training-data pipelines over
  * `documents`: language-ID heuristic, quality scoring, token counting
  * (whitespace + regex), and rolling-hash document fingerprinting.
  *
  * Everything is codegen-resident — pure `functions._` plans plus the
  * native `fingerprint_set` expression (graft.plans.TextKernels), zero
  * ScalaUDFs; the per-doc work is embarrassingly parallel and the only
  * exchanges are the final small aggregations — the shapes survive
  * 100 TB unchanged.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "and", "in")

  /** Write-once (doc_id, pos, term) positional postings index shared
    * by the three index-probe queries (q_phrase_index,
    * q_proximity_index, q_index_search), returned ready to probe.
    * ONE definition on purpose (r13 review): the write recipe was
    * briefly copy-pasted into all three builders behind the same
    * guard key, so an edit to any one copy would have made the
    * persisted layout first-runner-wins while the other two probed a
    * layout that no longer matched their plan pins. Bucketed by
    * doc_id (8 buckets, one file per bucket via the aligned
    * repartition), sorted (doc_id, pos); the SPARK-28632 sort-order
    * opt-in is scoped per query so the window/SMJ sorts elide.
    */
  private def postingsIndex(s: SparkSession, dir: String): DataFrame = {
    BucketedTables.ensure(s, Seq("graft_idx_postings"),
        "spark.graft.idx.writtenDir", dir) {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .repartition(8, col("doc_id"))
        .write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id", "pos")
        .saveAsTable("graft_idx_postings")
    }
    QueryCaches.scopedConf(s,
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s.table("graft_idx_postings")
  }

  /** Base (90%, doc_id % 10 ≠ 7) segment of the main+delta index pair
    * shared by q_index_incremental and q_index_compact — ONE builder
    * on purpose (the r13 copy-paste lesson: duplicated write recipes
    * behind one guard key drift). Own guard key, so this layout can
    * never alias graft_idx_postings.
    */
  private def basePostingsIndex(s: SparkSession, dir: String): DataFrame = {
    BucketedTables.ensure(s, Seq("graft_idx_postings_base"),
        "spark.graft.idxbase.writtenDir", dir) {
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .repartition(8, col("doc_id"))
        .write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id", "pos")
        .saveAsTable("graft_idx_postings_base")
    }
    QueryCaches.scopedConf(s,
      "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    s.table("graft_idx_postings_base")
  }

  /** The not-yet-compacted 10% segment, tokenized inline. */
  private def deltaPostings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))

  /** MAIN+DELTA phrase serving shared by q_index_incremental (batch
    * delta) and q_stream_index_delta (micro-batch delta) — ONE body on
    * purpose (the r13 copy-paste lesson: duplicated probe recipes
    * drift). The probe phrase derives from the BASE segment (at
    * serving time the lexicon predates the delta); a doc lives in
    * exactly ONE segment, so the phrase probe runs PER SEGMENT and the
    * per-doc results union — the base keeps its zero-exchange bucketed
    * probe and only the delta pays a (delta-sized) shuffle. Probing
    * the union of raw postings instead would re-shuffle the whole base
    * (the union erases the bucketed partitioning) — pinned out in
    * PlanShapeSpec via the exchange budget.
    */
  private def mainDeltaPhraseProbe(s: SparkSession, baseIdx: DataFrame,
      delta: DataFrame): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val phraseRow = baseIdx
      .select(col("term"), lead(col("term"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(concat_ws(" ", col("term"), col("nxt")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(1)
      .select(split(col("bigram"), " ").getItem(0).as("t1"),
        split(col("bigram"), " ").getItem(1).as("t2"))
      .collect()
    if (phraseRow.isEmpty)
      Seq.empty[(Long, String, Long)].toDF("doc_id", "phrase", "n_occurrences")
    else {
      val (t1, t2) = (phraseRow(0).getString(0), phraseRow(0).getString(1))
      def probe(seg: DataFrame) = {
        val a = seg.filter(col("term") === t1)
          .select(col("doc_id"), col("pos"))
        val b = seg.filter(col("term") === t2)
          .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
        a.join(b, col("doc_id") === col("doc_id2") &&
            col("pos2") === col("pos") + 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_occurrences"))
      }
      probe(baseIdx)
        .unionByName(probe(delta))
        .select(col("doc_id"), lit(t1 + " " + t2).as("phrase"),
          col("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("doc_id"))
        .limit(20)
    }
  }

  /** On-disk parquet tree for q_stream_index_delta: the delta segment's
    * documents (doc_id % 10 = 7) split into 4 INTERLEAVED chunk files
    * (chunk = (doc_id div 10) mod 4), so the streamed delta accretes
    * across micro-batches instead of arriving whole. Built once per
    * JVM per dir, published atomically (SideStores).
    */
  private def deltaDocTree(s: SparkSession, dir: String): String = {
    val out = SideStores.keyedTmpPath("graft_idxdelta_docs_", dir)
    SideStores.stagedTree(out) { stage =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
      (0 until 4).foreach { b =>
        docs.filter((col("doc_id") / 10).cast("bigint") % 4 === b).coalesce(1)
          .write.mode("overwrite").parquet(s"$stage/chunk$b")
      }
    }
    out
  }

  private def toks(c: String) = s"split($c, ' ')"

  /** count of tokens equal to the literal `w` (codegen'd lambda). */
  private def tokCount(c: String, w: String) =
    expr(s"size(filter(${toks(c)}, t -> t = '$w'))")

  private def stopCount(c: String) =
    expr(s"size(filter(${toks(c)}, t -> t IN (${stopwords.map("'" + _ + "'").mkString(",")})))")

  /** Winnowing fingerprint kernel — lives in [[graft.plans.TextOps]]
    * beside its codegen'd `fingerprint_set` expression; this alias
    * keeps the spec-facing reference entry point here.
    */
  def fingerprints(text: String): Array[Int] =
    graft.plans.TextOps.fingerprints(text)

  /** Per-source mixture plan (shared by q_mix_weights and
    * q_mix_sample): token counts, deterministic target weight, target
    * share, half-corpus token allocation, and the capped per-myriad
    * sampling rate realizing it — all integer-exact. One narrow
    * aggregate + a 1-row totals cross join; O(sources) output.
    */
  private def mixRates(s: SparkSession, dir: String): DataFrame = {
    val per = s.read.parquet(s"$dir/documents.parquet")
      .groupBy("source")
      .agg(sum(expr("size(split(text, ' '))")).cast("bigint").as("tokens"),
        count(lit(1)).as("n_docs"))
      .withColumn("weight", expr("CAST(substring(source, 4) AS BIGINT) % 3 + 1"))
    val totals = per.agg(sum("tokens").as("total_tokens"),
      sum("weight").as("total_weight"))
    // broadcast the 1-row totals: a bare crossJoin plans a
    // CartesianProduct (a shuffle product even for one row); broadcast
    // makes it a map-side BroadcastNestedLoopJoin attach
    per.crossJoin(broadcast(totals))
      .withColumn("share_pm", expr("weight * 10000 div total_weight"))
      .withColumn("desired_tokens",
        expr("(total_tokens div 2) * share_pm div 10000"))
      .withColumn("rate_pm",
        least(lit(10000L), expr("desired_tokens * 10000 div tokens")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Language-ID heuristic: English-marker token density.
    "q_lang_id" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens", expr(s"size(${toks("text")})").cast("bigint"))
        .withColumn("n_markers",
          (tokCount("text", "the") + tokCount("text", "a")).cast("bigint"))
        .withColumn("predicted",
          when(col("n_markers").cast("double") / col("n_tokens") > 0.05, lit("en"))
            .otherwise(lit("other")))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_markers").cast("double") / col("n_tokens")), 4).as("avg_marker_ratio"))
        .orderBy("lang", "predicted")),

    // Language-ID via character n-grams: density of common English
    // trigrams (non-overlapping occurrence counts via replace-shrink,
    // identical semantics in both engines and ~10× cheaper than
    // materializing every char trigram as an array element).
    "q_lang_ngram" -> ((s, dir) => {
      val grams = Seq("the", "he ", " th", "ing", "and", " an", "nd ", " of")
      val hits = grams.map(g =>
        (length(col("text")) - length(expr(s"replace(text, '$g', '')"))) / 3)
        .reduce(_ + _)
      val ratio = when(length(col("text")) < 3, lit(0.0))
        .otherwise(hits.cast("double") / (length(col("text")) - 2))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("en_tri_ratio", ratio)
        .withColumn("predicted",
          when(col("en_tri_ratio") > 0.04, lit("en")).otherwise(lit("other")))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("en_tri_ratio")), 4).as("avg_ratio"))
        .orderBy("lang", "predicted")
    }),

    // Quality scoring: length/stopword/token-shape features.
    "q_text_quality" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("n_tokens", expr(s"size(${toks("text")})").cast("bigint"))
        .withColumn("n_chars_actual", length(col("text")).cast("bigint"))
        .withColumn("n_stop", stopCount("text").cast("bigint"))
        .withColumn("stopword_ratio",
          round(col("n_stop").cast("double") / col("n_tokens"), 4))
        .withColumn("avg_token_len", round(
          (col("n_chars_actual") - col("n_tokens") + 1).cast("double") / col("n_tokens"), 4))
        .withColumn("quality", round(
          least(lit(1.0), col("n_stop").cast("double") / col("n_tokens") * 2
            + lit(1.0) / (lit(1.0) + abs((col("n_chars_actual") - col("n_tokens") + 1).cast("double") / col("n_tokens") - 5))), 4))
        .select("doc_id", "n_tokens", "stopword_ratio", "avg_token_len", "quality")
        .orderBy("doc_id")),

    // Token counting: whitespace tokens + BPE-ish regex token count.
    "q_token_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ws_tokens", expr(s"size(${toks("text")})").cast("bigint"))
        .withColumn("re_tokens",
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("bigint"))
        .withColumn("chars_per_token",
          round(length(col("text")).cast("double") / col("ws_tokens"), 4))
        .select("doc_id", "ws_tokens", "re_tokens", "chars_per_token")
        .orderBy("doc_id")),

    // Character-level entropy — the information-theoretic gibberish /
    // boilerplate detector (low entropy = repeated chars or templated
    // text, abnormally high = random noise), complementing
    // q_text_quality's token-shape features and q_repetition_ratio's
    // n-gram view. Integer-exact end-to-end, same floor-log2 discipline
    // as q_lm_score: per-char "bits" = length(bin(n·1024 div c)) —
    // a scaled ⌊log2(n/c)⌋ surrogate, no float log in either engine —
    // and the weighted sum lands as centi-bits per char. Scale shape:
    // chars explode map-side and partially aggregate before the only
    // real exchange, whose key space is docs × alphabet (≤ ~100 keys
    // per doc regardless of text size) — survives 100 TB unchanged.
    "q_char_entropy" -> ((s, dir) => {
      val counts = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          explode(expr("filter(split(lower(text), ''), c -> c <> '')")).as("ch"))
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      val tot = counts.groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
      counts.join(tot, "doc_id")
        .withColumn("wbits", expr("c * CAST(length(bin(n * 1024 div c)) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_chars"),
          max(col("n_distinct")).as("n_distinct"),
          expr("sum(wbits) * 100 div max(n)").as("entropy_cb"))
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint summary per doc (oracle: SQL window-min).
    "q_doc_fingerprint" -> ((s, dir) => {
      graft.plans.TextKernels.register(s)
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), expr("fingerprint_set(text)").as("fp"))
        .select(col("doc_id"),
          size(col("fp")).cast("bigint").as("n_fingerprints"),
          coalesce(array_min(col("fp")), lit(0L)).as("fp_min"),
          coalesce(array_max(col("fp")), lit(0L)).as("fp_max"),
          // ascending-order fold — the array is sorted, matching the
          // SortedSet fold the oracle's DISTINCT+sum reproduces
          expr("aggregate(fp, CAST(0 AS BIGINT), (acc, h) -> (acc + h) % 1000000007)")
            .as("fp_checksum"))
        .orderBy("doc_id")
    }),

    // Document chunking for training pipelines: sliding token windows
    // of 20 with stride 10 (50% overlap). posexplode of the start
    // offsets + slice — a generator projection, no shuffle until the
    // final sort; chunk identity is (doc_id, chunk_id), content is the
    // md5 of the joined window.
    "q_chunk_tokens" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, greatest(size(toks) - 1, 0), 10)")).as("start"))
        .select(col("doc_id"),
          expr("start div 10").cast("bigint").as("chunk_id"),
          expr("slice(toks, start + 1, 20)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("bigint").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // TF-IDF top terms per doc, rational-idf variant: score =
    // tf · (N+1)/(df+1). Deliberately no ln(): +,−,×,÷ are exactly
    // rounded IEEE ops, so scores are bit-identical across engines
    // (ln is not and would make cross-engine ranking flaky at ties).
    // Shape: explode → two hash aggs (doc-term tf, term df) → join →
    // per-doc top-k window. df is vocabulary-sized → the join is the
    // only real shuffle at scale.
    "q_tfidf" -> ((s, dir) => {
      val sub = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), col("text"))
      val tf = sub
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = sub.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_exact").desc, col("term"))
      tf.join(dfx, "term")
        .crossJoin(broadcast(n))
        .withColumn("score_exact",
          col("tf") * ((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rank", row_number().over(w).cast("bigint"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          round(col("score_exact"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // Count-min sketch heavy hitters: 4 hash rows × 256 buckets over
    // the token stream; estimate(term) = min over rows of its bucket
    // counter — always ≥ the true count, with collisions bounding the
    // overshoot. All 4 sketch rows are built in ONE aggregation:
    // posexplode the 4 row-buckets per token → groupBy (row, bucket) —
    // the fixed 4×256-counter state a streaming frequency counter keeps
    // at 100 TB, not one pass per row (the r2 plan re-scanned the
    // unpersisted token explode 5×; the stream is now cached and read
    // twice: once for the exact side, once for the sketch build). md5
    // bucketing makes every counter — and thus the estimates —
    // bit-reproducible in the oracle.
    "q_heavy_hitters" -> ((s, dir) => {
      def bucket(r: Int) =
        conv(substring(md5(concat(lit(s"$r:"), col("term"))), 1, 2), 16, 10).cast("int")
      val rowBuckets = array((0 until 4).map(bucket): _*)
      // the sketch counters build from the per-term exact counts, not
      // the raw occurrence stream: a counter cell's value is Σ counts
      // of the terms bucketing into it, so pre-aggregating first is
      // bit-identical but hashes each DISTINCT term once instead of
      // 4× per occurrence (same rewrite as q_countmin_est — the
      // map-side combine a production sketch builder runs anyway)
      val exact = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n_exact")))
      val top = exact.orderBy(col("n_exact").desc, col("term")).limit(10)
      val counters = exact
        .select(col("n_exact"), posexplode(rowBuckets).as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(sum(col("n_exact")).as("c"))
      val est = top
        .select(col("term"), posexplode(rowBuckets).as(Seq("r", "bucket")))
        .join(counters, Seq("r", "bucket"))
        .groupBy("term").agg(min(col("c")).as("n_est"))
      top.join(est, "term")
        .select(col("term"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("term"))
    }),

    // Within-document repetition — the quality gate that catches
    // boilerplate/spam docs (low type-token ratio, one token dominating).
    // Deliberately a PER-ROW plan: every metric is a function of the
    // document's own token list, so it's array expressions with ZERO
    // shuffle — the shape that survives 100 TB (the groupBy(doc, term)
    // alternative shuffles the entire token stream). Ratios are emitted
    // as integer per-myriad via `div` (exact cross-engine; a double
    // division can land on round-half boundaries). The token list is
    // bound ONCE via the outer-lambda trick — CollapseProject would
    // otherwise inline split() into every lambda reference.
    "q_repetition_ratio" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("m", expr(
          """element_at(transform(array(split(text, ' ')), toks ->
            |  struct(
            |    CAST(size(toks) AS BIGINT) AS n_tokens,
            |    CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct,
            |    CAST(aggregate(array_distinct(toks), 0, (m, t) ->
            |      greatest(m, size(filter(toks, x -> x = t)))) AS BIGINT) AS top_count
            |  )), 1)""".stripMargin))
        .select(col("doc_id"),
          col("m.n_tokens").as("n_tokens"),
          col("m.n_distinct").as("n_distinct"),
          expr("(m.n_tokens - m.n_distinct) * 10000 div m.n_tokens").as("rep_pm"),
          expr("m.top_count * 10000 div m.n_tokens").as("top_pm"))
        .orderBy("doc_id")),

    // Corpus-frequency BOILERPLATE REMOVAL (CCNet/RefinedWeb-style):
    // segment every document into consecutive 3-token chunks, count
    // each chunk's document frequency corpus-wide, flag chunks shared
    // by ≥2 documents as boilerplate (headers/footers/nav text in a
    // real crawl), and emit the per-doc cleaned text digest with
    // before/after counts. Plan shape at 100 TB: one explode + ONE
    // hash aggregate keyed by segment (map-side combined) for the
    // frequency table, one join back on the segment key — left to AQE,
    // which broadcasts the frequency table while it fits (it does at
    // fixture scale; .explain shows BroadcastHashJoin) and degrades to
    // a shuffle join once corpus vocabulary outgrows the threshold —
    // and one per-doc re-assembly aggregate. The segment table IS
    // cached (r12, reversing an unmeasured earlier claim): the
    // segmentation is a HIGHER-ORDER-FUNCTION transform, which never
    // enters whole-stage codegen, so deriving it once and serving the
    // frequency aggregate + join-back from the cache measured
    // 1.54 → 0.91 s min in-suite at sf0.1 (neighbors flat) — the
    // HOF-work-once rule from q_phrase_search, not a general license
    // to cache exploded corpora. No driver-side state, no all-pairs
    // anything.
    "q_boilerplate_lines" -> ((s, dir) => {
      // NOT spread (r20: the one VALID same-session A/B read off
      // 0.90×/0.85× — see OPTIMIZATION_r20.md §2).
      val segs = QueryCaches.cache(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .select(col("doc_id"), posexplode(expr(
          """transform(
            |  sequence(0, CAST(ceil(size(split(text, ' ')) / 3.0) AS INT) - 1),
            |  i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' '))"""
            .stripMargin)).as(Seq("pos", "seg"))))
      val freq = segs.groupBy("seg")
        .agg(countDistinct(col("doc_id")).as("df"))
      segs.join(freq, "seg")
        .withColumn("boiler", col("df") >= 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boilerplate"),
          md5(array_join(expr(
            "transform(filter(sort_array(collect_list(struct(pos, boiler, seg))), x -> NOT x.boiler), x -> x.seg)"),
            " ")).as("cleaned_md5"))
        .orderBy("doc_id")
    }),

    // Sequence packing — the concat-and-chunk step that turns a curated
    // corpus into fixed-size training windows: per SOURCE SHARD (the
    // unit of parallelism — global packing would serialize the corpus
    // through one sort), documents line up in doc_id order, a running
    // token total assigns each doc to the 2048-token window its first
    // token falls in, and per-window stats come out. One window
    // function + one aggregation, both partitioned by source — at
    // 100 TB every shard packs independently.
    // Scale posture (optimization r21, guide §2 — the second
    // parallelism ceiling OPTIMIZATION_r20.md deferred): the running
    // token total partitions by `source` (few values), so one task
    // scans corpus/|sources| rows. ScaleGate routes big corpora to a
    // CHUNKED two-level prefix sum: chunk = doc_id div chunkDocs is
    // deterministic, contiguous in the per-source doc order, and its
    // count grows with the corpus (scale-adaptive parallelism, not a
    // constant). One corpus exchange on (source, chunk) carries the
    // within-chunk running sum AND (full-frame window + rn=1 heads)
    // the per-chunk totals; chunk offsets are a tiny per-source window
    // re-attached by broadcast (null-safe keys — the join must keep
    // NULL groups exactly as the window route does). cum = chunk
    // offset + within-chunk prefix is the same exact integer sum, so
    // seq_id and every aggregate match bit-for-bit (Round21OpsSpec
    // pins both routes row-identical; oracle hash unchanged). The
    // final (source, seq_id) aggregate pays one extra exchange the
    // window route avoids (its hash(source) partitioning satisfied the
    // aggregate's clustering; chunk windows straddle seq_id
    // boundaries) — that exchange IS the trade: +1 shuffle of the
    // already-narrow (source, doc_id, n) proxy buys sort parallelism
    // |sources| -> |sources| x |chunks|. Fixture stays on the plain
    // window via the 1 GiB auto gate (extra operators are pure loss
    // when the whole corpus fits one sort buffer).
    "q_pack_sequences" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n"))
      val chunked = ScaleGate.route(s, "spark.graft.pack.shape",
        "chunk", "window", s"$dir/documents.parquet")
      val cum =
        if (!chunked) {
          val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
          toks.withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
        } else {
          val chunkDocs = s.conf.getOption("spark.graft.pack.chunkDocs")
            .map(_.toLong).getOrElse(1L << 16)
          val b = toks.withColumn("_chunk", expr(s"doc_id div $chunkDocs"))
          val wLoc = Window.partitionBy(col("source"), col("_chunk"))
            .orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val wAll = Window.partitionBy(col("source"), col("_chunk"))
          val wRn = Window.partitionBy(col("source"), col("_chunk"))
            .orderBy(col("doc_id"))
          val loc = b
            .withColumn("_loc", coalesce(sum(col("n")).over(wLoc), lit(0L)))
            .withColumn("_tot", sum(col("n")).over(wAll))
            .withColumn("_rn", row_number().over(wRn))
          val wOff = Window.partitionBy(col("source")).orderBy(col("_chunk"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val offs = loc.filter(col("_rn") === 1)
            .select(col("source"), col("_chunk"), col("_tot"))
            .withColumn("_off", coalesce(sum(col("_tot")).over(wOff), lit(0L)))
            .select(col("source").as("_src2"), col("_chunk").as("_chunk2"),
              col("_off"))
          loc.join(broadcast(offs),
              col("source") <=> col("_src2") && col("_chunk") <=> col("_chunk2"))
            .withColumn("cum", col("_off") + col("_loc"))
        }
      cum
        .withColumn("seq_id", expr("cum div 2048"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "seq_id")
    }),

    // Deterministic train/val/test split: the assignment is a pure
    // function of the stable doc_id hash (byte 0 of md5 → 0..255;
    // <204 ≈ 80% train, <230 ≈ 10% val, rest test), so re-running the
    // pipeline or adding shards never reshuffles membership — the
    // property that keeps eval sets frozen as the corpus grows. Pure
    // projection + one aggregation; no shuffle before the final
    // per-split rollup.
    "q_dataset_split" -> ((s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("bigint")
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("split",
          when(bucket < 204, "train").when(bucket < 230, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split")
    }),

    // Merge-rule mining (the counting core of BPE-style vocab
    // induction): corpus-wide adjacent-token pair frequencies, top 20.
    // Bigrams are built per row with the bound-once token list, explode
    // → one partial-aggregated count shuffle → TakeOrdered top-k; the
    // 100 TB shape is identical (pair counting is the dominant cost of
    // every merge round in real BPE trainers).
    // BPE merge-candidate statistics — the first step of tokenizer
    // TRAINING (the greedy merge picks argmax of exactly this table):
    // within-word adjacent character-pair frequencies. Computed the
    // way real BPE trainers do at scale: aggregate the corpus to its
    // DISTINCT word table first (vocab-sized, corpus-size-independent)
    // and weight each word's pairs by its frequency — pair counting
    // never rescans the text. Shuffles key on word then pair; the
    // top-20 is a TakeOrderedAndProject.
    "q_bpe_merges" -> ((s, dir) => {
      val words = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wf"))
      words
        .select(col("w"), col("wf"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(concat(expr("substring(w, i, 1)"), lit("+"),
          expr("substring(w, i + 1, 1)")).as("pair"), col("wf"))
        .groupBy("pair").agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    "q_bigram_vocab" -> ((s, dir) => {
      val bigrams = expr(
        """element_at(transform(array(split(text, ' ')), toks ->
          |  CASE WHEN size(toks) < 2 THEN array()
          |  ELSE transform(sequence(1, size(toks) - 1),
          |    i -> concat(element_at(toks, i), '_', element_at(toks, i + 1)))
          |  END), 1)""".stripMargin)
      s.read.parquet(s"$dir/documents.parquet")
        .select(explode(bigrams).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),

    // BPE training step 2: APPLY the winning merge and recount —
    // q_bpe_merges picks the most frequent adjacent pair; this query
    // performs that merge over the distinct-word table (replace() is
    // left-to-right non-overlapping in both engines, exactly BPE's
    // greedy scan, with chr(1) as the merged-symbol placeholder so the
    // new symbol can't re-pair with its own halves) and emits the NEXT
    // iteration's pair statistics, merged symbol spelled out in the
    // pair labels. The whole iteration runs on (word, wf) — pair stats
    // never rescan the corpus, the property that makes BPE training
    // feasible at 100 TB: the corpus is read once, every subsequent
    // merge is vocabulary-sized work. The 1-row winner BROADCASTS.
    "q_bpe_apply" -> ((s, dir) => {
      val words = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("wf")))
      val top = words
        .select(col("w"), col("wf"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(concat(expr("substring(w, i, 1)"), lit("+"),
          expr("substring(w, i + 1, 1)")).as("pair"), col("wf"))
        .groupBy("pair").agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .select(expr("substring(pair, 1, 1)").as("ma"),
          expr("substring(pair, 3, 1)").as("mb"))
      // filter BEFORE the position explode: Spark's sequence(1, 0)
      // yields a DESCENDING [1, 0], not an empty array, so a fully
      // merged 2-char word must never reach the sequence()
      words.crossJoin(broadcast(top))
        .withColumn("w2", expr("replace(w, concat(ma, mb), chr(1))"))
        .filter(length(col("w2")) >= 2)
        .select(col("wf"), col("ma"), col("mb"), col("w2"),
          explode(expr("sequence(1, length(w2) - 1)")).as("i"))
        .select(concat(
          expr("CASE WHEN substring(w2, i, 1) = chr(1) " +
            "THEN concat(ma, mb) ELSE substring(w2, i, 1) END"),
          lit("+"),
          expr("CASE WHEN substring(w2, i + 1, 1) = chr(1) " +
            "THEN concat(ma, mb) ELSE substring(w2, i + 1, 1) END")).as("pair"),
          col("wf"))
        .groupBy("pair").agg(sum(col("wf")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // Quoted-phrase search, data-derived phrase (the corpus's top
    // bigram) so the query is self-contained at any SF. Token
    // ADJACENCY is a per-document property, so bigrams come from ONE
    // doc-local array transform + explode — the previous positional
    // posting-list shape paid two corpus-sized SELF-JOIN shuffles on
    // (doc_id, pos) for adjacency that never leaves the row. Measured
    // A/B at sf0.1 (5-pass mini-suite, min basis): this shape 0.80 s
    // vs posting-list 1.06 s vs a fully doc-local variant (per-doc
    // `size(filter(bg, ...))` against the broadcast phrase, transform
    // run twice) 1.97 s — higher-order functions do NOT participate in
    // whole-stage codegen, so HOF work must be done ONCE and handed to
    // codegen'd operators (explode + hash aggregate), not repeated
    // per stage. A PERSISTED positional index shared across many
    // phrase queries would change the calculus; within one query this
    // wins at any scale.
    "q_phrase_search" -> ((s, dir) => {
      val bi = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), explode(expr(
            """transform(slice(w, 1, greatest(size(w) - 1, 0)),
              |  (x, i) -> concat(x, ' ', element_at(w, i + 2)))""".stripMargin))
            .as("bigram")))
      val top = bi.groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(1)
        .select(col("bigram").as("phrase"))
      bi.join(broadcast(top), col("bigram") === col("phrase"))
        .groupBy(col("doc_id"), col("phrase"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("doc_id"))
        .limit(20)
    }),

    // Phrase search over a PERSISTED positional index — the shape the
    // q_phrase_search comment predicted changes the calculus when many
    // phrase queries share one corpus: a (doc_id, pos, term) posting
    // table written ONCE, bucketed by doc_id (8 buckets, one file per
    // bucket) and sorted by (doc_id, pos), so every probe runs on the
    // paid-at-write-time layout with NO corpus re-tokenization and NO
    // exchange. Bucketing by doc_id (not term) is deliberate: the
    // expensive step of a phrase probe is the positional ADJACENCY
    // intersection, a self-join on (doc_id, pos+1) — with both sides
    // read from the same doc_id-bucketed layout that join needs no
    // shuffle at all, while the term lookups stay cheap broadcast
    // filters (a term-bucketed layout would prune the term lookup but
    // shuffle the whole intersection, the expensive half). The phrase
    // itself derives from the index too — lead(term) over
    // (doc_id, pos), a window the bucketed layout runs exchange-free —
    // so the only hash exchange in the WHOLE plan is the final bigram
    // count; PlanShapeSpec pins that. Same logical result as
    // q_phrase_search (the oracle is the same SQL — the q_dedup_bloom
    // precedent: the index changes the plan, not the answer); the
    // index pays off from the second probe on, exactly like
    // q_bucketed_join's fact-table layout.
    "q_phrase_index" -> ((s, dir) => {
      import s.implicits._
      val idx = postingsIndex(s, dir)
      // the probe phrase, derived from the index (self-contained at any
      // sf): lead(term) over (doc_id, pos) — a window the bucketed
      // layout runs WITHOUT an exchange — then the bigram count. The
      // 1-row winner is a bounded driver-side artifact (the
      // SimilarityQueries codebook/centroid precedent, here exactly one
      // row), standing in for the phrase a real caller passes as an
      // argument — materializing it lets both term lookups below
      // become parquet-PUSHED equality filters on the sorted index
      // instead of re-deriving the phrase subtree per consumer (the
      // first cut joined the derivation in twice: two window passes,
      // two bigram-agg exchanges).
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val phraseRow = idx
        .select(col("term"), lead(col("term"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("term"), col("nxt")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(1)
        .select(split(col("bigram"), " ").getItem(0).as("t1"),
          split(col("bigram"), " ").getItem(1).as("t2"))
        .collect()
      // degenerate corpus (no bigram anywhere): empty result, matching
      // q_phrase_search's graceful-empty semantics (r13 review — a
      // crash here would diverge from the pinned result equivalence)
      if (phraseRow.isEmpty)
        Seq.empty[(Long, String, Long)].toDF("doc_id", "phrase", "n_occurrences")
      else {
        val (t1, t2) = (phraseRow(0).getString(0), phraseRow(0).getString(1))
        // the probe proper: two pushed term filters over the bucketed
        // layout, positional adjacency self-join on (doc_id, pos+1) —
        // both sides carry the scan's doc_id partitioning, so the join
        // AND the per-doc count run with ZERO exchanges (PlanShapeSpec
        // pins the probe plan exchange-free)
        val a = idx.filter(col("term") === t1)
          .select(col("doc_id"), col("pos"))
        val b = idx.filter(col("term") === t2)
          .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
        a.join(b, col("doc_id") === col("doc_id2") &&
            col("pos2") === col("pos") + 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_occurrences"))
          .select(col("doc_id"), lit(t1 + " " + t2).as("phrase"),
            col("n_occurrences"))
          .orderBy(col("n_occurrences").desc, col("doc_id"))
          .limit(20)
      }
    }),

    // Proximity search over the SAME persisted postings table — the
    // second consumer, which is the index's whole economic argument:
    // q_phrase_index already paid the write, so this query's
    // tokenization cost is ZERO (the write-once guard sees the table
    // and skips straight to the probe). Different predicate shape too:
    // where the phrase probe needs exact adjacency (pos+1 equi-key),
    // proximity wants |Δpos| ≤ 3 — a BAND predicate riding on the
    // doc_id equi-join, which still runs exchange-free on the
    // bucketed layout (the band condition is a post-join filter on
    // the co-located pair stream, never a cartesian). Terms are the
    // corpus's top-2 by frequency, a 2-row bounded artifact like the
    // phrase probe's.
    "q_proximity_index" -> ((s, dir) => {
      import s.implicits._
      val idx = postingsIndex(s, dir)
      val top2 = idx.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(2)
        .collect().sortBy(r => (-r.getLong(1), r.getString(0)))
      // degenerate corpus (<2 distinct terms): graceful empty, same
      // contract as the phrase probe (r13 review)
      if (top2.length < 2)
        Seq.empty[(Long, Long, Long)].toDF("doc_id", "n_pairs", "min_gap")
      else {
        val (t1, t2) = (top2(0).getString(0), top2(1).getString(0))
        val a = idx.filter(col("term") === t1)
          .select(col("doc_id"), col("pos"))
        val b = idx.filter(col("term") === t2)
          .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
        a.join(b, col("doc_id") === col("doc_id2") &&
            abs(col("pos2") - col("pos")) <= 3)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_pairs"),
            min(abs(col("pos2") - col("pos"))).cast("bigint").as("min_gap"))
          .orderBy("doc_id")
      }
    }),

    // Conjunctive (AND) top-k search over the persisted postings
    // index, BM25-ranked — the third consumer of graft_idx_postings
    // and the retrieval shape q_bm25 deliberately isn't: q_bm25 scores
    // OR-matches by re-exploding the corpus per query, while this is
    // the amortized-index form — every per-doc stage (both term tf
    // lookups, the AND join, the doc-length attach, the final
    // aggregation) runs on the layout's doc_id bucketing with ZERO
    // exchanges (pinned), term lookups parquet-pushed. Query terms are
    // the corpus's top-2 by occurrence (2-row bounded artifact, with
    // their document frequencies riding along as literals — at probe
    // time a real engine reads df from a lexicon, not a corpus agg).
    // Scoring reuses q_bm25's INTEGER discipline verbatim (floor-log2
    // bit-length IDF, common-denominator tf saturation, k1=1.2
    // b=0.75) so both engines agree to the digit; nd/at are bounded
    // 1-row stats collected from the index's exchange-free doc-length
    // aggregate.
    "q_index_search" -> ((s, dir) => {
      import s.implicits._
      val idx = postingsIndex(s, dir)
      // dl is consumed twice (1-row stats reduce + final join) but NOT
      // cached — measured r14, 5-pass mini-suite minima: cache 0.490 vs
      // 0.477 s at sf0.1, 0.918 vs 0.927 isolated at the 10× fixture —
      // parity both ways; the exchange-free codegen agg over the
      // bucketed scan recomputes cheaper than a materialization
      // barrier (the §8 rule). The 10× full-suite 4.55 s row is a cold
      // single-pass artifact: isolated steady-state is 0.93 s.
      val dl = idx.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val statsRow = dl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
      val top2 = idx.groupBy("term")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
        .orderBy(col("n").desc, col("term")).limit(2)
        .collect().sortBy(r => (-r.getLong(1), r.getString(0)))
      // degenerate corpus (empty index → null token sum, or <2 terms):
      // graceful empty, same contract as the other index probes
      if (statsRow.isNullAt(1) || top2.length < 2)
        Seq.empty[(Long, Long, Long, Long)].toDF("doc_id", "tf1", "tf2", "score")
      else {
      val (nd, at) = (statsRow.getLong(0), statsRow.getLong(1))
      val (t1, df1) = (top2(0).getString(0), top2(0).getLong(2))
      val (t2, df2) = (top2(1).getString(0), top2(1).getLong(2))
      def tfOf(t: String, name: String) =
        idx.filter(col("term") === t).groupBy("doc_id")
          .agg(count(lit(1)).as(name))
      // IDF is a pure function of the two driver-side stats, so it is
      // computed HERE (toBinaryString length == bin() bit-length for
      // positive values — same floor-log2 as q_bm25's in-plan form).
      // The interpolated corpus stats carry an explicit L suffix: bare
      // numeric literals parse as INT, and (2·nd+1)·1048576 overflows
      // 32 bits from nd ≈ 1000 docs — caught at the 20× fixture as an
      // ANSI ARITHMETIC_OVERFLOW (sf0.01's 500 docs passed by luck).
      def score(tf: String, df: Long) = {
        val idfB = java.lang.Long.toBinaryString(
          (2 * nd - 2 * df + 1) * 1048576L / (2 * df + 1)).length.toLong
        expr(s"${idfB}L * ($tf * 44 * ${at}L * 10000 div " +
          s"(20 * ${at}L * $tf + 6 * ${at}L + 18 * dl * ${nd}L))")
      }
      tfOf(t1, "tf1").join(tfOf(t2, "tf2"), "doc_id")
        .join(dl, "doc_id")
        .select(col("doc_id"), col("tf1"), col("tf2"),
          (score("tf1", df1) + score("tf2", df2)).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
      }
    }),

    // BM25-RANKED phrase retrieval over the persisted postings index —
    // the fourth consumer (r13 backlog #3). q_phrase_index returns raw
    // occurrence counts; this is the ranking form a retrieval stack
    // actually serves: phrase tf (adjacency matches per doc) saturated
    // and length-normalized, weighted by the PHRASE's own document
    // frequency as IDF — so a short doc dense in the phrase outranks a
    // long doc that merely mentions it more often. Every per-doc stage
    // (both pushed term lookups, the pos+1 adjacency self-join, the tf
    // count, the doc-length attach) rides the doc_id-bucketed layout
    // with ZERO exchanges (pinned); top-k is a TakeOrdered. The phrase
    // df is a bounded 1-row stat collected from the SAME exchange-free
    // probe shape (the q_index_search nd/at precedent) — deliberately
    // NOT cached: the probe is a zero-exchange codegen pipeline over
    // the bucketed scan, and the §8 lens rule says recomputation fused
    // into codegen beats a materialization barrier when the lineage is
    // this cheap (measured repeatedly, e.g. fuzzy_join 1.51→1.82 s
    // WITH cache). Scoring reuses q_bm25/q_index_search's INTEGER
    // discipline verbatim so both engines agree to the digit.
    "q_phrase_rank" -> ((s, dir) => {
      import s.implicits._
      val idx = postingsIndex(s, dir)
      val dl = idx.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val statsRow = dl.agg(count(lit(1)), sum(col("dl"))).collect()(0)
      // probe phrase = top bigram, derived exchange-free from the index
      // (lead over the bucketed (doc_id, pos) order) — 1-row bounded
      // driver artifact standing in for a caller-supplied phrase
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val phraseRow = idx
        .select(col("term"), lead(col("term"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("term"), col("nxt")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(1)
        .select(split(col("bigram"), " ").getItem(0).as("t1"),
          split(col("bigram"), " ").getItem(1).as("t2"))
        .collect()
      // degenerate corpus: graceful empty, the index probes' contract
      if (statsRow.isNullAt(1) || phraseRow.isEmpty)
        Seq.empty[(Long, String, Long, Long)]
          .toDF("doc_id", "phrase", "tf", "score")
      else {
        val (nd, at) = (statsRow.getLong(0), statsRow.getLong(1))
        val (t1, t2) = (phraseRow(0).getString(0), phraseRow(0).getString(1))
        def tfDf = {
          val a = idx.filter(col("term") === t1)
            .select(col("doc_id"), col("pos"))
          val b = idx.filter(col("term") === t2)
            .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
          a.join(b, col("doc_id") === col("doc_id2") &&
              col("pos2") === col("pos") + 1)
            .groupBy("doc_id").agg(count(lit(1)).as("tf"))
        }
        // phrase document frequency: bounded 1-row stat (df ≤ nd); the
        // recomputed probe below is the cheap zero-exchange pipeline
        val dfp = tfDf.count()
        val idfB = java.lang.Long.toBinaryString(
          (2 * nd - 2 * dfp + 1) * 1048576L / (2 * dfp + 1)).length.toLong
        tfDf.join(dl, "doc_id")
          .select(col("doc_id"), lit(t1 + " " + t2).as("phrase"), col("tf"),
            expr(s"${idfB}L * (tf * 44 * ${at}L * 10000 div " +
              s"(20 * ${at}L * tf + 6 * ${at}L + 18 * dl * ${nd}L))").as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      }
    }),

    // Incremental index maintenance — the MAIN + DELTA serving pattern
    // (Lucene segments, LSM trees): new documents must be searchable
    // without re-tokenizing or rewriting the 90% base segment. Base =
    // docs with doc_id % 10 ≠ 7, written ONCE as its own
    // doc_id-bucketed postings table (separate write-once guard key
    // from graft_idx_postings — the two layouts must not alias); delta
    // = the remaining docs tokenized inline at probe time (the
    // not-yet-compacted segment). The scale point is WHERE the probe
    // runs: a doc lives in exactly ONE segment, so the phrase probe
    // runs PER SEGMENT and the per-doc results union — the base keeps
    // its zero-exchange bucketed probe, and the delta pays a shuffle
    // proportional to DELTA size only. Probing the union of the raw
    // postings instead would re-shuffle the whole base (the union
    // erases the bucketed partitioning) — the design this query exists
    // to rule out, pinned in PlanShapeSpec via the exchange budget.
    // The probe phrase derives from the BASE segment (at serving time
    // the lexicon predates the delta); oracle = the same derivation in
    // SQL with counts over the full corpus.
    "q_index_incremental" -> ((s, dir) =>
      mainDeltaPhraseProbe(s, basePostingsIndex(s, dir),
        deltaPostings(s, dir))),

    // Streaming MAIN+DELTA index SERVING (VERDICT r19 #2 — the last
    // index-lifecycle piece brought under the batch ≡ stream
    // discipline: incremental r14, compaction r14, clusters r18,
    // survivors r19, serving now): delta documents arrive in
    // micro-batches, each batch is tokenized and eagerly materialized
    // as its own postings SEGMENT (localCheckpoint ∝ the batch delta —
    // the LSM memtable-flush shape; never a rewrite of accumulated
    // delta, never the base), and at serving time the probe runs per
    // segment exactly like the batch twin: the bucketed base keeps its
    // zero-exchange probe, the accreted delta segments pay one
    // delta-sized shuffle. The drained union of segments IS
    // deltaPostings row-for-row (chunking partitions the delta docs;
    // tokenization is per-row), so the result is gated VERBATIM on the
    // batch q_index_incremental oracle. At 100 TB: per-batch cost ∝
    // arrivals, segment count bounded by the q_index_compact cadence
    // (compaction is the batch query's job; the stream only accretes).
    "q_stream_index_delta" -> ((s, dir) => {
      import s.implicits._
      val baseIdx = basePostingsIndex(s, dir)
      val tree = deltaDocTree(s, dir)
      var delta: DataFrame = null
      graft.streaming.EventStreams.drainTuned(s, dir) {
        val update = (batch: DataFrame, batchId: Long) => {
          // tokenize + flush THIS batch's postings as one segment; the
          // lazy `delta` plan is a union of checkpointed segments, so
          // nothing dangles into an expired micro-batch
          val seg = batch.select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
            .localCheckpoint(true)
          delta = if (delta == null) seg else delta.unionByName(seg)
          ()
        }
        graft.streaming.EventStreams.drainParquetFiles(s,
          "doc_id BIGINT, text STRING", s"$tree/chunk*")(update)
      }
      val drained =
        if (delta != null) delta
        else Seq.empty[(Long, Int, String)].toDF("doc_id", "pos", "term")
      mainDeltaPhraseProbe(s, baseIdx, drained)
    }),

    // Index COMPACTION — the merge step that completes the LSM story
    // (base → delta-serve → compact): the base segment and the delta
    // merge into a new bucketed GENERATION, after which probes run
    // exchange-free on the full corpus again and the delta's
    // probe-time shuffle tax is gone. The merge cost profile is the
    // point: the compactor reads the BASE as a bucketed scan — no
    // re-tokenization of the 90% — and tokenizes only the delta; at
    // 100 TB this is an IO-bound rewrite (the price LSM compaction
    // always pays) whose shuffle is one doc_id repartition of rows
    // that already exist. The probe over the new generation is
    // byte-for-byte q_phrase_index's shape, and since gen-2 holds
    // exactly the full corpus, the oracle is q_phrase_search's SQL
    // verbatim — the third member of that equivalence family
    // (NewOpsSpec additionally pins row-identity with q_phrase_index).
    "q_index_compact" -> ((s, dir) => {
      import s.implicits._
      basePostingsIndex(s, dir) // the generation being compacted
      BucketedTables.ensure(s, Seq("graft_idx_postings_g2"),
          "spark.graft.idxg2.writtenDir", dir) {
        s.table("graft_idx_postings_base")
          .unionByName(deltaPostings(s, dir))
          .repartition(8, col("doc_id"))
          .write.mode("overwrite")
          .bucketBy(8, "doc_id").sortBy("doc_id", "pos")
          .saveAsTable("graft_idx_postings_g2")
      }
      QueryCaches.scopedConf(s,
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val g2 = s.table("graft_idx_postings_g2")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val phraseRow = g2
        .select(col("term"), lead(col("term"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("term"), col("nxt")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram")).limit(1)
        .select(split(col("bigram"), " ").getItem(0).as("t1"),
          split(col("bigram"), " ").getItem(1).as("t2"))
        .collect()
      if (phraseRow.isEmpty)
        Seq.empty[(Long, String, Long)].toDF("doc_id", "phrase", "n_occurrences")
      else {
        val (t1, t2) = (phraseRow(0).getString(0), phraseRow(0).getString(1))
        val a = g2.filter(col("term") === t1)
          .select(col("doc_id"), col("pos"))
        val b = g2.filter(col("term") === t2)
          .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
        a.join(b, col("doc_id") === col("doc_id2") &&
            col("pos2") === col("pos") + 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_occurrences"))
          .select(col("doc_id"), lit(t1 + " " + t2).as("phrase"),
            col("n_occurrences"))
          .orderBy(col("n_occurrences").desc, col("doc_id"))
          .limit(20)
      }
    }),

    // Boolean (AND / AND-NOT) retrieval over the persisted postings
    // index — the fifth consumer, and the predicate shape the other
    // probes deliberately aren't: where phrase/proximity need POSITIONS,
    // boolean retrieval needs only per-doc term PRESENCE, which an
    // inverted index serves as a bitmap accumulate. Query = t1 AND t2
    // AND NOT t3, with t1/t2 the corpus's top-2 terms and t3 the term
    // whose document frequency best splits the corpus (argmin
    // |2·df − nd| over the remaining vocabulary — self-tuning at any
    // sf, so the NOT arm genuinely discriminates instead of matching
    // everything or nothing; bounded driver artifact like the sibling
    // probes' derivations). The probe is ONE filtered scan of the
    // doc_id-bucketed layout (term IN (t1,t2,t3) parquet-pushed), one
    // exchange-free per-doc aggregate building the presence BITMASK
    // with bit_or (bit i ⇔ term i seen — the relational form of the
    // posting-bitmap AND/ANDNOT kernel), then a mask predicate
    // (mask & 3) = 3 AND (mask & 4) = 0. tf counts ride the same
    // aggregate for free. At 100 TB the mask aggregate stays map-side
    // combinable and the scan reads only the three terms' row groups —
    // the layout's sort puts each term's postings in contiguous runs.
    "q_bool_retrieval" -> ((s, dir) => {
      import s.implicits._
      val idx = postingsIndex(s, dir)
      // nd from the exchange-free per-doc aggregate (the dl precedent)
      val nd = idx.groupBy("doc_id").agg(count(lit(1))).count()
      val freq = idx.groupBy("term")
        .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("df"))
      val top2 = freq.orderBy(col("n").desc, col("term")).limit(2)
        .collect().sortBy(r => (-r.getLong(1), r.getString(0)))
      // degenerate corpus (<3 distinct terms): graceful empty
      if (top2.length < 2)
        Seq.empty[(Long, Long, Long)].toDF("doc_id", "tf1", "tf2")
      else {
        val (t1, t2) = (top2(0).getString(0), top2(1).getString(0))
        val notRow = freq.filter(!col("term").isin(t1, t2))
          .withColumn("split_d", abs(lit(2L) * col("df") - lit(nd)))
          .orderBy(col("split_d"), col("term")).limit(1)
          .collect()
        if (notRow.isEmpty)
          Seq.empty[(Long, Long, Long)].toDF("doc_id", "tf1", "tf2")
        else {
          val t3 = notRow(0).getString(0)
          idx.filter(col("term").isin(t1, t2, t3))
            .groupBy("doc_id")
            .agg(
              expr(s"bit_or(CASE term WHEN '$t1' THEN 1 " +
                s"WHEN '$t2' THEN 2 ELSE 4 END)").as("mask"),
              sum(when(col("term") === t1, 1L).otherwise(0L)).as("tf1"),
              sum(when(col("term") === t2, 1L).otherwise(0L)).as("tf2"))
            .filter((expr("mask & 3") === 3) && (expr("mask & 4") === 0))
            .select("doc_id", "tf1", "tf2")
            .orderBy("doc_id")
        }
      }
    }),

    // Token-budget data selection — "fill half the corpus's token
    // budget with the highest-quality documents", the selection step
    // between scoring and mixing in a curation pipeline. The scale
    // design point is HOW the quality cutoff is found: never a global
    // sort + running sum over documents (a single-partition window
    // over the corpus — the classic rank-selection scale bug), but the
    // BOUNDED-HISTOGRAM form: quality is an integer per-myriad score,
    // so its domain has ≤ 10 001 values — aggregate token mass per
    // score (map-side combined), run the cumulative sum over that tiny
    // frame (a one-partition window over ≤ 10 001 rows is bounded by
    // construction, not by data), and the cutoff becomes a 1-row
    // driver artifact applied as a plain filter. Selection semantics:
    // every document at or above the cutoff score is taken (the
    // boundary score overshoots the budget rather than splitting ties
    // arbitrarily — deterministic in both engines). Output is the
    // per-source selection summary.
    "q_budget_select" -> ((s, dir) => {
      import s.implicits._
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          expr(s"size(${toks("text")})").cast("bigint").as("toks"),
          stopCount("text").cast("bigint").as("nstop"))
        .withColumn("q", expr("nstop * 10000 div toks"))
        .transform(QueryCaches.cache(_)) // consumed by totals, hist, and the final filter
      val totalRow = scored.agg(sum(col("toks"))).collect()(0)
      // degenerate corpus (empty → null token sum; total 0 → empty
      // cumulative frame, null min): graceful empty, same contract as
      // the index probes (r13 ADVICE)
      if (totalRow.isNullAt(0) || totalRow.getLong(0) == 0L)
        Seq.empty[(String, Long, Long, Long)]
          .toDF("source", "n_selected", "sel_tokens", "cutoff_q")
      else {
      val budget = totalRow.getLong(0) / 2
      val wq = Window.orderBy(col("q").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cut = scored.groupBy("q").agg(sum(col("toks")).as("t"))
        .withColumn("cum", sum(col("t")).over(wq))
        .filter(col("cum") - col("t") < budget)
        .agg(min(col("q"))).collect()(0).getLong(0)
      scored.filter(col("q") >= cut)
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"), sum(col("toks")).as("sel_tokens"))
        .withColumn("cutoff_q", lit(cut))
        .orderBy("source")
      }
    }),

    // HTML boilerplate extraction — the WET-extraction step every
    // web-crawl corpus runs before any text analysis: strip markup,
    // recover the token stream, and score LINK DENSITY (share of text
    // inside anchors), the classic boilerplate discriminant (high
    // density ⇒ navigation chrome, not content). Markup is synthesized
    // deterministically around the fixture text (the q_url_canonical
    // pattern — both engines build byte-identical pages: title chrome,
    // (doc_id % 7) · 3 repeated nav anchors, footer), so the oracle
    // reconstructs the same page without any side files. All
    // extraction is codegen'd regexp over the row — embarrassingly
    // parallel, zero exchanges before the final sort; the regexes are
    // RE2-safe (no backrefs/lookaround) so Java and RE2 agree. The
    // integer density is per-myriad; the content flag is the
    // density < 10% rule.
    "q_html_extract" -> ((s, dir) => {
      val pages = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat(
          lit("<html><head><title>"), col("source"),
          lit("</title></head><body><nav>"),
          expr("repeat('<a href=\"#\">nav link</a>', " +
            "CAST((doc_id % 7) * 3 AS INT))"),
          lit("</nav><p>"), col("text"),
          lit("</p><footer>site footer</footer></body></html>")).as("html"))
      pages
        .select(col("doc_id"),
          expr("size(split(trim(regexp_replace(regexp_replace(" +
            "html, '<[^>]*>', ' '), ' +', ' ')), ' '))")
            .cast("bigint").as("page_toks"),
          expr("""regexp_extract_all(html, '<a href="#">([^<]*)</a>', 1)""")
            .as("anchors"))
        .withColumn("anchor_toks",
          expr("aggregate(anchors, 0L, (a, x) -> a + size(split(x, ' ')))"))
        .withColumn("density_pm",
          expr("anchor_toks * 10000 div page_toks"))
        .withColumn("is_content",
          expr("CAST(CASE WHEN density_pm < 1000 THEN 1 ELSE 0 END AS BIGINT)"))
        .select("doc_id", "page_toks", "anchor_toks", "density_pm", "is_content")
        .orderBy("doc_id")
    }),

    // Balanced output sharding — the write-side packing step of a
    // training-data pipeline: distribute each source's documents over
    // a fixed shard count so per-shard token totals are even (shard
    // skew = straggler tasks for every downstream consumer of the
    // written files). Policy: rank docs by size within source, deal
    // them SERPENTINE (boustrophedon — pass k goes left-to-right, pass
    // k+1 right-to-left), the classic one-pass LPT approximation; the
    // yardstick ridden alongside is naive id-hash sharding
    // (doc_id % S), and the output is each source's max/min shard
    // token load plus the per-myriad spread under BOTH policies — the
    // serpentine spread should sit far under the hash spread
    // (spec-asserted). The window is PARTITIONED BY SOURCE — per-source
    // sort, never a global order; at 100 TB a giant source would
    // sub-shard by a size-bucket prefix first, same shape one level
    // down.
    "q_shard_balance" -> ((s, dir) => {
      val S = 8
      val d = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          expr(s"size(${toks("text")})").cast("bigint").as("toks"))
      val w = Window.partitionBy("source")
        .orderBy(col("toks").desc, col("doc_id"))
      val serp = d
        .withColumn("rk", row_number().over(w).cast("bigint") - 1)
        .withColumn("shard", expr(
          s"CASE WHEN (rk div $S) % 2 = 0 THEN rk % $S ELSE ${S - 1} - rk % $S END"))
        .groupBy("source", "shard").agg(sum(col("toks")).as("st"))
        .groupBy("source")
        .agg(max(col("st")).as("serp_max"), min(col("st")).as("serp_min"))
      val naive = d
        .withColumn("shard", col("doc_id") % S)
        .groupBy("source", "shard").agg(sum(col("toks")).as("nt"))
        .groupBy("source")
        .agg(max(col("nt")).as("mod_max"), min(col("nt")).as("mod_min"))
      serp.join(naive, "source")
        .withColumn("serp_spread_pm",
          expr("(serp_max - serp_min) * 10000 div serp_max"))
        .withColumn("mod_spread_pm",
          expr("(mod_max - mod_min) * 10000 div mod_max"))
        .orderBy("source")
    }),

    // Intra-document repetition score — the degenerate-text signal
    // quality pipelines filter on (the "repetition" family of rules in
    // published corpus-curation recipes, e.g. the Gopher filters):
    // what fraction of a doc's 3-gram stream is occupied by n-grams
    // that repeat WITHIN the doc, plus the hottest single n-gram's
    // count. Complements q_ngram_novelty (cross-doc) and
    // q_boilerplate_lines (line-level): this one is purely doc-local.
    // NON-distinct trigrams on purpose (multiplicity IS the signal —
    // Corpus.shingles dedupes, so the transform is inline). Shape: one
    // doc-local HOF pass (run once, handed to codegen'd explode +
    // aggs — the q_phrase_search rule), one (doc_id, gram) exchange,
    // one doc_id exchange; both keys are doc-bounded, so the shape is
    // flat at 100 TB. Ratio is per-myriad integer division — exactly
    // portable.
    "q_repetition" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """transform(slice(w, 1, greatest(size(w) - 2, 0)),
            |  (x, i) -> concat(x, ' ', element_at(w, i + 2), ' ',
            |    element_at(w, i + 3)))""".stripMargin)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_grams"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_repeated"),
          max(col("c")).as("max_repeat"))
        .withColumn("rep_pm", expr("n_repeated * 10000 div n_grams"))
        .orderBy("doc_id")
    }),

    // Benchmark-contamination check: which eval documents share 3-gram
    // shingles with the training split? Both sides explode to
    // (doc, shingle), the join keys on the shingle — the same
    // banded-candidate shuffle shape as MinHash dedup (never all-pairs)
    // — and per eval doc the overlap statistics come out. This is the
    // decontamination pass every serious training corpus runs against
    // its eval suites.
    "q_contamination" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), Corpus.shingles("text").as("sh"))
      // shingles hashed to 64-bit keys map-side before the shuffle
      // (the q_span_dedup treatment — the join, both partial
      // count-distinct states, and the exchange all carry 8-byte keys
      // instead of ~20-byte trigram strings; a collision would merge
      // two distinct shared shingles, same ~n²/2⁶⁵ bound, fixtures
      // empirically collision-free under the string-keyed oracle).
      // Measured at sf0.1, 5-pass mini-suite: min 0.83 → 0.74 s,
      // median 0.95 → 0.85 s.
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_id"), explode(col("sh")).as("shingle"))
        .select(col("bench_id"), xxhash64(col("shingle")).as("h"))
      val train = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("train_id"), explode(col("sh")).as("shingle"))
        .select(col("train_id"), xxhash64(col("shingle")).as("h"))
      // shuffle-hash with the BENCH side as build: it is the 2% sample
      // (bounded by construction), and shingle order is never reused
      // downstream, so the SMJ sorts are pure waste
      bench.hint("shuffle_hash").join(train, "h")
        .groupBy("bench_id")
        .agg(countDistinct(col("train_id")).as("n_train_docs"),
          countDistinct(col("h")).as("n_shared_shingles"))
        .orderBy("bench_id")
    }),

    // Anonymization surface: salted SHA-256 pseudonymous keys (stable
    // joins without exposing the raw id), digit masking, and numeric
    // generalization into coarse buckets — the standard k-anonymity-
    // style prep before a dataset leaves its enclave.
    "q_anonymize" -> ((s, dir) =>
      s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_custkey") % 25 === 0)
        .select(col("c_custkey"),
          sha2(concat(lit("salt42_"), col("c_custkey")), 256).as("pseudo_id"),
          regexp_replace(col("c_name"), "[0-9]", "*").as("name_masked"),
          (floor(col("c_acctbal") / 1000) * 1000).cast("bigint").as("acct_bucket"))
        .orderBy("c_custkey")),

    // k-anonymity SUPPRESSION — the release gate q_anonymize preps
    // for: after generalizing the quasi-identifiers (nation, market
    // segment, 1000-wide balance band), any equivalence class smaller
    // than k=5 is suppressed, because its members are re-identifiable
    // by the QI combination alone. The suppressed mass is reported as
    // one sentinel row (nat=-1, segment='*') rather than silently
    // dropped — an auditor needs to see how much data the gate cost.
    // One hash aggregate keyed on the QI tuple; the class-size filter
    // is a post-aggregation predicate, so nothing here widens at scale.
    "q_kanon_suppress" -> ((s, dir) => {
      val classes = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_nationkey").cast("bigint").as("nat"),
          col("c_mktsegment").as("segment"),
          (floor(col("c_acctbal") / lit(1000.0)) * 1000).cast("bigint")
            .as("bal_band"))
        .groupBy("nat", "segment", "bal_band")
        .agg(count(lit(1)).as("n"))
      val kept = classes.filter(col("n") >= 5)
      val suppressed = classes.filter(col("n") < 5)
        .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
        .select(lit(-1L).as("nat"), lit("*").as("segment"),
          lit(-1L).as("bal_band"), col("n"))
      kept.unionByName(suppressed)
        .orderBy("nat", "segment", "bal_band")
    }),

    // The composite curation pipeline — what a real training-data prep
    // job chains: language-ID gate → quality gate → length gate →
    // exact-dedup survivor selection, over the duplicated re-crawl
    // corpus. One pass of narrow projections, then a single shuffle on
    // the content hash; every gate is the same expression family the
    // standalone queries pin down individually.
    "q_curation_pipeline" -> ((s, dir) => {
      val feats = graft.text.Corpus.withDuplicates(s, dir)
        .withColumn("n_tokens", expr(s"size(${toks("text")})").cast("bigint"))
        .withColumn("n_chars_actual", length(col("text")).cast("bigint"))
        .withColumn("n_stop", stopCount("text").cast("bigint"))
        .withColumn("n_markers",
          (tokCount("text", "the") + tokCount("text", "a")).cast("bigint"))
        .withColumn("quality", least(lit(1.0),
          col("n_stop").cast("double") / col("n_tokens") * 2
            + lit(1.0) / (lit(1.0) + abs((col("n_chars_actual") - col("n_tokens") + 1)
              .cast("double") / col("n_tokens") - 5))))
      feats
        .filter(col("n_markers").cast("double") / col("n_tokens") > 0.05 &&
          col("quality") >= 0.4 && col("n_tokens") >= 20)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("survivor_id"),
          min(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_copies"))
        .select("survivor_id", "n_tokens", "n_copies")
        .orderBy("survivor_id")
    }),

    // PII scrubbing: regex redaction of emails and phone numbers with
    // replacement markers + per-row redaction counts. The contact
    // strings are synthesized deterministically from the orders table
    // so the oracle rebuilds the identical input (the fixtures contain
    // no real PII). Patterns avoid backslash classes ([0-9], [a-z])
    // so the exact same regex text runs in both engines.
    "q_pii_redact" -> ((s, dir) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
      val phoneRe = "[+][0-9]{2}-[0-9]{2}-[0-9]{7}"
      s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"),
          concat(lit("contact user"), col("o_custkey"),
            lit(" at user"), col("o_custkey"), lit("@example.com or +64-21-"),
            lpad(col("o_orderkey") % 10000000, 7, "0"),
            lit(" re order "), col("o_orderkey")).as("raw"))
        .select(col("o_orderkey"),
          regexp_count(col("raw"), lit(emailRe)).cast("bigint").as("n_emails"),
          regexp_count(col("raw"), lit(phoneRe)).cast("bigint").as("n_phones"),
          regexp_replace(regexp_replace(col("raw"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").as("redacted"))
        .orderBy("o_orderkey")
    }),

    // Corpus-level n-gram novelty: per doc, how many of its distinct
    // 3-gram shingles occur in NO other document — the inverse of
    // boilerplate coverage, the signal mixture curation uses to
    // down-weight templated/syndicated content. Shape (r12): one
    // shingle explode (cached — consumed by the df aggregate and the
    // per-doc totals), ONE shingle-keyed df aggregate that also names
    // each df = 1 shingle's owner, then doc-keyed aggregates joined at
    // doc granularity — one shuffle on shingle + two on doc_id, no
    // shingle join-back, never a doc×doc product (details below). The
    // ratio is per-myriad integer division — exactly portable.
    "q_ngram_novelty" -> ((s, dir) => {
      // NOT spread (r20: the one VALID same-session A/B read off
      // 0.58×/0.59× — a Spread.ifNarrow on this scan nearly doubles
      // the query; see OPTIMIZATION_r20.md §2 for the mechanism).
      val sh = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(Corpus.shingles("text")).as("shingle"))
        .transform(QueryCaches.cache(_))
      // (doc_id, shingle) pairs are already distinct — Corpus.shingles
      // is array_distinct per doc and doc_id is unique — so document
      // frequency is a plain count, not a countDistinct: the same
      // number without the per-group distinct state (an allocation
      // hot-spot at 890k shingle rows, and a second aggregate phase
      // at any scale).
      //
      // No join-back on the shingle either: a df = 1 shingle has
      // exactly ONE owner, and min(doc_id) inside the same df
      // aggregate names it for free — so "uniques per doc" is a
      // doc-keyed aggregate over just the df = 1 slice, and the old
      // shingle-keyed join that re-materialized all 890k (doc,
      // shingle, df) rows disappears; the final join runs at DOC
      // granularity. Measured 0.90 → 0.66 s min in-suite at sf0.1 —
      // against a host level that moved ~1.5× SLOWER between the two
      // passes (both neighbor queries regressed), so the level-adjusted
      // win is larger still.
      val df = sh.groupBy("shingle")
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      val uniq = df.filter(col("df") === 1)
        .groupBy(col("owner").as("doc_id"))
        .agg(count(lit(1)).as("n_unique"))
      sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .join(uniq, Seq("doc_id"), "left_outer")
        .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
        .withColumn("novelty_pm", expr("n_unique * 10000 div n_shingles"))
        .orderBy("doc_id")
    }),

    // Bigram-LM document scoring — the CCNet-style quality gate: train
    // an add-V-smoothed bigram model ON the corpus, score each doc by
    // its mean per-bigram information content, and low-probability
    // (high-bits) docs surface as noise/garble candidates while
    // very-low-bits docs are boilerplate. The score is INTEGER
    // end-to-end: the smoothed conditional probability is scaled to
    // 2^30 and its floor-log2 taken as a bit-length (length(bin(q)) —
    // no float log whose last ulp differs between engines), so the
    // oracle hash-matches to the digit. Shape: one bigram explode
    // consumed by the pair-count aggregate, the prefix-count
    // aggregate, the vocab count, AND the score join; equi-joins on
    // bigram and prefix, a broadcast 1-row vocab, one doc-keyed
    // aggregate: every shuffle is keyed on bounded token keys, never
    // a doc product. NOT cached — adjudicated r15 after the driver's
    // r14 min-basis flag (1.516 → 2.142 s): isolated 7-pass mini-suite
    // A/B at sf0.1, both runs adjudicated (disp_frac2 0.0), cached
    // min/med 0.948/1.223 vs UNCACHED 0.913/1.138 — the flag was
    // in-suite cache/memory pressure, not a code regression (isolated
    // min sits well under the 1.516 base either way), and the §8
    // codegen-cheap-lineage clause wins again: recomputing the explode
    // inside four codegen pipelines beats materializing the exploded
    // string-heavy frame, while dropping its storage footprint from
    // the suite.
    "q_lm_score" -> ((s, dir) => {
      val bigrams = expr(
        """element_at(transform(array(split(text, ' ')), toks ->
          |  CASE WHEN size(toks) < 2 THEN array()
          |  ELSE transform(sequence(1, size(toks) - 1),
          |    i -> struct(element_at(toks, i) AS w1,
          |      concat(element_at(toks, i), '_',
          |             element_at(toks, i + 1)) AS bg))
          |  END), 1)""".stripMargin)
      val bg = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(bigrams).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.bg").as("bigram"))
      val cPair = bg.groupBy("bigram").agg(count(lit(1)).as("c_pair"))
      val cPrefix = bg.groupBy("w1").agg(count(lit(1)).as("c_prefix"))
      val vocab = bg.agg(countDistinct(col("w1")).as("v"))
      bg.join(cPair, "bigram").join(cPrefix, "w1")
        .crossJoin(broadcast(vocab))
        .withColumn("bits", expr(
          "CAST(length(bin(c_pair * 1073741824 div (c_prefix + v))) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
        .withColumn("mean_bits_pm", expr("sum_bits * 10000 div n_bigrams"))
        .orderBy("doc_id")
    }),

    // BM25 ranking — the lexical retrieval scorer (complement of
    // q_tfidf's corpus summary): every doc scored against a
    // deterministic query (the 3 globally most-document-frequent
    // terms, ties on token), top-20 by score. INTEGER end-to-end, same
    // discipline as q_lm_score: IDF is the floor-log2 bit-length of
    // the scaled odds (2N−2df+1)·2^20/(2df+1) — no float log — and the
    // tf-saturation fraction tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    // k1=1.2, b=0.75 is brought to the common denominator 20·A (A =
    // total tokens, avgdl = A/N): sat_pm = 44·A·tf·10⁴ div
    // (20·A·tf + 6·A + 18·dl·N) — exact int64 at fixture scale (a
    // 100 TB corpus pre-reduces avgdl to a scaled constant instead of
    // carrying A·tf products). Shape: one cached token explode feeding
    // df, dl, and tf; the query-term set is a broadcast 3-row dim so
    // the tf filter is a broadcast join (no shuffle); scoring shuffles
    // only on doc_id. Docs sharing no query term score nothing —
    // retrieval semantics, not a scan of non-matches.
    "q_bm25" -> ((s, dir) => {
      // NOT spread (r20) — a bare split/explode with no per-token
      // hashing, feeding a CACHE: the valid-A/B family's losing shape
      // (OPTIMIZATION_r20.md §2).
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .transform(QueryCaches.cache(_))
      val dfreq = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val qterms = broadcast(dfreq.orderBy(col("df").desc, col("tok")).limit(3))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val totals = broadcast(dl.agg(count(lit(1)).as("nd"),
        sum(col("dl")).as("at")))
      val tf = toks.join(qterms, "tok")
        .groupBy("doc_id", "tok", "df").agg(count(lit(1)).as("tf"))
      tf.join(dl, "doc_id").crossJoin(totals)
        .withColumn("idf_b", expr(
          "CAST(length(bin((2*nd - 2*df + 1) * 1048576 div (2*df + 1))) AS BIGINT)"))
        .withColumn("sat_pm", expr(
          "tf * 44 * at * 10000 div (20 * at * tf + 6 * at + 18 * dl * nd)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(expr("idf_b * sat_pm")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Mixture weighting: given per-source token counts and a target
    // mixture (deterministic weights), derive each source's target
    // share, its token allocation out of a half-corpus budget, and the
    // per-source sampling rate that realizes it (capped at 1.0 — a
    // source can't be oversampled without repetition). This is the
    // planning step of training-data mixing; every ratio is per-myriad
    // integer arithmetic so both engines agree to the digit. Shape:
    // one narrow aggregate over sources + a 1-row totals cross join —
    // the O(sources) tail of a 100 TB token-count scan. The derivation
    // lives in [[mixRates]], shared with q_mix_sample so the planning
    // and application queries can never describe different mixtures.
    "q_mix_weights" -> ((s, dir) =>
      mixRates(s, dir)
        .select("source", "n_docs", "tokens", "weight", "share_pm",
          "desired_tokens", "rate_pm")
        .orderBy("source")),

    // Token-length histogram in power-of-two buckets — the corpus-
    // reporting view behind sequence-length budgeting (packing
    // efficiency, truncation rates). The bucket index is the binary
    // bit-length (length(bin(n)) = ⌊log₂ n⌋ + 1 — pure integer, no
    // float log whose exactness differs at power-of-two boundaries);
    // the bucket's lower bound re-derives via an integer shift. One
    // narrow projection + one tiny hash aggregate.
    // Feature hashing (the "hashing trick", Weinberger et al.
    // ICML'09) — fixed-width bag-of-words vectors with NO vocabulary
    // table: a token's bucket is a hash, so the feature space is
    // 16-dimensional regardless of vocabulary size and new tokens
    // never require re-fitting — the property that lets a 100 TB
    // featurization run as one stateless projection + one per-doc
    // aggregate (no vocab broadcast, no dictionary join, unlike
    // TF-IDF). The dense vector builds as 16 conditional sums in ONE
    // hash aggregate — never a sparse-to-dense pivot join. md5-derived
    // buckets keep both engines bit-identical.
    "q_feature_hashing" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("bucket", expr(
          "CAST(conv(substring(md5(tok), 1, 2), 16, 10) AS BIGINT) % 16"))
      toks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          concat_ws("|", (0 to 15).map(b =>
            sum(when(col("bucket") === b, 1L).otherwise(0L))): _*).as("fv"))
        .orderBy("doc_id")
    }),

    // Zipf-exponent fit over the corpus's BIGRAM-frequency distribution
    // — the corpus-statistics check behind tokenizer sizing and
    // quality monitoring (a crawl slice whose slope drifts is
    // boilerplate- or spam-heavy). Bigrams, not unigrams: the fixture
    // generator draws from a closed 31-token vocabulary, so the
    // unigram histogram is a degenerate 2 levels (measured), while
    // bigram counts span 5–6 — the statistic needs a vocabulary that
    // GROWS with data, which is also true of real tokenized corpora.
    // The scale discipline is q_budget_select's bounded histogram
    // applied to a REGRESSION: never rank the vocabulary globally (a
    // vocab-wide window is 100M+ rows at 100 TB) — bucket frequencies
    // by floor-log2 (≤ 64 levels by construction), take the cumulative
    // grams-with-count≥2^ℓ curve over that bounded frame, and fit
    // log2–log2 least squares on ≤ 64 points. Under a power law the
    // curve is linear with slope −1/s. Every input to the fit is
    // INTEGER (floor-log2 via bin() bit-length on both engines — the
    // q_bm25 IDF discipline), so the only floating-point step is the
    // final slope division: bit-identical across engines, rounded once.
    "q_zipf_fit" -> ((s, dir) => {
      val tf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(explode(expr(
          """transform(slice(w, 1, greatest(size(w) - 1, 0)),
            |  (x, i) -> concat(x, ' ', element_at(w, i + 2)))""".stripMargin))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .transform(QueryCaches.cache(_)) // histogram + vocab count
      val hist = tf.groupBy(expr("CAST(length(bin(c)) - 1 AS BIGINT)").as("lvl"))
        .agg(count(lit(1)).as("n"))
      // ≤64-row frame: the single-partition window is bounded by the
      // log2 domain, not by the data
      val wl = Window.orderBy(col("lvl").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = hist.withColumn("cum", sum("n").over(wl))
        .select(col("lvl").as("x"),
          expr("CAST(length(bin(cum)) - 1 AS BIGINT)").as("y"))
      val fit = pts.agg(count(lit(1)).as("m"), sum("x").as("sx"),
        sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      tf.agg(count(lit(1)).as("n_vocab"))
        .crossJoin(broadcast(fit))
        .select(col("n_vocab"), col("m").as("n_levels"),
          round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("m") * col("sxx") - col("sx") * col("sx")), 4).as("slope"))
    }),

    // PMI collocation detection (Church–Hanks association ratio):
    // which adjacent token pairs co-occur MORE than their margins
    // predict — the measure behind multiword-expression extraction,
    // tokenizer merge seeding, and phrase-table pruning. ONE corpus
    // pass builds the bigram count table (HOF transform once →
    // explode → hash agg, the q_zipf_fit kernel); margins (c_x as
    // left-position count, c_y as right) and the grand total N are
    // RE-AGGREGATIONS of that table — a frame bounded by vocab², so
    // the "second and third passes" never touch the corpus. The
    // association statistic is floor(c_xy·N / (c_x·c_y) · 10⁶): both
    // int64 products are cast to double BEFORE the division, and both
    // engines evaluate the identical IEEE expression tree, so the
    // floored per-million ratio (monotone in PMI) is hash-stable
    // without the overflow a pure-integer c·N·10⁶ product would hit
    // at scale fixtures. min-support 5 kills the hapax noise floor
    // PMI is notorious for.
    "q_collocations" -> ((s, dir) => {
      val bgc = s.read.parquet(s"$dir/documents.parquet")
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          """transform(slice(w, 1, greatest(size(w) - 1, 0)),
            |  (x, i) -> named_struct('x', x, 'y', element_at(w, i + 2)))"""
            .stripMargin)).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("c"))
        .transform(QueryCaches.cache(_)) // four consumers (two margin
      // aggs, the total, the final join) over a corpus-pass lineage —
      // recomputing would re-run the HOF explode per consumer
      val lx = bgc.groupBy("x").agg(sum("c").as("cx"))
      val ry = bgc.groupBy("y").agg(sum("c").as("cy"))
      val nb = bgc.agg(sum("c").as("nb"))
      bgc.join(lx, "x").join(ry, "y").crossJoin(broadcast(nb))
        .filter(col("c") >= 5)
        .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
          col("c").as("c_xy"),
          floor((col("c") * col("nb")).cast("double")
            / (col("cx") * col("cy")).cast("double") * lit(1000000.0))
            .cast("bigint").as("ratio_pm"))
        .orderBy(col("ratio_pm").desc, col("bigram"))
        .limit(20)
    }),

    // Skip-gram co-occurrence harvesting (the word2vec/GloVe training-
    // pair extraction step): positionally-ordered token pairs within a
    // forward window of 2, distance-weighted GloVe-style — but with
    // the 1/d weights kept INTEGER by scaling ×2 (d=1 → 2, d=2 → 1),
    // so the weighted totals are engine-exact. HOF-once discipline:
    // a single transform emits both forward offsets per position
    // (try_element_at is the ANSI-safe out-of-bounds guard), then
    // everything downstream is codegen'd explode + one hash aggregate.
    // No positional self-join (the q_phrase_search lesson: HOF-once
    // beat the posting self-join 0.80 vs 1.06 s) — the oracle DOES
    // use the self-join, which doubles as plan-independence evidence.
    "q_skipgram" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          """flatten(transform(w, (x, i) -> array(
            |  named_struct('w1', x, 'w2', try_element_at(w, i + 2), 'wt', 2),
            |  named_struct('w1', x, 'w2', try_element_at(w, i + 3), 'wt', 1))))"""
            .stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
          col("p.wt").cast("bigint").as("wt"))
        .filter(col("w2").isNotNull)
        .groupBy("w1", "w2")
        .agg(count(lit(1)).as("n_cooc"), sum("wt").as("w2x"))
        .orderBy(col("w2x").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Model-based quality scoring — the classifier-inference step of a
    // FineWeb/CCNet-style pipeline (a trained linear model scores every
    // document; the corpus keeps what clears the threshold). The scale
    // shape is the point: the model is a BOUNDED weights table (one row
    // per hashed feature bucket — here 256, a real fastText-style
    // model's a few million, still broadcastable), inference is
    // explode → bucket-hash → broadcast join → ONE partially-aggregated
    // per-doc sum. No vocabulary shuffle, no per-doc UDF — scoring
    // 100 TB is a map-side join plus a doc_id-keyed hash aggregate.
    // Weights are a deterministic stub standing in for trained
    // parameters (the multimodal deterministic-fake precedent),
    // deliberately NON-NEGATIVE (0..200): score_pm = wsum·10⁴ div
    // n_toks must divide identically in both engines, and Spark's
    // `div` truncates toward zero while DuckDB's `//` floors — they
    // agree only on non-negative operands. Threshold = the weight
    // mean's per-myriad (10⁶), so `kept` splits the corpus
    // nontrivially.
    "q_classifier_score" -> ((s, dir) => {
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
        .withColumn("score_pm", expr("wsum * 10000 div n_toks"))
        .withColumn("kept", col("score_pm") >= 1000000L)
        .select("doc_id", "n_toks", "score_pm", "kept")
        .orderBy("doc_id")
    }),

    // Classifier EVALUATION — the confusion-matrix / precision-recall
    // step that closes the model-based-filtering loop (score → gate →
    // measure against a trusted label). Truth here is the stopword-
    // density weak label (the q_budget_select quality signal); the
    // prediction is q_classifier_score's gate verbatim. The label is
    // computed in its own NARROW per-doc projection and equi-joined
    // back on doc_id (the q_calibration_bins r15 shape, applied here
    // in r16): the earlier carried form — label in the same projection
    // that explodes the tokens — re-evaluates the stopword HOF per
    // exploded token row, a ~5× real cost (3.6 s vs 0.65 s at sf0.1)
    // that the bench's old count() action MASKED for this query
    // because a global-aggregate tail prunes to a constant under
    // count() (the r15 Part-8 "two execution modes" mystery — see
    // Bench.consume and ROUND16_NOTES). The 4-cell matrix plus all
    // ratio metrics re-aggregate the per-doc frame. Metrics are
    // integer per-mille with nullif guards, so a degenerate corpus
    // yields NULLs instead of an ANSI divide-by-zero.
    "q_confusion_matrix" -> ((s, dir) => {
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      val truthDf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("""CAST(size(filter(split(text, ' '),
            |  t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
            |div CAST(size(split(text, ' ')) AS BIGINT) >= 500""".stripMargin)
            .as("truth"))
      val perDoc = scored.join(truthDf, "doc_id")
        .withColumn("pred", expr("wsum * 10000 div n_toks") >= 1000000L)
      perDoc.agg(
          sum(when(col("truth") && col("pred"), 1L).otherwise(0L)).as("tp"),
          sum(when(!col("truth") && col("pred"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("truth") && !col("pred"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("truth") && !col("pred"), 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 1000 div nullif(tp + fp, 0)").as("prec_pt"),
          expr("tp * 1000 div nullif(tp + fn, 0)").as("rec_pt"),
          expr("2 * tp * 1000 div nullif(2 * tp + fp + fn, 0)").as("f1_pt"),
          expr("(tp + tn) * 1000 div nullif(tp + tn + fp + fn, 0)")
            .as("acc_pt"))
    }),

    // Token burstiness (Church & Gale) — the cf/df statistic that
    // separates topical keywords from function words: a bursty token
    // concentrates its occurrences in few documents (high mean count
    // per CONTAINING doc, high repeat rate), a function word spreads
    // evenly. ONE tokenize pass to the (doc, tok) count table; cf,
    // df, and the repeat-doc count are margins of that single hash
    // aggregate — the corpus is never re-scanned. burst_pm =
    // cf·1000 div df (mean per-mille occurrences per containing
    // doc), repeat_pm = docs-with-≥2 ·1000 div df. Top 20 by
    // burstiness among tokens in ≥10 docs (the df floor kills the
    // hapax noise), integer throughout.
    "q_token_burstiness" -> ((s, dir) => {
      val dt = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      dt.groupBy("tok")
        .agg(sum("c").as("cf"), count(lit(1)).as("df"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("repeat_docs"))
        .filter(col("df") >= 10)
        .select(col("tok"), col("cf"), col("df"),
          expr("cf * 1000 div df").as("burst_pm"),
          expr("repeat_docs * 1000 div df").as("repeat_pm"))
        .orderBy(col("burst_pm").desc, col("tok"))
        .limit(20)
    }),

    // Hierarchical top-k merge — the distributed top-k primitive
    // (per-shard top-k unioned, then merged globally) plus its
    // CORRECTNESS AUDIT: which exact global top-10 tokens would a
    // top-5-per-source pre-prune have missed (in_merged = false is
    // the pruning-error witness; a token can rank globally while
    // sitting 6th everywhere). The per-source rank filter is the
    // WindowGroupLimit shape (bounded map-side before the exchange —
    // the q_sample_per_group audit); the exact global top-10 is a
    // TakeOrdered limit, never a global row_number window. The
    // (source, tok) count table is cached: two consumers with
    // different exchanges (per-source window vs global tok
    // aggregate) over a corpus-explode lineage, and the frame itself
    // is vocab-bounded — the paying configuration on all counts.
    "q_topk_merge" -> ((s, dir) => {
      val tc = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .transform(QueryCaches.cache(_))
      val w = Window.partitionBy("source").orderBy(col("c").desc, col("tok"))
      val localTop = tc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5).select("tok").distinct()
      tc.groupBy("tok").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("tok")).limit(10)
        .join(localTop.withColumn("in_merged", lit(true)), Seq("tok"), "left")
        .select(col("tok"), col("n"),
          coalesce(col("in_merged"), lit(false)).as("in_merged"))
        .orderBy(col("n").desc, col("tok"))
    }),

    // RAKE keyword extraction (Rose et al.) — candidate phrases are
    // the maximal stopword-free token runs; a word scores degree/
    // frequency over the whole corpus and a phrase scores the sum of
    // its words. The segmentation trick: doubling every space first
    // makes ' stopword ' delimiters NON-OVERLAPPING even for adjacent
    // stopwords ("of the" — each match still leaves one space for its
    // neighbor), so one regex split segments exactly, with identical
    // leftmost-first semantics in Java regex and RE2. Corpus passes:
    // one segmentation (HOF once, explode) feeding BOTH the word-stat
    // aggregate and the phrase-instance aggregate; the scoring join
    // runs on the distinct-phrase frame (bounded by the phrase vocab)
    // against the broadcast-size word table. deg·1000 div freq is
    // non-negative integer per-mille, so the phrase score is exact.
    "q_keyword_rake" -> ((s, dir) => {
      val segs = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(
          concat(lit(" "), regexp_replace(col("text"), " ", "  "), lit(" ")),
          " (?:the|a|of|and|in) ")).as("seg"))
        .select(expr("filter(split(trim(seg), '  +'), x -> x != '')")
          .as("ws"))
        .filter(size(col("ws")).between(1, 4))
        .select(col("ws"), array_join(col("ws"), " ").as("phrase"))
      // NOT cached — measured PARITY at sf0.1 (5-pass mini-suite:
      // cached 0.502/0.445 med/min vs uncached 0.510/0.446). Two
      // consumers, but the lineage (scan → regex split → explode →
      // HOF) is shuffle-free codegen, so recompute is as cheap as the
      // materialization barrier — and uncached removes a Θ(corpus)
      // storage frame at 100 TB. The q_freq_itemsets rule again.
      val wstats = segs
        .select(explode(col("ws")).as("w"), size(col("ws")).cast("bigint")
          .as("plen"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("wscore_pm", expr("deg * 1000 div freq"))
      val support = segs.groupBy("phrase").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
      support
        .select(col("phrase"), col("support"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(wstats.select("w", "wscore_pm"), "w")
        .groupBy("phrase", "support")
        .agg(sum(col("wscore_pm")).as("score_pm"))
        .orderBy(col("score_pm").desc, col("phrase"))
        .limit(20)
    }),

    // Sparse lexical kNN — all-pairs document similarity over an
    // INVERTED INDEX of rare bigram features (the tf-idf-weighted
    // sparse counterpart of the dense-embedding ANN pack; the classic
    // Bayardo all-pairs shape). The scale bound IS the df window:
    // terms must appear in ≥2 docs (df=1 can't pair) and at most
    // min(max(N/100, 5), 100) docs — rare-feature blocking, and the
    // high-idf terms the window keeps are exactly the ones that
    // dominate the dot product anyway. The ABSOLUTE clamp at 100 is
    // load-bearing: "rare" must mean rare in absolute terms, because
    // a ceiling that scales with N lets per-term pair fan-out grow as
    // (N/100)² — measured at the 10× fixture before the clamp,
    // 1.45 s (sf0.1) → 103 s (10×), a 71× superlinear blow-up (the
    // relative cap had widened past every per-copy df). Clamped, the
    // posting self-join is ≤ 100² per term, linear in the term count —
    // 10× re-measured 103 → 4.4 s median (min 3.2, 3-pass isolated),
    // the residual being the linear bigram-tokenize pass.
    // Weights are integer tf·idf with q_bm25's
    // bit-length idf, so the dot is int64-exact. The posting frame is
    // NOT cached: its lineage (scan → HOF bigrams → one hash agg)
    // recomputes inside codegen cheaper than materializing a
    // Θ(corpus-bigrams) string frame — the q_freq_itemsets lesson
    // (docs/ROUND14_NOTES.md: cached 3.6 s vs uncached 1.2 s on the same
    // shape), and ReuseExchange dedupes the self-join's two sides.
    "q_sparse_knn" -> ((s, dir) => {
      val bg = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), explode(expr(
          """transform(slice(w, 1, greatest(size(w) - 1, 0)),
            |  (x, i) -> concat(x, ' ', element_at(w, i + 2)))"""
            .stripMargin)).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val nd = s.read.parquet(s"$dir/documents.parquet")
        .agg(count(lit(1)).as("nd"))
      val keep = bg.groupBy("t").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nd))
        .filter(col("df") >= 2 &&
          col("df") <= expr("least(greatest(nd div 100, 5), 100)"))
        .withColumn("idf_b", expr(
          "CAST(length(bin((2*nd - 2*df + 1) * 1048576 div (2*df + 1))) AS BIGINT)"))
        .select("t", "idf_b")
      val post = bg.join(keep, "t")
        .select(col("t"), col("doc_id"), (col("tf") * col("idf_b")).as("wt"))
      post.as("a").join(post.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"), sum(expr("a.wt * b.wt")).as("dot"))
        .orderBy(col("dot").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // Chi-square independence test on the source × lang contingency —
    // "is language distribution independent of crawl source", the
    // stratification sanity check a mixture designer runs before
    // trusting per-source language quotas. ONE corpus-pass hash
    // aggregate builds the cell table (bounded by |sources|·|langs|,
    // so it is CACHED: four consumers — two margins, the total, the
    // final join — would each otherwise re-scan the corpus); margins
    // and N are re-aggregations of that bounded frame. The per-cell
    // statistic uses the N-scaled identity (o − rt·ct/N)²/(rt·ct/N)
    // = (o·N − rt·ct)²/(N·rt·ct): the int64 difference is exact (safe
    // to N·o ≈ 9·10¹⁸), squared in DOUBLE with the identical IEEE tree
    // on both engines, floored per-mille PER CELL — the total is then
    // an integer sum of already-floored cells, immune to float
    // summation order.
    "q_chisq_independence" -> ((s, dir) => {
      val cells = s.read.parquet(s"$dir/documents.parquet")
        .groupBy("source", "lang").agg(count(lit(1)).as("o"))
        .transform(QueryCaches.cache(_))
      val rt = cells.groupBy("source").agg(sum("o").as("rt"))
      val ct = cells.groupBy("lang").agg(sum("o").as("ct"))
      val nn = cells.agg(sum("o").as("nn"))
      val dims = cells.agg(countDistinct("source").as("nsrc"),
        countDistinct("lang").as("nlang"))
      val en = cells.join(rt, "source").join(ct, "lang")
        .crossJoin(broadcast(nn))
        .withColumn("e_pt", expr("rt * ct * 1000 div nn"))
        .withColumn("chi_pt", expr(
          """CAST(floor(CAST(o * nn - rt * ct AS DOUBLE)
            |  * CAST(o * nn - rt * ct AS DOUBLE)
            |  / (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
            |  * 1000) AS BIGINT)""".stripMargin))
      en.crossJoin(broadcast(en.agg(sum("chi_pt").as("chi2_total_pt"))))
        .crossJoin(broadcast(dims))
        .select(col("source"), col("lang"), col("o"), col("e_pt"),
          col("chi_pt"), col("chi2_total_pt"),
          expr("(nsrc - 1) * (nlang - 1)").as("dof"))
        .orderBy("source", "lang")
    }),

    // Vocabulary growth curve (Heaps' law): distinct-vocabulary size
    // after 10% / 50% / 100% of the corpus, in doc-id order — the
    // measurement behind "how much NEW vocabulary does more data buy"
    // (tokenizer sizing, dedup-marginal-value, crawl-cutoff decisions).
    // The scalable trick: cumulative distinct counting needs no ordered
    // accumulation — a token contributes to checkpoint c iff its FIRST
    // occurrence (min doc_id, one hash aggregate) is ≤ c, so the whole
    // curve is one conditional aggregate over the first-seen table.
    // Checkpoints derive from max(doc_id) (scale-free); all three
    // corpus passes are single hash aggregates, and the only joins are
    // 1-row broadcast bounds.
    "q_vocab_growth" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val toks = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val firstSeen = toks.groupBy("tok").agg(min("doc_id").as("first_doc"))
      val bounds = docs.agg(max("doc_id").as("mx"))
      def cuts(df: DataFrame, idCol: String, p: String) =
        df.crossJoin(broadcast(bounds)).agg(
          sum(when(col(idCol) <= expr("floor(mx * 0.1)"), 1L).otherwise(0L))
            .as(s"${p}1"),
          sum(when(col(idCol) <= expr("floor(mx * 0.5)"), 1L).otherwise(0L))
            .as(s"${p}5"),
          count(lit(1)).as(s"${p}x"))
      cuts(docs, "doc_id", "d")
        .crossJoin(cuts(toks, "doc_id", "t"))
        .crossJoin(cuts(firstSeen, "first_doc", "v"))
        .selectExpr(
          """stack(3,
            |  CAST(0.1 AS DOUBLE), d1, t1, v1,
            |  CAST(0.5 AS DOUBLE), d5, t5, v5,
            |  CAST(1.0 AS DOUBLE), dx, tx, vx
            |) AS (frac, n_docs, n_tokens, vocab)""".stripMargin)
        .orderBy("frac")
    }),

    "q_token_histogram" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(expr("size(split(text, ' '))").cast("bigint").as("toks"))
        .withColumn("bucket_bits", length(bin(col("toks"))).cast("bigint"))
        .groupBy("bucket_bits")
        .agg(count(lit(1)).as("n_docs"), min(col("toks")).as("min_toks"),
          max(col("toks")).as("max_toks"), sum(col("toks")).as("sum_toks"))
        .withColumn("bucket_lo",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket_bits AS INT) - 1)"))
        .select("bucket_bits", "bucket_lo", "n_docs", "min_toks",
          "max_toks", "sum_toks")
        .orderBy("bucket_bits")),

    // IQR length gate: per language, keep documents whose token count
    // lies within [P25, P75] — the outlier-trimming curation step
    // (truncated docs and boilerplate walls both live in the tails).
    // Quantiles are EXACT interpolated percentiles at dyadic
    // probabilities (0.25/0.75 → the rank fraction h = (n−1)·p and the
    // interpolation weight are exact binary fractions over integer
    // token counts, so Spark's percentile() and DuckDB's
    // quantile_cont() agree to the bit — 0.1/0.9 would not). The
    // per-lang quantile table is O(langs) and broadcast back.
    "q_length_filter" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          expr("size(split(text, ' '))").cast("bigint").as("toks"))
      val qs = docs.groupBy("lang").agg(
        expr("percentile(toks, 0.25)").as("p25"),
        expr("percentile(toks, 0.75)").as("p75"))
      docs.join(broadcast(qs), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("toks") >= col("p25") && col("toks") <= col("p75"), 1L)
            .otherwise(0L)).as("n_kept"),
          round(max(col("p25")), 4).as("p25"),
          round(max(col("p75")), 4).as("p75"))
        .orderBy("lang")
    }),

    // Mixture sampling: APPLY the q_mix_weights rates with a
    // deterministic content-hash gate (md5 of the doc id, 4 hex digits
    // mod 10⁴ against the per-myriad rate) — reproducible across runs,
    // engines, and cluster sizes, which rand()-based sampling is not.
    // The rate table is O(sources) and broadcast; the doc scan keeps
    // one narrow projection and aggregates per source — one shuffle.
    "q_mix_sample" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          expr("size(split(text, ' '))").cast("bigint").as("toks"))
      val rates = mixRates(s, dir).select("source", "rate_pm")
      docs.join(broadcast(rates), "source")
        .withColumn("h", expr(
          "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10000"))
        .groupBy("source")
        .agg(max(col("rate_pm")).as("rate_pm"),
          count(lit(1)).as("n_docs"),
          sum(when(col("h") < col("rate_pm"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("h") < col("rate_pm"), col("toks")).otherwise(0L)).as("kept_tokens"))
        .orderBy("source")
    }),

    // Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    // Spirakis A-ES): per doc, priority = −ln(u)/w with u hash-uniform
    // and w the token count; the k smallest priorities are a weighted
    // sample without replacement — exactly the reproducible "sample
    // long documents proportionally more" draw a mixture pipeline
    // needs, with no global RNG state and no sequential pass. Shape:
    // narrow projection + broadcast 10⁴-row ln dim + global top-k
    // (TakeOrderedAndProject — a per-partition running top-k, never a
    // full sort) — at 100 TB the only cross-partition traffic is k
    // rows per partition. u is the md5-myriad idiom shared with
    // q_mix_sample. −ln(u) is NOT computed at runtime: u takes only
    // 10⁴ distinct values, so the scaled-integer table
    // [[lnMyriadScaled]] is materialized once (builder-side,
    // StrictMath) and both this query and the oracle consume the SAME
    // integer literals — the rank key lnu/w divides identical int64s
    // in both engines (IEEE division of equal inputs is bit-equal), so
    // cross-engine order never depends on libm's ln.
    "q_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      val lntab = broadcast(lnMyriadScaled.zipWithIndex
        .map { case (l, h) => (h.toLong, l) }.toDF("h", "lnu_p12"))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"),
          expr("size(split(text, ' '))").cast("bigint").as("w"))
        .withColumn("h",
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 10000"))
        .join(lntab, "h")
        .withColumn("priority", col("lnu_p12") / col("w"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("source"), col("w"),
          round(col("priority") / lit(1e9), 6).as("priority_milli"))
    }),

    // Passage-overlap discovery: which document PAIRS share local
    // content, found through the winnowing fingerprints as an inverted
    // index — the passage-level complement to whole-doc MinHash (a doc
    // quoting half of another shares half its fingerprints but little
    // whole-doc Jaccard). Shape: fingerprint explode → document-
    // frequency cap (fingerprints in > 50 docs are boilerplate and
    // would each contribute O(df²) candidate pairs — the posting-list
    // cap every inverted index applies) → equi-join on the fingerprint
    // (never a doc product) → per-pair shared-count ≥ 10. At 100 TB
    // the fingerprint is the shuffle key and per-key fan-out is bounded
    // by the df cap, so candidate volume scales with content overlap,
    // not corpus size².
    // r13 forced-broadcast audit: this query carries NO broadcast hint
    // — the df cap is applied as a keep-set (df ≤ 50) INNER join on
    // the fingerprint key, not a materialized drop-set broadcast, so
    // there is nothing here that can hard-fail the 8 GB limit; the
    // planner/AQE own every join strategy below. (The audit's two real
    // findings, q_containment's dropSh and q_graph_kcore's peel set,
    // were de-hinted with measured parity — see DedupQueries.)
    "q_passage_overlap" -> ((s, dir) => {
      graft.plans.TextKernels.register(s)
      // NOT spread (r20: the one VALID same-session A/B read off
      // 0.40×/0.36× — a Spread.ifNarrow here made the query 2.5×
      // slower, the round's clearest counter-example; see
      // OPTIMIZATION_r20.md §2 for the mechanism).
      val fps = QueryCaches.cache(
        Corpus.withDuplicates(s, dir)
          .select(col("doc_id"),
            explode(expr("fingerprint_set(text)")).as("fp")))
      val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50)
        .select("fp")
      // pruned is UNCACHED (r13 §8 lens): its only consumer is the
      // pair self-join below, whose two sides ReuseExchange computes
      // once — measured parity on removal (5-pass minima 1.090 → 1.127,
      // inside neighbor jitter). fps STAYS cached: its consumers (the
      // df aggregate + the join probe) need different exchanges.
      val pruned = fps.join(rare, "fp")
      // shuffle-hash: per-fingerprint buckets are small (df ≤ 50) and
      // the pair agg re-shuffles anyway, so SMJ's sort buys nothing
      pruned.as("a").hint("shuffle_hash").join(pruned.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 10)
        .orderBy("doc_a", "doc_b")
    }),

    // Winsorized length statistics per source — the outlier-robust
    // scaling step a curation pipeline runs before length-based
    // filtering or mixture budgeting: clamp each doc's token count at
    // the source's EXACT rank-defined p05/p95 and report the clamped
    // total/mean. The scale trick is the q_weighted_median /
    // q_interval_concurrency discipline: the corpus is reduced FIRST
    // by one map-combinable aggregate to the (source × token-count)
    // VALUE HISTOGRAM — bounded by the token-count DOMAIN (≤ max doc
    // length, 91 distinct values on this fixture), not by rows — and
    // every rank computation, including the clamped sum (Σ c(v) ·
    // clamp(v, lo, hi)), runs on that bounded frame; the raw docs are
    // never revisited. Percentile-disc semantics: p_k = min v with
    // cum(v) ≥ ceil(k·n), exact and engine-identical in integers.
    "q_winsorize" -> ((s, dir) => {
      val hist = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("v"))
        .groupBy("source", "v").agg(count(lit(1)).as("c"))
      // bounded frame from here down: |sources| x |distinct lengths|
      val wCum = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("source")
      val cuts = hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("lo_rank", expr("(n * 5 + 99) div 100"))
        .withColumn("hi_rank", expr("(n * 95 + 99) div 100"))
        .groupBy("source")
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") >= col("lo_rank"), col("v"))).as("p05_toks"),
          min(when(col("cum") >= col("hi_rank"), col("v"))).as("p95_toks"))
      hist.join(cuts, "source")
        .groupBy(col("source"), col("n_docs"),
          col("p05_toks"), col("p95_toks"))
        .agg(sum(expr("c * greatest(least(v, p95_toks), p05_toks)"))
          .as("win_total_toks"))
        .withColumn("win_mean_c", expr("win_total_toks * 100 div n_docs"))
        .select("source", "n_docs", "p05_toks", "p95_toks",
          "win_total_toks", "win_mean_c")
        .orderBy("source")
    }),

    // Interpolated Kneser–Ney bigram probabilities — the smoothing
    // behind every count-based n-gram LM a data pipeline still ships
    // (quality scoring, contamination LMs, tokenizer evaluation):
    // P(w2|w1) = max(c12 − D, 0)/c1 + (D·r1(w1)/c1)·Pcont(w2), with
    // the absolute discount D = n1/(n1 + 2n2) (Ney–Essen–Kneser) and
    // the CONTINUATION probability Pcont(w2) = |{w1 : c12 > 0}| / |{
    // distinct bigram types}| — the part that makes KN better than
    // Katz (a word seen in many CONTEXTS, not often, carries the
    // back-off mass). All integer per-myriad with the identical
    // floor-division chain in both engines: p_kn_pm =
    // max(c12·10⁴ − D_pm, 0) div c1 + ((D_pm·r1 div c1)·cont_pm)
    // div 10⁴. Shape: ONE corpus tokenize+count to the bigram TYPE
    // frame (map-side combinable; cached — four consumers, each
    // otherwise a shuffle-bearing recompute), margins and corpus
    // constants re-aggregate that frame, equi-joins on w1/w2 over
    // type frames (sublinear in the corpus), broadcast 1-row consts.
    "q_kn_smoothing" -> ((s, dir) => {
      val bg = QueryCaches.cache(
        s.read.parquet(s"$dir/documents.parquet")
          .select(expr(
            """element_at(transform(array(split(text, ' ')), w ->
              |  transform(slice(w, 1, greatest(size(w) - 1, 0)),
              |    (x, i) -> struct(x AS w1, element_at(w, i + 2) AS w2))),
              |1)""".stripMargin).as("bgs"))
          .select(explode(col("bgs")).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
      val left = bg.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("r1"))
      val cont = bg.groupBy("w2").agg(count(lit(1)).as("nleft"))
      // Discount guard: on this fixture's CLOSED ~31-token vocabulary
      // the count-1/count-2 bigram bands EMPTY as the corpus grows (at
      // sf0.1 every bigram type has c12 ≥ 3 — the same degeneracy that
      // pushed q_good_turing to trigrams), leaving n1/(n1+2n2)
      // undefined; the literature default D = 0.75 (7500 pm) applies
      // when the count-of-counts estimate is unavailable. nullif +
      // coalesce keeps both engines on the identical arithmetic.
      val consts = bg.agg(
        count(lit(1)).as("tt"),
        sum(when(col("c12") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c12") === 2L, 1L).otherwise(0L)).as("n2"))
        .withColumn("d_pm",
          expr("coalesce(n1 * 10000 div nullif(n1 + 2 * n2, 0), 7500)"))
      bg.filter(col("c12") >= 5L)
        .join(left, "w1")
        .join(cont, "w2")
        .crossJoin(broadcast(consts))
        .withColumn("cont_pm", expr("nleft * 10000 div tt"))
        .withColumn("p_kn_pm", expr(
          """greatest(c12 * 10000 - d_pm, 0) div c1
            | + ((d_pm * r1 div c1) * cont_pm) div 10000""".stripMargin))
        .select("w1", "w2", "c12", "p_kn_pm")
        .orderBy("w1", "w2")
    }),

    // Deterministic Poisson-bootstrap confidence interval for the
    // corpus mean token count — the uncertainty a curation report
    // should attach to any sampled statistic. The classic driver-side
    // resample is replaced by the DISTRIBUTED Poisson bootstrap
    // (Chamandy et al.): each doc enters replica b with multiplicity
    // drawn from Poisson(1), here realized as the md5-myriad hash of
    // (doc_id, b) against the 10⁴-scaled Poisson CDF (3679/7358/9197/
    // 9810 — the q_dp_noise discretization discipline), so both
    // engines draw identical replicas and the numbers are
    // re-derivable in a review. Shape: one explode by the CONSTANT
    // B = 100 (linear, map-side combinable straight to ≤ B groups),
    // one B-row frame for the order statistics — the global
    // rank-5/rank-95 window runs on exactly 100 rows (constant,
    // BoundedFrames-registered). Means are exact integer x100.
    "q_bootstrap_ci" -> ((s, dir) => {
      val reps = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("v"))
        .select(col("doc_id"), col("v"),
          explode(expr("sequence(0, 99)")).as("b"))
        .withColumn("u", expr(
          "CAST(conv(substring(md5(concat(doc_id, '_', b)), 1, 4), 16, 10) AS BIGINT) % 10000"))
        .withColumn("m", expr(
          """CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
            |     WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
            |     ELSE 4 END""".stripMargin))
        .groupBy("b")
        .agg(sum(expr("m * v")).as("wsum"), sum(col("m")).as("wn"))
        .withColumn("mean_x100", expr("wsum * 100 div nullif(wn, 0)"))
      // Order statistics sort by coalesce(mean, -1): a replica whose every
      // multiplicity drew 0 has NULL mean, and Spark sorts NULLs first while
      // DuckDB sorts them last — pinning NULL below every real (non-negative)
      // mean makes the rank-5/95 picks engine-identical by construction.
      val ranked = reps.withColumn("rk",
        row_number().over(
          Window.orderBy(expr("coalesce(mean_x100, -1)"), col("b"))))
      val point = s.read.parquet(s"$dir/documents.parquet")
        .agg(expr("sum(CAST(size(split(text, ' ')) AS BIGINT)) * 100 div count(1)")
          .as("point_x100"), count(lit(1)).as("n_docs"))
      ranked.agg(
          min(when(col("rk") === 5L, col("mean_x100"))).as("lo_x100"),
          min(when(col("rk") === 95L, col("mean_x100"))).as("hi_x100"))
        .crossJoin(broadcast(point))
        .select("n_docs", "point_x100", "lo_x100", "hi_x100")
    }),

    // Rank-biased overlap (Webber et al. 2010) between two retrieval
    // rankings — the top-weighted eval that compares ranked lists a
    // retrieval pipeline A/Bs (here raw term frequency vs
    // length-normalized density, per probe term): RBO_p =
    // (1−p) Σ_d p^{d−1}·|A_d ∩ B_d|/d, p = 0.9, truncated at k = 10.
    // Integer end-to-end via builder-materialized tables both engines
    // consume as identical literals (the lnMyriadScaled discipline):
    // pw(d) = round(0.9^{d−1}·10¹²) and its per-depth suffix sums
    // sfx(m) = Σ_{d=m..10} pw(d) div d — a doc first co-present at
    // depth m = max(rankA, rankB) contributes sfx(m), so the whole
    // sum needs only ONE join of the two ≤10-row-per-term top lists.
    // Scale shape: the per-term top-10s come from rank-limited
    // windows (WindowGroupLimit — partial top-k map-side, reducers
    // see ≤ k·tasks rows), the doc-length normalizer is the narrow
    // per-doc join (the q_confusion_matrix r16 lesson), and
    // everything after the top-k is ≤ 10·|terms| rows.
    "q_rank_biased_overlap" -> ((s, dir) => {
      val terms = Seq("the", "a", "of", "and", "in")
      val pw = (1 to 10).map(d =>
        math.round(StrictMath.pow(0.9, d - 1) * 1e12))
      val sfx = (1 to 10).map(m => (m to 10).map(d => pw(d - 1) / d).sum)
      val lens = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"))
      val tf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
        .join(lens, "doc_id")
        .withColumn("density_pm", expr("tf * 10000 div n_toks"))
        .transform(QueryCaches.cache(_)) // two rank-limited consumers
      def topk(order: org.apache.spark.sql.Column, rc: String) =
        tf.withColumn(rc, row_number().over(
            Window.partitionBy("tok").orderBy(order, col("doc_id"))))
          .filter(col(rc) <= 10)
          .select(col("tok"), col("doc_id"), col(rc))
      val ra = topk(col("tf").desc, "ra")
      val rb = topk(col("density_pm").desc, "rb")
      ra.join(rb, Seq("tok", "doc_id"))
        .withColumn("sfx", element_at(
          array(sfx.map(lit): _*),
          expr("CAST(greatest(ra, rb) AS INT)")))
        .groupBy(col("tok").as("term"))
        .agg(count(lit(1)).as("n_common"),
          expr("sum(sfx) div 10").as("rbo_p12"))
        .orderBy("term")
    }),

    // Exact two-sample Kolmogorov–Smirnov distance, each source vs
    // the whole corpus, over the doc token-length distribution — the
    // distribution-drift test a curation pipeline runs per crawl
    // slice ("did src7's length profile move?"). All integer: both
    // CDFs are evaluated on the shared bounded VALUE GRID (distinct
    // token counts — the q_winsorize histogram discipline), and the
    // sup statistic compares cross-multiplied step heights
    // |cum_s·n_all − cum_all·n_s| so no division happens until the
    // final per-myriad report. The grid is |sources| × |distinct
    // lengths| — bounded by the length DOMAIN, not the corpus — so
    // everything after one corpus aggregate is flat at 100 TB.
    // argmax_v is the smallest v attaining the sup (deterministic).
    "q_ks_test" -> ((s, dir) => {
      val lens = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("v"))
      val hist = lens.groupBy("source", "v").agg(count(lit(1)).as("c"))
        .transform(QueryCaches.cache(_)) // grid + corpus margins
      val vals = hist.select("v").distinct()
      val srcs = hist.groupBy("source").agg(sum("c").as("n_s"))
      val corpus = hist.groupBy("v").agg(sum("c").as("c_all"))
      val grid = srcs.crossJoin(vals) // bounded: |sources| x |lengths|
        .join(hist, Seq("source", "v"), "left_outer")
        .join(corpus, "v")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wCum = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nAll = hist.agg(sum("c").as("n_all"))
      val stepped = grid
        .withColumn("cum_s", sum(col("c")).over(wCum))
        .withColumn("cum_all", sum(col("c_all")).over(wCum))
        .crossJoin(broadcast(nAll))
        .withColumn("diff",
          abs(col("cum_s") * col("n_all") - col("cum_all") * col("n_s")))
      val wSrc = Window.partitionBy("source")
      stepped
        .withColumn("d_raw", max(col("diff")).over(wSrc))
        .filter(col("diff") === col("d_raw"))
        .groupBy(col("source"), col("n_s").as("n_src"), col("d_raw"),
          col("n_all"))
        .agg(min(col("v")).as("argmax_v"))
        .select(col("source"), col("n_src"), col("argmax_v"),
          expr("d_raw * 10000 div (n_src * n_all)").as("d_pm"))
        .orderBy("source")
    }),

    // Population stability index of the classifier-score distribution
    // between the base corpus and the deterministic recrawl slice
    // (doc_id % 4 = 0) — the score-drift monitor that decides when a
    // model-based filter needs recalibration. Fixed 10-bin grid (the
    // q_calibration_bins bands, so the two diagrams share axes);
    // per-myriad bin rates clamped to ≥ 1 (the standard PSI epsilon —
    // an empty bin otherwise makes the index infinite); ln from the
    // shared builder-side table, so contrib_p16 =
    // (p_pm − q_pm)·(L(q_pm) − L(p_pm)) is exact, non-negative by
    // construction (L is decreasing), and hash-stable. Shape: one
    // corpus scoring pass (the q_classifier_score join), one 10-cell
    // aggregate per side, broadcast table lookups — flat at 100 TB.
    "q_psi" -> ((s, dir) => {
      import s.implicits._
      val lntab = broadcast(lnMyriadScaled.zipWithIndex
        .map { case (l, h) => (h.toLong, l) }.toDF("h", "ln_p12"))
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      // NOT spread (r20) — the per-token kernel here is one md5 +
      // broadcast join, and the doc_id partial agg combines map-side
      // into a CACHED frame, the valid-A/B family's losing shape
      // (OPTIMIZATION_r20.md §2); the exchange never pays.
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(expr("sum(w) * 10000 div count(1)").as("score_pm"))
        .withColumn("bin", expr("least(score_pm div 200000, 9)"))
        .transform(QueryCaches.cache(_)) // both sides re-aggregate it
      def side(df: DataFrame, rate: String) = {
        val cnts = df.groupBy("bin").agg(count(lit(1)).as("nb"))
        cnts.crossJoin(broadcast(cnts.agg(sum("nb").as("n"))))
          .select(col("bin"),
            expr("greatest(least(nb * 10000 div n, 9999), 1)").as(rate))
      }
      val base = side(scored, "base_pm")
      val cur = side(scored.filter(col("doc_id") % 4 === 0), "cur_pm")
      val bins = s.range(10).select(col("id").as("bin"))
      val perBin = bins
        .join(base, Seq("bin"), "left_outer")
        .join(cur, Seq("bin"), "left_outer")
        .withColumn("base_pm", coalesce(col("base_pm"), lit(1L)))
        .withColumn("cur_pm", coalesce(col("cur_pm"), lit(1L)))
        .join(lntab.select(col("h").as("base_pm"),
          col("ln_p12").as("l_base")), Seq("base_pm"))
        .join(lntab.select(col("h").as("cur_pm"),
          col("ln_p12").as("l_cur")), Seq("cur_pm"))
        .withColumn("contrib_p16",
          expr("(base_pm - cur_pm) * (l_cur - l_base)"))
      perBin
        .crossJoin(broadcast(
          perBin.agg(sum(col("contrib_p16")).as("psi_p16"))))
        .select("bin", "base_pm", "cur_pm", "contrib_p16", "psi_p16")
        .orderBy("bin")
    }),

    // Good–Turing frequency smoothing — the count-of-counts estimator
    // every n-gram LM leans on: how much probability mass belongs to
    // UNSEEN events, and what an observed count r is really worth
    // (r* = (r+1)·N_{r+1}/N_r, Good 1953; published-formula arithmetic
    // only). Computed over token TRIGRAMS — GT's real habitat (Katz
    // backoff smooths the n-gram tail, never a closed unigram vocab;
    // on this fixture's ~50-word vocabulary every unigram count is
    // ≫ 10, so the unigram band is empty by construction while the
    // trigram space has a ~16k-type low-count tail). INTEGER
    // end-to-end, same discipline as q_lm_score: r* is emitted
    // per-myriad with one floor division, so the oracle hash-matches
    // to the digit. Shape: doc-local HOF trigram expansion (split
    // bound once via the outer-lambda idiom — the Corpus.shingles
    // lesson), one gram-keyed count aggregate (map-side combinable —
    // the only corpus-sized shuffle), then count-of-counts over the
    // BOUNDED |distinct frequencies| frame (≲ O(√corpus grams) rows by
    // the pigeonhole on Σr·N_r), then an r→r+1 self-join on that
    // bounded frame — broadcast-sized at any corpus scale. A missing
    // N_{r+1} means r* = 0 (the estimator's own convention at the
    // tail); the r ≤ 10 band is where GT is actually applied (higher
    // r → Katz switches to raw counts).
    "q_good_turing" -> ((s, dir) => {
      val tris = expr(
        """element_at(transform(array(split(text, ' ')), toks ->
          |  CASE WHEN size(toks) < 3 THEN array()
          |  ELSE transform(sequence(1, size(toks) - 2),
          |    i -> concat_ws('_', element_at(toks, i),
          |      element_at(toks, i + 1), element_at(toks, i + 2)))
          |  END), 1)""".stripMargin)
      val counts = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(tris).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
      val coc = counts.groupBy("c").agg(count(lit(1)).as("n_r"))
      coc.as("a")
        .join(broadcast(coc.as("b")), col("b.c") === col("a.c") + 1,
          "left_outer")
        .filter(col("a.c") <= 10)
        .select(col("a.c").as("r"), col("a.n_r").as("n_r"),
          expr("""(a.c + 1) * coalesce(b.n_r, CAST(0 AS BIGINT)) * 10000
                 | div a.n_r""".stripMargin).as("rstar_pm"))
        .orderBy("r")
    }),

    // Classifier calibration / reliability bins — the third leg of the
    // model-based-filtering eval (q_classifier_score gates,
    // q_confusion_matrix scores the gate; this asks whether the SCORE
    // is monotone in the truth rate, the property a threshold sweep
    // silently assumes). Same classifier and same stopword-density
    // weak label as q_confusion_matrix. Docs are binned by
    // fixed score bands (score_pm div 200000, clamped to 10 bins — a
    // fixed grid, not quantiles, so bin edges are corpus-independent
    // and two corpora's diagrams are comparable), then per bin: count,
    // exact mean score (sum div n — integer), and the observed
    // positive rate per-myriad. Shape: the truth label is computed in
    // its OWN narrow per-doc projection and equi-joined back on
    // doc_id, NOT carried through the token explode — the carried
    // form evaluates the stopword-filter HOF per exploded token row
    // and measured 3.56 s warm min at sf0.1 vs 0.72 s for this join
    // shape (3-pass A/B in ProbeCal; the [[spark-perf-lessons]]
    // HOF-once rule). The join is doc_id-keyed on a per-doc frame the
    // aggregate already produced, so at 100 TB it rides the same key
    // space as the aggregate; AQE broadcasts at fixture scale. Then a
    // ≤10-row bin aggregate.
    "q_calibration_bins" -> ((s, dir) => {
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      val perDoc = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("wsum"))
      val truthDf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("""CAST(size(filter(split(text, ' '),
            |  t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
            |div CAST(size(split(text, ' ')) AS BIGINT) >= 500""".stripMargin)
            .as("truth"))
      perDoc.join(truthDf, "doc_id")
        .withColumn("score_pm", expr("wsum * 10000 div n_toks"))
        .withColumn("bin", expr("least(score_pm div 200000, 9)"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(score_pm) div count(1)").as("mean_score_pm"),
          expr("""sum(CASE WHEN truth THEN 1 ELSE 0 END) * 10000
                 | div count(1)""".stripMargin).as("pos_pm"))
        .orderBy("bin")
    }),

    // Decile lift / gains table for the quality classifier — the
    // ranking-eval a filtering pipeline reads before picking a budget
    // cutoff ("the top 20% of docs by score capture X% of the good
    // ones"). Docs are ranked by score via the r16 exact distributed
    // rank ([[RankOps.withGlobalRank]] — no single-task ntile window;
    // the second production consumer of the q_rfm primitive) and
    // bucketed with the closed-form ntile(10); per decile: doc count,
    // positives under the stopword weak label (the q_confusion_matrix
    // narrow-join shape), then cumulative capture and lift on the
    // CONSTANT 10-row decile frame (BoundedFrames-registered global
    // window). lift_x100 multiplies cum_pos·n_all·100 — int64-safe to
    // ~3e8 docs, past which the pair goes DECIMAL(38,0).
    "q_decile_lift" -> ((s, dir) => {
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(expr("sum(w) * 10000 div count(1)").as("score_pm"))
      val truthDf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("""CAST(size(filter(split(text, ' '),
            |  t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
            |div CAST(size(split(text, ' ')) AS BIGINT) >= 500""".stripMargin)
            .as("truth"))
      val base = scored.join(truthDf, "doc_id")
      val anchor = base.agg(count(lit(1)).as("n_all"),
        sum(when(col("truth"), 1L).otherwise(0L)).as("pos_all"))
      val ranked = RankOps.withGlobalRank(
        base.crossJoin(broadcast(anchor)), "_rk", 32)(
        col("score_pm").desc, col("doc_id").asc)
      val dec = ranked
        .withColumn("decile", RankOps.ntileFromRank("_rk", "n_all", 10))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("truth"), 1L).otherwise(0L)).as("n_pos"),
          max(col("n_all")).as("n_all"), max(col("pos_all")).as("pos_all"))
      val wCum = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .withColumn("cum_n", sum(col("n_docs")).over(wCum))
        .select(col("decile"), col("n_docs"), col("n_pos"), col("cum_pos"),
          // nullif guard: a corpus with zero positives must yield NULL on
          // both engines, not an ANSI divide-by-zero on the Spark side
          // (same discipline as q_confusion_matrix).
          expr("cum_pos * 10000 div nullif(pos_all, 0)").as("capture_pm"),
          expr("cum_pos * n_all * 100 div nullif(cum_n * pos_all, 0)")
            .as("lift_x100"))
        .orderBy("decile")
    }),

    // Exact AUC of the quality classifier against the weak label — the
    // threshold-free ranking metric, by the Mann–Whitney rank identity
    // AUC = (Σ_{positives} rank − n⁺(n⁺+1)/2) / (n⁺·n⁻), where rank is
    // the ascending position by score. The rank is the r16 exact
    // distributed rank (no single-task window); score ties break by
    // doc_id — the DETERMINISTIC-tie convention this repo's gates
    // need, documented as a deviation from midrank AUC (both engines
    // apply the identical total order, so the value is reproducible;
    // midranks would need a second per-score aggregate). Integer
    // bound: the numerator ≤ n⁺·n⁻ and ×10⁴ stays in int64 to ~3e7
    // docs; past that the division pair goes DECIMAL(38,0).
    "q_auc" -> ((s, dir) => {
      val weights = s.range(256).select(col("id").as("bucket"),
        (col("id") * 37 % 201).as("w"))
      val scored = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr(
          "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT) % 256")
          .as("bucket"))
        .join(broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(expr("sum(w) * 10000 div count(1)").as("score_pm"))
      val truthDf = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          expr("""CAST(size(filter(split(text, ' '),
            |  t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
            |div CAST(size(split(text, ' ')) AS BIGINT) >= 500""".stripMargin)
            .as("truth"))
      RankOps.withGlobalRank(scored.join(truthDf, "doc_id"), "_rk", 32)(
          col("score_pm").asc, col("doc_id").asc)
        .agg(sum(when(col("truth"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("truth"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("truth"), col("_rk")).otherwise(0L)).as("rk_pos"))
        .select(col("n_pos"), col("n_neg"),
          // nullif guard: all-positive or all-negative corpora make the
          // Mann–Whitney denominator 0 — AUC is undefined there, and both
          // engines must agree on NULL rather than Spark throwing.
          expr("""(rk_pos - n_pos * (n_pos + 1) div 2) * 10000
                 | div nullif(n_pos * n_neg, 0)""".stripMargin).as("auc_pm"))
    }),

    // Laplace-noised aggregate release — the differential-privacy
    // MECHANISM (inverse-CDF Laplace: noise = −b·sgn(u−½)·ln(1−2|u−½|))
    // applied to per-source doc counts, in the REPRODUCIBLE form a
    // pipeline ships for privacy-report audits: u is the md5-myriad
    // hash of the group key and ln comes from the builder-side
    // [[lnMyriadScaled]] table, so the released values are
    // deterministic, engine-identical, and re-derivable in a review —
    // the noise DISTRIBUTION over the key-hash ensemble is a 10⁴-point
    // DISCRETIZATION of Laplace(b) (u ranges over [0,9999], so c is
    // asymmetric on [−5000,4999] with a sgn(0)=0 atom at zero), while
    // a production ε-DP release would swap the hash for a sealed
    // continuous RNG draw (documented, not pretended otherwise). The
    // map u → table index: c = u−5000 (sign bit), p = 1−|c|/5000
    // realized as index 2·(5000−|c|)−1 into the (h+1)/10001 domain.
    // Integer end-to-end (noise in milli-units via one div by 10⁹ of
    // the 10¹²-scaled ln — non-negative operand, sign applied after).
    // Shape: one corpus aggregate to the bounded |sources| frame, a
    // broadcast table lookup — flat at 100 TB.
    "q_dp_noise" -> ((s, dir) => {
      import s.implicits._
      val b = 50L // Laplace scale, in whole counts
      val lntab = broadcast(lnMyriadScaled.zipWithIndex
        .map { case (l, h) => (h.toLong, l) }.toDF("h", "ln_p12"))
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("u",
          expr("CAST(conv(substring(md5(source), 1, 4), 16, 10) AS BIGINT) % 10000"))
        .withColumn("c", expr("u - 5000"))
        .withColumn("h", expr("greatest(2 * (5000 - abs(c)) - 1, 0)"))
        .join(lntab, "h")
        .withColumn("noise_milli", expr(
          s"CAST(sign(c) AS BIGINT) * ($b * ln_p12 div 1000000000)"))
        .select(col("source"), col("n_docs"),
          expr("n_docs * 1000 + noise_milli").as("released_milli"))
        .orderBy("source")
    }),
  )

  /** Scaled-integer −ln table over the myriad-hash domain:
    * lnMyriadScaled(h) = round(−ln((h+1)/10001)·10¹²) for h ∈ [0,10⁴).
    * Materialized ONCE builder-side with StrictMath (platform-stable),
    * then consumed as plain int64 literals by BOTH the Spark query (a
    * broadcast dim) and the DuckDB oracle (a VALUES list) — neither
    * engine ever calls its own ln, so the A-ES rank can't drift on
    * libm rounding. Max entry ln(10001)·10¹² ≈ 9.2·10¹² — comfortably
    * int64.
    */
  private[graft] val lnMyriadScaled: IndexedSeq[Long] =
    (0 to 9999).map(h => math.round(-StrictMath.log((h + 1) / 10001.0) * 1e12))

  private val stopList = stopwords.map("'" + _ + "'").mkString(",")

  /** DuckDB counterpart of [[mixRates]] as shared CTE text (`per`,
    * `tot`, `rates`) — both mixture oracles compose over it, so the
    * planning and application SQL can never drift apart either. NOTE:
    * pre-stripped margins; keep `//` operators mid-line (stripMargin
    * pipe-eating trap, see Manifest.scala).
    */
  private val mixRatesSqlCtes: String =
    """per AS (
      |  SELECT source,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |         count(*) AS n_docs,
      |         CAST(substring(source, 4) AS BIGINT) % 3 + 1 AS weight
      |  FROM documents GROUP BY source
      |),
      |tot AS (
      |  SELECT CAST(sum(tokens) AS BIGINT) AS total_tokens,
      |         CAST(sum(weight) AS BIGINT) AS total_weight
      |  FROM per
      |),
      |rates AS (
      |  SELECT source, n_docs, tokens, weight,
      |         CAST(weight * 10000 // total_weight AS BIGINT) AS share_pm,
      |         CAST((total_tokens // 2) * (weight * 10000 // total_weight)
      |              // 10000 AS BIGINT) AS desired_tokens,
      |         CAST(least(10000,
      |              (total_tokens // 2) * (weight * 10000 // total_weight)
      |              // 10000 * 10000 // tokens) AS BIGINT) AS rate_pm
      |  FROM per CROSS JOIN tot
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_ngram_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${Corpus.shinglesSql}) AS shingle FROM documents
         |),
         |df AS (
         |  SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
         |)
         |SELECT s.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |       CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 10000
         |            // count(*) AS BIGINT) AS novelty_pm
         |FROM sh s JOIN df ON s.shingle = df.shingle
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "q_mix_weights" ->
      s"""WITH $mixRatesSqlCtes
         |SELECT source, n_docs, tokens, weight, share_pm, desired_tokens, rate_pm
         |FROM rates ORDER BY source""".stripMargin,

    "q_lm_score" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |         string_split(text, ' ')[i] AS w1,
        |         string_split(text, ' ')[i] || '_' ||
        |           string_split(text, ' ')[i + 1] AS bigram
        |  FROM documents,
        |       unnest(generate_series(1,
        |         greatest(len(string_split(text, ' ')) - 1, 0))) AS u(i)
        |),
        |cp AS (SELECT bigram, count(*) AS c_pair FROM bg GROUP BY bigram),
        |cx AS (SELECT w1, count(*) AS c_prefix FROM bg GROUP BY w1),
        |vs AS (SELECT count(DISTINCT w1) AS v FROM bg),
        |scored AS (
        |  SELECT b.doc_id,
        |         CAST(length(bin(cp.c_pair * 1073741824 //
        |           (cx.c_prefix + vs.v))) AS BIGINT) AS bits
        |  FROM bg b JOIN cp USING (bigram) JOIN cx USING (w1) CROSS JOIN vs
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(bits) AS BIGINT) AS sum_bits,
        |       CAST(sum(bits) AS BIGINT) * 10000 // count(*) AS mean_bits_pm
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ')[i] AS tok
        |  FROM documents,
        |       unnest(generate_series(1,
        |         greatest(len(string_split(text, ' ')), 0))) AS u(i)
        |),
        |dfr AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |qt AS (SELECT tok, df FROM dfr ORDER BY df DESC, tok LIMIT 3),
        |d AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |tot AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS at FROM d),
        |f AS (
        |  SELECT t.doc_id, t.tok, qt.df, count(*) AS tf
        |  FROM t JOIN qt USING (tok) GROUP BY 1, 2, 3
        |),
        |scored AS (
        |  SELECT f.doc_id,
        |         CAST(length(bin((2*tot.nd - 2*f.df + 1) * 1048576 //
        |           (2*f.df + 1))) AS BIGINT) AS idf_b,
        |         f.tf * 44 * tot.at * 10000 //
        |           (20 * tot.at * f.tf + 6 * tot.at + 18 * d.dl * tot.nd) AS sat_pm
        |  FROM f JOIN d USING (doc_id) CROSS JOIN tot
        |)
        |SELECT doc_id, count(*) AS n_terms,
        |       CAST(sum(idf_b * sat_pm) AS BIGINT) AS score
        |FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_feature_hashing" -> {
      // bucket = value of first TWO hex chars % 16 ≡ value of the 2nd
      // hex char (the 16s digit vanishes mod 16)
      val hv =
        "(CASE substr(md5(tok), 2, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 " +
          "WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 " +
          "WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 " +
          "WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 " +
          "WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      // pipe-joined string, not a list: the driver's row comparator
      // sorts rows by every column, and array cells don't sort (the
      // same reason q_group_collect emits array_join)
      val cells = (0 to 15)
        .map(b => s"CAST(sum(CASE WHEN bucket = $b THEN 1 ELSE 0 END) AS VARCHAR)")
        .mkString("concat_ws('|', ", ", ", ")")
      s"""WITH tk AS (
         |  SELECT doc_id, t.tok
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |  WHERE doc_id < 50 AND length(t.tok) > 0
         |),
         |bk AS (SELECT doc_id, $hv % 16 AS bucket FROM tk)
         |SELECT doc_id, count(*) AS n_tokens, $cells AS fv
         |FROM bk GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_zipf_fit" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |tf AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT ws[i] || ' ' || ws[i+1] AS tok
        |        FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) u(i))
        |  GROUP BY tok
        |),
        |hist AS (
        |  SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS lvl, count(*) AS n
        |  FROM tf GROUP BY 1
        |),
        |pts AS (
        |  SELECT lvl AS x, CAST(length(bin(cum)) - 1 AS BIGINT) AS y
        |  FROM (SELECT lvl, sum(n) OVER (ORDER BY lvl DESC
        |          ROWS UNBOUNDED PRECEDING) AS cum FROM hist)
        |),
        |fit AS (
        |  SELECT count(*) AS m, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM pts
        |)
        |SELECT (SELECT count(*) FROM tf) AS n_vocab, m AS n_levels,
        |       round((m * sxy - sx * sy) * 1.0 / (m * sxx - sx * sx), 4) AS slope
        |FROM fit""".stripMargin,

    // float step mirrors the engine exactly: int64 products cast to
    // double before the one division, identical IEEE expression tree
    "q_collocations" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT ws[i] AS x, ws[i + 1] AS y, count(*) AS c
        |  FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) u(i)
        |  GROUP BY 1, 2
        |),
        |lx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM bg GROUP BY x),
        |ry AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM bg GROUP BY y),
        |nb AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM bg)
        |SELECT x || ' ' || y AS bigram, c AS c_xy,
        |       CAST(floor(CAST(c * nb AS DOUBLE) / CAST(cx * cy AS DOUBLE)
        |         * 1000000) AS BIGINT) AS ratio_pm
        |FROM bg JOIN lx USING (x) JOIN ry USING (y) CROSS JOIN nb
        |WHERE c >= 5
        |ORDER BY ratio_pm DESC, bigram LIMIT 20""".stripMargin,

    // deliberately the POSITIONAL SELF-JOIN the engine avoids — same
    // answer from an independent plan
    "q_skipgram" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ')[i] AS tok, i AS pos
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) AS u(i)
        |)
        |SELECT a.tok AS w1, b.tok AS w2, count(*) AS n_cooc,
        |       CAST(sum(CASE WHEN b.pos - a.pos = 1 THEN 2 ELSE 1 END)
        |         AS BIGINT) AS w2x
        |FROM tk a JOIN tk b
        |  ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
        |GROUP BY 1, 2
        |ORDER BY w2x DESC, w1, w2 LIMIT 20""".stripMargin,

    "q_classifier_score" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      // value of first FOUR hex chars % 256 ≡ value of chars 3–4 (the
      // 256s digits vanish mod 256)
      val bucket = s"(${hv("substr(md5(t.tok), 3, 1)")} * 16 + " +
        s"${hv("substr(md5(t.tok), 4, 1)")})"
      s"""WITH wts AS (
         |  SELECT i AS bucket, (i * 37) % 201 AS w
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)
         |),
         |bk AS (
         |  SELECT doc_id, $bucket AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(sum(w) * 10000 // count(*) AS BIGINT) AS score_pm,
         |       sum(w) * 10000 // count(*) >= 1000000 AS kept
         |FROM bk JOIN wts USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_confusion_matrix" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      val bucket = s"(${hv("substr(md5(t.tok), 3, 1)")} * 16 + " +
        s"${hv("substr(md5(t.tok), 4, 1)")})"
      s"""WITH wts AS (
         |  SELECT i AS bucket, (i * 37) % 201 AS w
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)
         |),
         |bk AS (
         |  SELECT doc_id, $bucket AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |),
         |sc AS (
         |  SELECT doc_id, sum(w) * 10000 // count(*) >= 1000000 AS pred
         |  FROM bk JOIN wts USING (bucket) GROUP BY doc_id
         |),
         |lbl AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) >= 500 AS truth
         |  FROM documents
         |),
         |cm AS (
         |  SELECT CAST(sum(CASE WHEN truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN NOT truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(sum(CASE WHEN NOT truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM sc JOIN lbl USING (doc_id)
         |)
         |SELECT tp, fp, fn, tn,
         |       tp * 1000 // nullif(tp + fp, 0) AS prec_pt,
         |       tp * 1000 // nullif(tp + fn, 0) AS rec_pt,
         |       2 * tp * 1000 // nullif(2 * tp + fp + fn, 0) AS f1_pt,
         |       (tp + tn) * 1000 // nullif(tp + tn + fp + fn, 0) AS acc_pt
         |FROM cm""".stripMargin
    },

    "q_token_burstiness" ->
      """WITH dt AS (
        |  SELECT doc_id, t.tok AS tok, count(*) AS c
        |  FROM documents, unnest(string_split(text, ' ')) t(tok)
        |  WHERE length(t.tok) > 0
        |  GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS cf, count(*) AS df,
        |         CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS repeat_docs
        |  FROM dt GROUP BY tok
        |)
        |SELECT tok, cf, df,
        |       CAST(cf * 1000 // df AS BIGINT) AS burst_pm,
        |       CAST(repeat_docs * 1000 // df AS BIGINT) AS repeat_pm
        |FROM m WHERE df >= 10
        |ORDER BY burst_pm DESC, tok LIMIT 20""".stripMargin,

    "q_topk_merge" ->
      """WITH tc AS (
        |  SELECT source, t.tok AS tok, count(*) AS c
        |  FROM documents, unnest(string_split(text, ' ')) t(tok)
        |  WHERE length(t.tok) > 0
        |  GROUP BY 1, 2
        |),
        |lt AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT tok, row_number() OVER
        |      (PARTITION BY source ORDER BY c DESC, tok) AS rk
        |    FROM tc) WHERE rk <= 5
        |),
        |g AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY tok
        |  ORDER BY n DESC, tok LIMIT 10
        |)
        |SELECT g.tok, n, lt.tok IS NOT NULL AS in_merged
        |FROM g LEFT JOIN lt ON g.tok = lt.tok
        |ORDER BY n DESC, g.tok""".stripMargin,

    "q_keyword_rake" ->
      """WITH segs0 AS (
        |  SELECT unnest(regexp_split_to_array(
        |    ' ' || replace(text, ' ', '  ') || ' ',
        |    ' (?:the|a|of|and|in) ')) AS seg
        |  FROM documents
        |),
        |segs AS (
        |  SELECT list_filter(regexp_split_to_array(trim(seg), '  +'),
        |           x -> x <> '') AS ws
        |  FROM segs0
        |  WHERE len(list_filter(regexp_split_to_array(trim(seg), '  +'),
        |          x -> x <> '')) BETWEEN 1 AND 4
        |),
        |ph AS (SELECT ws, array_to_string(ws, ' ') AS phrase FROM segs),
        |wstats AS (
        |  SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg,
        |         CAST(sum(plen) * 1000 // count(*) AS BIGINT) AS wscore_pm
        |  FROM (SELECT unnest(ws) AS w, CAST(len(ws) AS BIGINT) AS plen
        |        FROM ph)
        |  GROUP BY w
        |),
        |sup AS (
        |  SELECT phrase, count(*) AS support FROM ph
        |  GROUP BY phrase HAVING count(*) >= 2
        |)
        |SELECT phrase, support, CAST(sum(wscore_pm) AS BIGINT) AS score_pm
        |FROM (SELECT phrase, support, unnest(string_split(phrase, ' ')) AS w
        |      FROM sup) s
        |JOIN wstats USING (w)
        |GROUP BY phrase, support
        |ORDER BY score_pm DESC, phrase LIMIT 20""".stripMargin,

    "q_sparse_knn" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS t, count(*) AS tf
        |  FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) u(i)
        |  GROUP BY 1, 2
        |),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |keep AS (
        |  SELECT t, CAST(length(bin((2*nd - 2*df + 1) * 1048576 // (2*df + 1)))
        |           AS BIGINT) AS idf_b
        |  FROM (SELECT t, count(*) AS df FROM bg GROUP BY t) CROSS JOIN nd
        |  WHERE df >= 2 AND df <= least(greatest(nd // 100, 5), 100)
        |),
        |post AS (SELECT t, doc_id, tf * idf_b AS wt FROM bg JOIN keep USING (t))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared,
        |       CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
        |FROM post a JOIN post b ON a.t = b.t AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY dot DESC, doc_a, doc_b LIMIT 20""".stripMargin,

    "q_chisq_independence" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
        |),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY source),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY lang),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
        |dims AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS nsrc,
        |                CAST(count(DISTINCT lang) AS BIGINT) AS nlang FROM cells),
        |en AS (
        |  SELECT source, lang, o,
        |         CAST(rt * ct * 1000 // nn AS BIGINT) AS e_pt,
        |         CAST(floor(CAST(o * nn - rt * ct AS DOUBLE)
        |           * CAST(o * nn - rt * ct AS DOUBLE)
        |           / (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
        |           * 1000) AS BIGINT) AS chi_pt
        |  FROM cells JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN nn
        |),
        |tot AS (SELECT CAST(sum(chi_pt) AS BIGINT) AS chi2_total_pt FROM en)
        |SELECT source, lang, o, e_pt, chi_pt, chi2_total_pt,
        |       (nsrc - 1) * (nlang - 1) AS dof
        |FROM en CROSS JOIN tot CROSS JOIN dims
        |ORDER BY source, lang""".stripMargin,

    "q_vocab_growth" ->
      """WITH b AS (SELECT max(doc_id) AS mx FROM documents),
        |tk AS (
        |  SELECT doc_id, t.tok
        |  FROM documents, unnest(string_split(text, ' ')) t(tok)
        |  WHERE length(t.tok) > 0
        |),
        |fs AS (SELECT tok, min(doc_id) AS first_doc FROM tk GROUP BY tok),
        |cps AS (
        |  SELECT CAST(0.1 AS DOUBLE) AS frac, CAST(floor(mx * 0.1) AS BIGINT) AS cp FROM b
        |  UNION ALL
        |  SELECT CAST(0.5 AS DOUBLE), CAST(floor(mx * 0.5) AS BIGINT) FROM b
        |  UNION ALL
        |  SELECT CAST(1.0 AS DOUBLE), mx FROM b
        |)
        |SELECT c.frac,
        |       (SELECT count(*) FROM documents d WHERE d.doc_id <= c.cp) AS n_docs,
        |       (SELECT count(*) FROM tk WHERE tk.doc_id <= c.cp) AS n_tokens,
        |       (SELECT count(*) FROM fs WHERE fs.first_doc <= c.cp) AS vocab
        |FROM cps c ORDER BY frac""".stripMargin,

    "q_token_histogram" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |),
        |b AS (SELECT toks, CAST(length(bin(toks)) AS BIGINT) AS bucket_bits FROM t)
        |SELECT bucket_bits,
        |       CAST(CAST(1 AS BIGINT) << (CAST(bucket_bits AS INT) - 1) AS BIGINT) AS bucket_lo,
        |       count(*) AS n_docs, min(toks) AS min_toks, max(toks) AS max_toks,
        |       CAST(sum(toks) AS BIGINT) AS sum_toks
        |FROM b GROUP BY bucket_bits ORDER BY bucket_bits""".stripMargin,

    "q_length_filter" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |),
        |qs AS (
        |  SELECT lang, quantile_cont(toks, 0.25) AS p25,
        |         quantile_cont(toks, 0.75) AS p75
        |  FROM docs GROUP BY lang
        |)
        |SELECT d.lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN toks >= q.p25 AND toks <= q.p75
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(max(q.p25), 4) AS p25,
        |       round(max(q.p75), 4) AS p75
        |FROM docs d JOIN qs q ON d.lang = q.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_weighted_sample" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      def md5c(i: Int) = hv(s"substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)")
      val h4 = s"((${md5c(1)} * 4096 + ${md5c(2)} * 256 + ${md5c(3)} * 16 + ${md5c(4)}) % 10000)"
      // the lntab VALUES literals are the SAME builder-side integers
      // the Spark query broadcasts — DuckDB never computes ln here
      val vals = lnMyriadScaled.zipWithIndex
        .map { case (l, h) => s"($h,$l)" }.mkString(",")
      s"""WITH lntab(h, lnu_p12) AS (VALUES $vals),
         |docs AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |         $h4 AS h
         |  FROM documents
         |)
         |SELECT d.doc_id, d.source, d.w,
         |       round(t.lnu_p12 / d.w / 1e9, 6) AS priority_milli
         |FROM docs d JOIN lntab t ON d.h = t.h
         |ORDER BY t.lnu_p12 / d.w, d.doc_id LIMIT 20""".stripMargin
    },

    "q_mix_sample" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      def md5c(i: Int) = hv(s"substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)")
      val h4 = s"((${md5c(1)} * 4096 + ${md5c(2)} * 256 + ${md5c(3)} * 16 + ${md5c(4)}) % 10000)"
      s"""WITH $mixRatesSqlCtes,
         |docs AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents
         |)
         |SELECT d.source, max(r.rate_pm) AS rate_pm,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN $h4 < r.rate_pm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN $h4 < r.rate_pm THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM docs d JOIN rates r ON d.source = r.source
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    },

    "q_lang_id" ->
      s"""WITH feats AS (
         |  SELECT lang,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_filter(string_split(text, ' '), t -> t = 'the'))
         |           + len(list_filter(string_split(text, ' '), t -> t = 'a')) AS n_markers
         |  FROM documents
         |)
         |SELECT lang,
         |       CASE WHEN n_markers * 1.0 / n_tokens > 0.05 THEN 'en' ELSE 'other' END AS predicted,
         |       count(*) AS n_docs,
         |       round(avg(n_markers * 1.0 / n_tokens), 4) AS avg_marker_ratio
         |FROM feats GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_lang_ngram" -> {
      val hitsSql = Seq("the", "he ", " th", "ing", "and", " an", "nd ", " of")
        .map(g => s"(length(text) - length(replace(text, '$g', ''))) / 3")
        .mkString(" + ")
      s"""WITH feats AS (
         |  SELECT lang,
         |         CASE WHEN length(text) < 3 THEN 0.0
         |         ELSE ($hitsSql) * 1.0 / (length(text) - 2)
         |         END AS en_tri_ratio
         |  FROM documents
         |)
         |SELECT lang,
         |       CASE WHEN en_tri_ratio > 0.04 THEN 'en' ELSE 'other' END AS predicted,
         |       count(*) AS n_docs,
         |       round(avg(en_tri_ratio), 4) AS avg_ratio
         |FROM feats GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "q_repetition_ratio" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |)
        |SELECT doc_id,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |       (CAST(len(t) AS BIGINT) - CAST(len(list_distinct(t)) AS BIGINT))
        |         * 10000 // CAST(len(t) AS BIGINT) AS rep_pm,
        |       CAST(list_max(list_transform(list_distinct(t),
        |             x -> len(list_filter(t, y -> y = x)))) AS BIGINT)
        |         * 10000 // CAST(len(t) AS BIGINT) AS top_pm
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q_boilerplate_lines" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[i*3+1 : i*3+3], ' ') AS seg
        |  FROM (SELECT *, unnest(generate_series(0,
        |          CAST(ceil(len(ws) / 3.0) AS INT) - 1)) AS i FROM w)
        |),
        |freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1),
        |fl AS (
        |  SELECT s.doc_id, s.pos, s.seg, f.df >= 2 AS boiler
        |  FROM segs s JOIN freq f USING (seg)
        |)
        |SELECT doc_id,
        |       count(*) AS n_segments,
        |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
        |       md5(coalesce(string_agg(CASE WHEN NOT boiler THEN seg END,
        |             ' ' ORDER BY pos), '')) AS cleaned_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |),
        |c AS (
        |  SELECT source, doc_id, n,
        |         CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM t
        |)
        |SELECT source, cum // 2048 AS seq_id, count(*) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY source, cum // 2048 ORDER BY source, seq_id""".stripMargin,

    "q_dataset_split" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      val bucket = s"(${hv("substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)")} * 16 + " +
        s"${hv("substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)")})"
      s"""WITH t AS (
         |  SELECT CASE WHEN $bucket < 204 THEN 'train'
         |              WHEN $bucket < 230 THEN 'val' ELSE 'test' END AS split,
         |         doc_id, n_chars,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents)
         |SELECT split, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM t GROUP BY split ORDER BY split""".stripMargin
    },

    "q_bigram_vocab" ->
      """WITH bg AS (
        |  SELECT u.bigram
        |  FROM documents,
        |       unnest(list_transform(
        |         generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
        |         i -> string_split(text, ' ')[i] || '_' ||
        |              string_split(text, ' ')[i+1])) AS u(bigram)
        |)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "q_bpe_merges" ->
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w
        |),
        |pairs AS (
        |  SELECT substr(w, u.i, 1) || '+' || substr(w, u.i + 1, 1) AS pair, wf
        |  FROM words, unnest(generate_series(1, length(w) - 1)) u(i)
        |)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS n
        |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_bpe_apply" ->
      """WITH words AS (
        |  SELECT w, count(*) AS wf FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w
        |),
        |pairs AS (
        |  SELECT substr(w, u.i, 1) || '+' || substr(w, u.i + 1, 1) AS pair, wf
        |  FROM words, unnest(generate_series(1, length(w) - 1)) u(i)
        |),
        |top1 AS (
        |  SELECT substr(pair, 1, 1) AS ma, substr(pair, 3, 1) AS mb
        |  FROM (SELECT pair, sum(wf) AS n FROM pairs GROUP BY pair
        |        ORDER BY n DESC, pair LIMIT 1)
        |),
        |merged AS (
        |  SELECT wf, ma, mb, replace(w, ma || mb, chr(1)) AS w2
        |  FROM words CROSS JOIN top1
        |),
        |pairs2 AS (
        |  SELECT (CASE WHEN substr(w2, u.i, 1) = chr(1)
        |               THEN ma || mb ELSE substr(w2, u.i, 1) END)
        |         || '+' ||
        |         (CASE WHEN substr(w2, u.i + 1, 1) = chr(1)
        |               THEN ma || mb ELSE substr(w2, u.i + 1, 1) END) AS pair,
        |         wf
        |  FROM merged, unnest(generate_series(1, length(w2) - 1)) u(i)
        |  WHERE length(w2) >= 2
        |)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS n
        |FROM pairs2 GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |big AS (
        |  SELECT a.term || ' ' || b.term AS bigram, count(*) AS n
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1
        |),
        |top1 AS (
        |  SELECT string_split(bigram, ' ')[1] AS t1,
        |         string_split(bigram, ' ')[2] AS t2
        |  FROM (SELECT bigram FROM big ORDER BY n DESC, bigram LIMIT 1)
        |)
        |SELECT p1.doc_id, t1 || ' ' || t2 AS phrase,
        |       CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM toks p1
        |JOIN top1 ON p1.term = t1
        |JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |            AND p2.term = t2
        |GROUP BY 1, 2 ORDER BY n_occurrences DESC, p1.doc_id LIMIT 20""".stripMargin,

    // deliberately the SAME SQL as q_phrase_search (the q_dedup_bloom
    // precedent): the persisted bucketed index changes the physical
    // plan, not the answer — a hash-identical result across the two
    // shapes is the equivalence proof
    "q_phrase_index" ->
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |big AS (
        |  SELECT a.term || ' ' || b.term AS bigram, count(*) AS n
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1
        |),
        |top1 AS (
        |  SELECT string_split(bigram, ' ')[1] AS t1,
        |         string_split(bigram, ' ')[2] AS t2
        |  FROM (SELECT bigram FROM big ORDER BY n DESC, bigram LIMIT 1)
        |)
        |SELECT p1.doc_id, t1 || ' ' || t2 AS phrase,
        |       CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM toks p1
        |JOIN top1 ON p1.term = t1
        |JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |            AND p2.term = t2
        |GROUP BY 1, 2 ORDER BY n_occurrences DESC, p1.doc_id LIMIT 20""".stripMargin,

    "q_index_search" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ')[i] AS tok
        |  FROM documents,
        |       unnest(generate_series(1,
        |         greatest(len(string_split(text, ' ')), 0))) AS u(i)
        |),
        |fr AS (SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df,
        |              row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |       FROM t GROUP BY tok),
        |d AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |tot AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS at FROM d),
        |q1 AS (SELECT tok, df FROM fr WHERE rn = 1),
        |q2 AS (SELECT tok, df FROM fr WHERE rn = 2),
        |f1 AS (SELECT t.doc_id, count(*) AS tf1 FROM t JOIN q1 ON t.tok = q1.tok GROUP BY 1),
        |f2 AS (SELECT t.doc_id, count(*) AS tf2 FROM t JOIN q2 ON t.tok = q2.tok GROUP BY 1)
        |SELECT f1.doc_id, tf1, tf2,
        |  CAST(
        |    CAST(length(bin((2*tot.nd - 2*q1.df + 1) * 1048576 // (2*q1.df + 1))) AS BIGINT)
        |      * (tf1 * 44 * tot.at * 10000 //
        |         (20 * tot.at * tf1 + 6 * tot.at + 18 * d.dl * tot.nd))
        |    + CAST(length(bin((2*tot.nd - 2*q2.df + 1) * 1048576 // (2*q2.df + 1))) AS BIGINT)
        |      * (tf2 * 44 * tot.at * 10000 //
        |         (20 * tot.at * tf2 + 6 * tot.at + 18 * d.dl * tot.nd))
        |  AS BIGINT) AS score
        |FROM f1 JOIN f2 USING (doc_id) JOIN d USING (doc_id)
        |CROSS JOIN tot CROSS JOIN q1 CROSS JOIN q2
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // phrase derivation shared with q_phrase_index's oracle; scoring is
    // q_index_search's integer BM25 with the PHRASE's df as the IDF input
    "q_phrase_rank" ->
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |big AS (
        |  SELECT a.term || ' ' || b.term AS bigram, count(*) AS n
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1
        |),
        |top1 AS (
        |  SELECT string_split(bigram, ' ')[1] AS t1,
        |         string_split(bigram, ' ')[2] AS t2
        |  FROM (SELECT bigram FROM big ORDER BY n DESC, bigram LIMIT 1)
        |),
        |f AS (
        |  SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks p1
        |  JOIN top1 ON p1.term = t1
        |  JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |              AND p2.term = t2
        |  GROUP BY 1
        |),
        |d AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |tot AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS at FROM d),
        |dfp AS (SELECT count(*) AS df FROM f)
        |SELECT f.doc_id, t1 || ' ' || t2 AS phrase, tf,
        |  CAST(
        |    CAST(length(bin((2*tot.nd - 2*dfp.df + 1) * 1048576 // (2*dfp.df + 1))) AS BIGINT)
        |      * (tf * 44 * tot.at * 10000 //
        |         (20 * tot.at * tf + 6 * tot.at + 18 * d.dl * tot.nd))
        |  AS BIGINT) AS score
        |FROM f JOIN d USING (doc_id)
        |CROSS JOIN tot CROSS JOIN dfp CROSS JOIN top1
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // deliberately the SAME SQL as q_phrase_search / q_phrase_index
    // (the equivalence-family precedent): the compacted generation
    // holds exactly the full corpus, so the three physical shapes —
    // corpus scan, persisted index, compacted generation — must
    // hash-identically agree
    "q_index_compact" ->
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |big AS (
        |  SELECT a.term || ' ' || b.term AS bigram, count(*) AS n
        |  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1
        |),
        |top1 AS (
        |  SELECT string_split(bigram, ' ')[1] AS t1,
        |         string_split(bigram, ' ')[2] AS t2
        |  FROM (SELECT bigram FROM big ORDER BY n DESC, bigram LIMIT 1)
        |)
        |SELECT p1.doc_id, t1 || ' ' || t2 AS phrase,
        |       CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM toks p1
        |JOIN top1 ON p1.term = t1
        |JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |            AND p2.term = t2
        |GROUP BY 1, 2 ORDER BY n_occurrences DESC, p1.doc_id LIMIT 20""".stripMargin,

    // phrase derives from the BASE segment (doc_id % 10 <> 7) — the
    // serving-time lexicon predates the delta; counts cover the full
    // corpus through both segments
    "q_index_incremental" -> indexIncrementalSql,

    // batch ≡ stream: the drained delta segments union to exactly the
    // batch delta, so the streamed serving result is gated verbatim on
    // the batch oracle
    "q_stream_index_delta" -> indexIncrementalSql,
  ) ++ textOraclesTail

  private lazy val indexIncrementalSql: String =
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |btoks AS (SELECT * FROM toks WHERE doc_id % 10 <> 7),
        |big AS (
        |  SELECT a.term || ' ' || b.term AS bigram, count(*) AS n
        |  FROM btoks a JOIN btoks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1
        |),
        |top1 AS (
        |  SELECT string_split(bigram, ' ')[1] AS t1,
        |         string_split(bigram, ' ')[2] AS t2
        |  FROM (SELECT bigram FROM big ORDER BY n DESC, bigram LIMIT 1)
        |)
        |SELECT p1.doc_id, t1 || ' ' || t2 AS phrase,
        |       CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM toks p1
        |JOIN top1 ON p1.term = t1
        |JOIN toks p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |            AND p2.term = t2
        |GROUP BY 1, 2 ORDER BY n_occurrences DESC, p1.doc_id LIMIT 20""".stripMargin

  private lazy val textOraclesTail: Map[String, String] = Map(

    // boolean retrieval: t1/t2 = top-2 by occurrence (the index probes'
    // shared derivation), t3 = argmin |2·df − nd| over the rest; the
    // mask semantics reduce to tf1 > 0 AND tf2 > 0 AND tf3 = 0
    "q_bool_retrieval" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ')[u.i] AS tok
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |fr AS (SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df,
        |              row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        |       FROM t GROUP BY tok),
        |tot AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
        |q3 AS (SELECT tok FROM fr, tot WHERE rn > 2
        |       ORDER BY abs(2 * df - nd), tok LIMIT 1),
        |m AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN tok = (SELECT tok FROM fr WHERE rn = 1)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
        |    CAST(sum(CASE WHEN tok = (SELECT tok FROM fr WHERE rn = 2)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tf2,
        |    CAST(sum(CASE WHEN tok = (SELECT tok FROM q3)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tf3
        |  FROM t GROUP BY doc_id
        |)
        |SELECT doc_id, tf1, tf2 FROM m
        |WHERE tf1 > 0 AND tf2 > 0 AND tf3 = 0 ORDER BY doc_id""".stripMargin,

    "q_budget_select" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           t -> t IN ($stopList))) AS BIGINT) AS nstop
         |  FROM documents
         |),
         |s AS (SELECT *, nstop * 10000 // toks AS q FROM d),
         |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM s),
         |h AS (SELECT q, CAST(sum(toks) AS BIGINT) AS t FROM s GROUP BY q),
         |c AS (SELECT q, t,
         |             sum(t) OVER (ORDER BY q DESC ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM h),
         |cut AS (SELECT min(c.q) AS cq FROM c CROSS JOIN tot
         |        WHERE c.cum - c.t < tot.t // 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
         |       CAST(sum(toks) AS BIGINT) AS sel_tokens,
         |       (SELECT cq FROM cut) AS cutoff_q
         |FROM s WHERE q >= (SELECT cq FROM cut)
         |GROUP BY source ORDER BY source""".stripMargin,

    // markup synthesized identically to the engine side; DuckDB
    // regexp_replace needs the explicit 'g' flag (Spark's replaces all
    // occurrences by default); list_sum of an empty anchor list is
    // NULL, coalesced to 0 to match Spark's aggregate() seed
    "q_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source || '</title></head><body><nav>' ||
        |    repeat('<a href="#">nav link</a>', CAST((doc_id % 7) * 3 AS INT)) ||
        |    '</nav><p>' || text ||
        |    '</p><footer>site footer</footer></body></html>' AS html
        |  FROM documents
        |),
        |x AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(regexp_replace(regexp_replace(
        |      html, '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT)
        |      AS page_toks,
        |    CAST(coalesce(list_sum(list_transform(
        |      regexp_extract_all(html, '<a href="#">([^<]*)</a>', 1),
        |      a -> len(string_split(a, ' ')))), 0) AS BIGINT) AS anchor_toks
        |  FROM pages
        |)
        |SELECT doc_id, page_toks, anchor_toks,
        |       anchor_toks * 10000 // page_toks AS density_pm,
        |       CAST(CASE WHEN anchor_toks * 10000 // page_toks < 1000
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_content
        |FROM x ORDER BY doc_id""".stripMargin,

    "q_shard_balance" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents
        |),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY source ORDER BY toks DESC, doc_id) - 1 AS rk
        |      FROM d),
        |ps AS (SELECT source,
        |         CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - rk % 8 END
        |           AS shard,
        |         CAST(sum(toks) AS BIGINT) AS st
        |       FROM r GROUP BY 1, 2),
        |sp AS (SELECT source, max(st) AS serp_max, min(st) AS serp_min
        |       FROM ps GROUP BY 1),
        |n0 AS (SELECT source, doc_id % 8 AS shard,
        |         CAST(sum(toks) AS BIGINT) AS nt
        |       FROM d GROUP BY 1, 2),
        |nv AS (SELECT source, max(nt) AS mod_max, min(nt) AS mod_min
        |       FROM n0 GROUP BY 1)
        |SELECT sp.source, serp_max, serp_min, mod_max, mod_min,
        |       (serp_max - serp_min) * 10000 // serp_max AS serp_spread_pm,
        |       (mod_max - mod_min) * 10000 // mod_max AS mod_spread_pm
        |FROM sp JOIN nv USING (source) ORDER BY source""".stripMargin,

    "q_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tri AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0))) u(i)
        |),
        |c AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_repeated,
        |       CAST(max(c) AS BIGINT) AS max_repeat,
        |       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 10000 //
        |            sum(c) AS BIGINT) AS rep_pm
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_proximity_index" ->
      """WITH toks AS (
        |  SELECT doc_id, u.i AS pos, string_split(text, ' ')[u.i] AS term
        |  FROM documents,
        |       unnest(generate_series(1, len(string_split(text, ' ')))) u(i)
        |),
        |freq AS (
        |  SELECT term, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, term) AS r
        |  FROM toks GROUP BY term
        |)
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(min(abs(b.pos - a.pos)) AS BIGINT) AS min_gap
        |FROM toks a
        |JOIN (SELECT term FROM freq WHERE r = 1) t1 ON a.term = t1.term
        |JOIN toks b ON b.doc_id = a.doc_id AND abs(b.pos - a.pos) <= 3
        |JOIN (SELECT term FROM freq WHERE r = 2) t2 ON b.term = t2.term
        |GROUP BY 1 ORDER BY a.doc_id""".stripMargin,

    "q_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${Corpus.shinglesSql}) AS shingle FROM documents
         |),
         |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
         |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 50 <> 0)
         |SELECT bench_id, count(DISTINCT train_id) AS n_train_docs,
         |       count(DISTINCT b.shingle) AS n_shared_shingles
         |FROM b JOIN tr ON tr.shingle = b.shingle
         |GROUP BY bench_id ORDER BY bench_id""".stripMargin,

    "q_text_quality" ->
      s"""WITH feats AS (
         |  SELECT doc_id,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         length(text) AS n_chars_actual,
         |         len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, n_tokens,
         |       round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
         |       round((n_chars_actual - n_tokens + 1) * 1.0 / n_tokens, 4) AS avg_token_len,
         |       round(least(1.0, n_stop * 1.0 / n_tokens * 2
         |         + 1.0 / (1.0 + abs((n_chars_actual - n_tokens + 1) * 1.0 / n_tokens - 5))), 4) AS quality
         |FROM feats ORDER BY doc_id""".stripMargin,

    "q_char_entropy" ->
      """WITH counts AS (
        |  SELECT doc_id, substr(lower(text), u.i, 1) AS ch, count(*) AS c
        |  FROM documents,
        |       unnest(generate_series(1, length(text))) AS u(i)
        |  GROUP BY 1, 2
        |),
        |tot AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |         count(*) AS n_distinct
        |  FROM counts GROUP BY 1
        |)
        |SELECT c.doc_id,
        |       max(t.n) AS n_chars,
        |       max(t.n_distinct) AS n_distinct,
        |       CAST(sum(c.c * length(bin(t.n * 1024 // c.c))) * 100
        |         // max(t.n) AS BIGINT) AS entropy_cb
        |FROM counts c JOIN tot t USING (doc_id)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // polynomial hash of the 5-gram at i, all terms exact in BIGINT
    // (127·131^4 ≈ 3.7e10, sum < 2^53) with one final mod — equal to
    // the kernel's stepwise mod; window-min over ORDER BY i mirrors
    // the winnowing pass; DISTINCT mirrors the SortedSet
    "q_doc_fingerprint" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text) - 4)) AS i
        |  FROM documents
        |),
        |hashes AS (
        |  SELECT doc_id, i, length(text) AS len,
        |         (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 294499921
        |          + CAST(ascii(substr(text, i + 1, 1)) AS BIGINT) * 2248091
        |          + CAST(ascii(substr(text, i + 2, 1)) AS BIGINT) * 17161
        |          + CAST(ascii(substr(text, i + 3, 1)) AS BIGINT) * 131
        |          + CAST(ascii(substr(text, i + 4, 1)) AS BIGINT)) % 2147483647 AS h
        |  FROM pos
        |),
        |wins AS (
        |  SELECT doc_id, i, len,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM hashes
        |),
        |selected AS (
        |  SELECT DISTINCT doc_id, wmin FROM wins WHERE i <= len - 7
        |)
        |SELECT doc_id,
        |       count(*) AS n_fingerprints,
        |       min(wmin) AS fp_min,
        |       max(wmin) AS fp_max,
        |       CAST(sum(wmin) % 1000000007 AS BIGINT) AS fp_checksum
        |FROM selected GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same hash/winnow pipeline as q_doc_fingerprint, over the dup-
    // injected corpus, then the inverted-index pair join with df cap
    "q_passage_overlap" ->
      s"""WITH ${Corpus.corpusCte},
         |pos AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(1, length(text) - 4)) AS i
         |  FROM corpus
         |),
         |hashes AS (
         |  SELECT doc_id, i, length(text) AS len,
         |         (CAST(ascii(substr(text, i, 1)) AS BIGINT) * 294499921
         |          + CAST(ascii(substr(text, i + 1, 1)) AS BIGINT) * 2248091
         |          + CAST(ascii(substr(text, i + 2, 1)) AS BIGINT) * 17161
         |          + CAST(ascii(substr(text, i + 3, 1)) AS BIGINT) * 131
         |          + CAST(ascii(substr(text, i + 4, 1)) AS BIGINT)) % 2147483647 AS h
         |  FROM pos
         |),
         |wins AS (
         |  SELECT doc_id, i, len,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |  FROM hashes
         |),
         |selected AS (
         |  SELECT DISTINCT doc_id, wmin FROM wins WHERE i <= len - 7
         |),
         |rare AS (
         |  SELECT wmin FROM selected GROUP BY wmin HAVING count(*) <= 50
         |),
         |pruned AS (
         |  SELECT s.doc_id, s.wmin FROM selected s JOIN rare r ON s.wmin = r.wmin
         |),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM pruned a JOIN pruned b
         |    ON a.wmin = b.wmin AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, n_shared FROM pairs
         |WHERE n_shared >= 10 ORDER BY doc_a, doc_b""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |       round(length(text) * 1.0 / len(string_split(text, ' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_chunk_tokens" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 10 = 0
        |),
        |starts AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(0, greatest(len(toks) - 1, 0), 10)) AS start
        |  FROM docs
        |)
        |SELECT doc_id, start // 10 AS chunk_id,
        |       len(toks[start + 1 : start + 20]) AS n_tokens,
        |       md5(array_to_string(toks[start + 1 : start + 20], ' ')) AS chunk_md5
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    "q_tfidf" ->
      """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sub),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM sub),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
        |         tf.tf * ((n.n_docs + 1.0) / (dfx.df + 1.0)) AS score_exact
        |  FROM tf JOIN dfx USING (term) CROSS JOIN n
        |),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score_exact,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY score_exact DESC, term) AS rank
        |  FROM scored
        |)
        |SELECT doc_id, rank, term, tf, df, round(score_exact, 4) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_heavy_hitters" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      def bucket(r: Int): String =
        s"(${hv(s"substr(md5('$r:' || term), 1, 1)")} * 16 + ${hv(s"substr(md5('$r:' || term), 2, 1)")})"
      val rowCtes = (0 until 4).map { r =>
        s"""cms$r AS (
           |  SELECT ${bucket(r)} AS bucket, count(*) AS c
           |  FROM toks GROUP BY 1
           |)""".stripMargin
      }.mkString(",\n")
      val estUnion = (0 until 4).map { r =>
        s"SELECT t.term, c.c FROM top t JOIN cms$r c ON c.bucket = ${bucket(r).replace("term", "t.term")}"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
         |),
         |exact AS (SELECT term, count(*) AS n_exact FROM toks GROUP BY term),
         |top AS (SELECT term, n_exact FROM exact ORDER BY n_exact DESC, term LIMIT 10),
         |$rowCtes,
         |est AS (
         |  SELECT term, min(c) AS n_est FROM (
         |  $estUnion
         |  ) GROUP BY term
         |)
         |SELECT t.term, t.n_exact, e.n_est, e.n_est - t.n_exact AS overcount
         |FROM top t JOIN est e ON e.term = t.term
         |ORDER BY t.n_exact DESC, t.term""".stripMargin
    },

    "q_anonymize" ->
      """SELECT c_custkey,
        |       sha256('salt42_' || c_custkey) AS pseudo_id,
        |       regexp_replace(c_name, '[0-9]', '*', 'g') AS name_masked,
        |       CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acct_bucket
        |FROM customer WHERE c_custkey % 25 = 0 ORDER BY c_custkey""".stripMargin,

    "q_kanon_suppress" ->
      """WITH classes AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |         c_mktsegment AS segment,
        |         CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS bal_band,
        |         count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT nat, segment, bal_band, CAST(n AS BIGINT) AS n
        |FROM classes WHERE n >= 5
        |UNION ALL
        |SELECT -1, '*', -1, CAST(COALESCE(sum(n), 0) AS BIGINT)
        |FROM classes WHERE n < 5
        |ORDER BY nat, segment, bal_band""".stripMargin,

    "q_curation_pipeline" ->
      s"""WITH ${graft.text.Corpus.corpusCte},
         |feats AS (
         |  SELECT doc_id, text,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         length(text) AS n_chars_actual,
         |         len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) AS n_stop,
         |         len(list_filter(string_split(text, ' '), t -> t = 'the'))
         |           + len(list_filter(string_split(text, ' '), t -> t = 'a')) AS n_markers
         |  FROM corpus
         |),
         |scored AS (
         |  SELECT *, least(1.0, n_stop * 1.0 / n_tokens * 2
         |           + 1.0 / (1.0 + abs((n_chars_actual - n_tokens + 1) * 1.0 / n_tokens - 5))) AS quality
         |  FROM feats
         |),
         |kept AS (
         |  SELECT * FROM scored
         |  WHERE n_markers * 1.0 / n_tokens > 0.05 AND quality >= 0.4 AND n_tokens >= 20
         |)
         |SELECT min(doc_id) AS survivor_id, min(n_tokens) AS n_tokens,
         |       count(*) AS n_copies
         |FROM kept GROUP BY md5(text) ORDER BY survivor_id""".stripMargin,

    "q_pii_redact" ->
      """WITH raws AS (
        |  SELECT o_orderkey,
        |         'contact user' || o_custkey || ' at user' || o_custkey ||
        |         '@example.com or +64-21-' ||
        |         lpad(CAST(o_orderkey % 10000000 AS VARCHAR), 7, '0') ||
        |         ' re order ' || o_orderkey AS raw
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |SELECT o_orderkey,
        |       len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS n_emails,
        |       len(regexp_extract_all(raw, '[+][0-9]{2}-[0-9]{2}-[0-9]{7}')) AS n_phones,
        |       regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]', '[EMAIL]', 'g'),
        |                      '[+][0-9]{2}-[0-9]{2}-[0-9]{7}', '[PHONE]', 'g') AS redacted
        |FROM raws ORDER BY o_orderkey""".stripMargin,

    "q_decile_lift" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      val bucket = s"(${hv("substr(md5(t.tok), 3, 1)")} * 16 + " +
        s"${hv("substr(md5(t.tok), 4, 1)")})"
      s"""WITH wts AS (
         |  SELECT i AS bucket, (i * 37) % 201 AS w
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)
         |),
         |bk AS (
         |  SELECT doc_id, $bucket AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |),
         |sc AS (
         |  SELECT doc_id, CAST(sum(w) * 10000 // count(*) AS BIGINT) AS score_pm
         |  FROM bk JOIN wts USING (bucket) GROUP BY doc_id
         |),
         |lbl AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) >= 500 AS truth
         |  FROM documents
         |),
         |base AS (
         |  SELECT sc.doc_id AS doc_id, score_pm, truth
         |  FROM sc JOIN lbl ON sc.doc_id = lbl.doc_id
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_all,
         |         CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
         |           AS pos_all
         |  FROM base
         |),
         |rk AS (
         |  SELECT truth, CAST(ntile(10) OVER (ORDER BY score_pm DESC, doc_id)
         |           AS BIGINT) AS decile
         |  FROM base
         |),
         |dec AS (
         |  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_pos
         |  FROM rk GROUP BY decile
         |),
         |cm AS (
         |  SELECT decile, n_docs, n_pos,
         |         sum(n_pos) OVER (ORDER BY decile
         |                          ROWS UNBOUNDED PRECEDING) AS cum_pos,
         |         sum(n_docs) OVER (ORDER BY decile
         |                           ROWS UNBOUNDED PRECEDING) AS cum_n
         |  FROM dec
         |)
         |SELECT decile, n_docs, n_pos, CAST(cum_pos AS BIGINT) AS cum_pos,
         |       CAST(cum_pos * 10000 // nullif(pos_all, 0) AS BIGINT)
         |         AS capture_pm,
         |       CAST(cum_pos * n_all * 100 // nullif(cum_n * pos_all, 0)
         |            AS BIGINT) AS lift_x100
         |FROM cm CROSS JOIN tot ORDER BY decile""".stripMargin
    },

    "q_auc" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      val bucket = s"(${hv("substr(md5(t.tok), 3, 1)")} * 16 + " +
        s"${hv("substr(md5(t.tok), 4, 1)")})"
      s"""WITH wts AS (
         |  SELECT i AS bucket, (i * 37) % 201 AS w
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)
         |),
         |bk AS (
         |  SELECT doc_id, $bucket AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |),
         |sc AS (
         |  SELECT doc_id, CAST(sum(w) * 10000 // count(*) AS BIGINT) AS score_pm
         |  FROM bk JOIN wts USING (bucket) GROUP BY doc_id
         |),
         |lbl AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) >= 500 AS truth
         |  FROM documents
         |),
         |rk AS (
         |  SELECT truth,
         |         CAST(row_number() OVER (ORDER BY score_pm ASC, sc.doc_id ASC)
         |           AS BIGINT) AS r
         |  FROM sc JOIN lbl ON sc.doc_id = lbl.doc_id
         |)
         |SELECT CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |       CAST(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_neg,
         |       CAST((sum(CASE WHEN truth THEN r ELSE 0 END)
         |             - sum(CASE WHEN truth THEN 1 ELSE 0 END)
         |               * (sum(CASE WHEN truth THEN 1 ELSE 0 END) + 1) // 2)
         |            * 10000
         |            // nullif(sum(CASE WHEN truth THEN 1 ELSE 0 END)
         |               * sum(CASE WHEN NOT truth THEN 1 ELSE 0 END), 0)
         |            AS BIGINT) AS auc_pm
         |FROM rk""".stripMargin
    },

    "q_ks_test" ->
      """WITH lens AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        |  FROM documents
        |),
        |hist AS (
        |  SELECT source, v, CAST(count(*) AS BIGINT) AS c
        |  FROM lens GROUP BY source, v
        |),
        |vals AS (SELECT DISTINCT v FROM hist),
        |srcs AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM hist GROUP BY source
        |),
        |corpus AS (
        |  SELECT v, CAST(sum(c) AS BIGINT) AS c_all FROM hist GROUP BY v
        |),
        |nall AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM hist),
        |grid AS (
        |  SELECT s.source AS source, n_s, vals.v AS v,
        |         coalesce(h.c, 0) AS c, corpus.c_all AS c_all
        |  FROM srcs s CROSS JOIN vals
        |  LEFT JOIN hist h ON h.source = s.source AND h.v = vals.v
        |  JOIN corpus ON corpus.v = vals.v
        |),
        |stepped AS (
        |  SELECT source, n_s, v,
        |         sum(c) OVER (PARTITION BY source ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING) AS cum_s,
        |         sum(c_all) OVER (PARTITION BY source ORDER BY v
        |                          ROWS UNBOUNDED PRECEDING) AS cum_all
        |  FROM grid
        |),
        |dd AS (
        |  SELECT source, n_s, v, abs(cum_s * n_all - cum_all * n_s) AS diff
        |  FROM stepped CROSS JOIN nall
        |),
        |mx AS (SELECT source, max(diff) AS d_raw FROM dd GROUP BY source)
        |SELECT dd.source AS source, CAST(n_s AS BIGINT) AS n_src,
        |       CAST(min(v) AS BIGINT) AS argmax_v,
        |       CAST(d_raw * 10000 // (n_s * (SELECT n_all FROM nall))
        |            AS BIGINT) AS d_pm
        |FROM dd JOIN mx ON dd.source = mx.source AND dd.diff = mx.d_raw
        |GROUP BY dd.source, n_s, d_raw
        |ORDER BY source""".stripMargin,

    "q_psi" -> {
      val vals = lnMyriadScaled.zipWithIndex
        .map { case (l, h) => s"($h,$l)" }.mkString(",")
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      val bucket = s"(${hv("substr(md5(t.tok), 3, 1)")} * 16 + " +
        s"${hv("substr(md5(t.tok), 4, 1)")})"
      s"""WITH lntab(h, ln_p12) AS (VALUES $vals),
         |wts AS (
         |  SELECT i AS bucket, (i * 37) % 201 AS w
         |  FROM (SELECT unnest(generate_series(0, 255)) AS i)
         |),
         |bk AS (
         |  SELECT doc_id, $bucket AS bucket
         |  FROM documents, unnest(string_split(text, ' ')) t(tok)
         |),
         |sc AS (
         |  SELECT doc_id, CAST(sum(w) * 10000 // count(*) AS BIGINT) AS score_pm
         |  FROM bk JOIN wts USING (bucket) GROUP BY doc_id
         |),
         |binned AS (SELECT doc_id, least(score_pm // 200000, 9) AS bin FROM sc),
         |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb FROM binned GROUP BY bin),
         |bn AS (SELECT CAST(sum(nb) AS BIGINT) AS n FROM b),
         |base AS (
         |  SELECT bin, greatest(least(nb * 10000 // n, 9999), 1) AS base_pm
         |  FROM b CROSS JOIN bn
         |),
         |cc AS (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS nb
         |  FROM binned WHERE doc_id % 4 = 0 GROUP BY bin
         |),
         |cn AS (SELECT CAST(sum(nb) AS BIGINT) AS n FROM cc),
         |cur AS (
         |  SELECT bin, greatest(least(nb * 10000 // n, 9999), 1) AS cur_pm
         |  FROM cc CROSS JOIN cn
         |),
         |bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin),
         |per AS (
         |  SELECT bins.bin AS bin, coalesce(base_pm, 1) AS base_pm,
         |         coalesce(cur_pm, 1) AS cur_pm
         |  FROM bins LEFT JOIN base ON bins.bin = base.bin
         |            LEFT JOIN cur ON bins.bin = cur.bin
         |),
         |pc AS (
         |  SELECT bin, base_pm, cur_pm,
         |         (base_pm - cur_pm) * (lc.ln_p12 - lb.ln_p12) AS contrib_p16
         |  FROM per JOIN lntab lb ON per.base_pm = lb.h
         |           JOIN lntab lc ON per.cur_pm = lc.h
         |)
         |SELECT bin, CAST(base_pm AS BIGINT) AS base_pm,
         |       CAST(cur_pm AS BIGINT) AS cur_pm,
         |       CAST(contrib_p16 AS BIGINT) AS contrib_p16,
         |       CAST((SELECT sum(contrib_p16) FROM pc) AS BIGINT) AS psi_p16
         |FROM pc ORDER BY bin""".stripMargin
    },

    "q_winsorize" ->
      """WITH hist AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, 2
        |),
        |cum AS (
        |  SELECT source, v, c,
        |         sum(c) OVER (PARTITION BY source ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |  FROM hist
        |),
        |cuts AS (
        |  SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
        |         min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN v END) AS p05_toks,
        |         min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v END) AS p95_toks
        |  FROM cum GROUP BY source
        |),
        |win AS (
        |  SELECT h.source AS source, n_docs, p05_toks, p95_toks,
        |         CAST(sum(c * greatest(least(v, p95_toks), p05_toks))
        |              AS BIGINT) AS win_total_toks
        |  FROM hist h JOIN cuts USING (source)
        |  GROUP BY h.source, n_docs, p05_toks, p95_toks
        |)
        |SELECT source, n_docs, p05_toks, p95_toks, win_total_toks,
        |       CAST(win_total_toks * 100 // n_docs AS BIGINT) AS win_mean_c
        |FROM win ORDER BY source""".stripMargin,

    "q_kn_smoothing" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT ws[u.i] AS w1, ws[u.i + 1] AS w2
        |        FROM w, unnest(generate_series(1, greatest(len(ws) - 1, 0))) u(i))
        |  GROUP BY w1, w2
        |),
        |lft AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |         CAST(count(*) AS BIGINT) AS r1
        |  FROM bg GROUP BY w1
        |),
        |cont AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS nleft FROM bg GROUP BY w2
        |),
        |consts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS tt,
        |         CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM bg
        |),
        |d AS (SELECT tt,
        |        coalesce(n1 * 10000 // nullif(n1 + 2 * n2, 0), 7500) AS d_pm
        |      FROM consts)
        |SELECT bg.w1 AS w1, bg.w2 AS w2, c12,
        |       CAST(greatest(c12 * 10000 - d_pm, 0) // c1
        |            + ((d_pm * r1 // c1) * (nleft * 10000 // tt)) // 10000
        |            AS BIGINT) AS p_kn_pm
        |FROM bg JOIN lft ON bg.w1 = lft.w1
        |        JOIN cont ON bg.w2 = cont.w2
        |        CROSS JOIN d
        |WHERE c12 >= 5
        |ORDER BY w1, w2""".stripMargin,

    "q_rank_biased_overlap" -> {
      val pw = (1 to 10).map(d =>
        math.round(StrictMath.pow(0.9, d - 1) * 1e12))
      val sfx = (1 to 10).map(m => (m to 10).map(d => pw(d - 1) / d).sum)
      val sfxCase = (1 to 10)
        .map(m => s"WHEN ${m} THEN ${sfx(m - 1)}").mkString(" ")
      s"""WITH lens AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |           AS n_toks
         |  FROM documents
         |),
         |tf AS (
         |  SELECT t.tok AS tok, d.doc_id AS doc_id,
         |         CAST(count(*) AS BIGINT) AS tf
         |  FROM documents d, unnest(string_split(d.text, ' ')) t(tok)
         |  WHERE t.tok IN ('the','a','of','and','in')
         |  GROUP BY t.tok, d.doc_id
         |),
         |scored AS (
         |  SELECT tok, tf.doc_id AS doc_id, tf,
         |         tf * 10000 // n_toks AS density_pm
         |  FROM tf JOIN lens ON tf.doc_id = lens.doc_id
         |),
         |ra AS (
         |  SELECT tok, doc_id, rk AS ra FROM (
         |    SELECT tok, doc_id, row_number() OVER (
         |      PARTITION BY tok ORDER BY tf DESC, doc_id) AS rk
         |    FROM scored) WHERE rk <= 10
         |),
         |rb AS (
         |  SELECT tok, doc_id, rk AS rb FROM (
         |    SELECT tok, doc_id, row_number() OVER (
         |      PARTITION BY tok ORDER BY density_pm DESC, doc_id) AS rk
         |    FROM scored) WHERE rk <= 10
         |)
         |SELECT ra.tok AS term, CAST(count(*) AS BIGINT) AS n_common,
         |       CAST(sum(CASE greatest(ra, rb) $sfxCase END) // 10
         |            AS BIGINT) AS rbo_p12
         |FROM ra JOIN rb ON ra.tok = rb.tok AND ra.doc_id = rb.doc_id
         |GROUP BY ra.tok ORDER BY term""".stripMargin
    },

    "q_bootstrap_ci" -> {
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      def md5c(i: Int) =
        hv(s"substr(md5(doc_id || '_' || g.b), $i, 1)")
      val u = s"((${md5c(1)} * 4096 + ${md5c(2)} * 256 + ${md5c(3)} * 16 + ${md5c(4)}) % 10000)"
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
         |  FROM documents
         |),
         |drawn AS (
         |  SELECT v, g.b AS b,
         |         CASE WHEN $u < 3679 THEN 0 WHEN $u < 7358 THEN 1
         |              WHEN $u < 9197 THEN 2 WHEN $u < 9810 THEN 3
         |              ELSE 4 END AS m
         |  FROM docs, unnest(generate_series(0, 99)) g(b)
         |),
         |reps AS (
         |  SELECT b, CAST(sum(m * v) AS BIGINT) AS wsum,
         |         CAST(sum(m) AS BIGINT) AS wn
         |  FROM drawn GROUP BY b
         |),
         |ranked AS (
         |  SELECT wsum * 100 // nullif(wn, 0) AS mean_x100,
         |         row_number() OVER (
         |           ORDER BY coalesce(wsum * 100 // nullif(wn, 0), -1), b)
         |           AS rk
         |  FROM reps
         |),
         |ci AS (
         |  SELECT CAST(min(CASE WHEN rk = 5 THEN mean_x100 END) AS BIGINT)
         |           AS lo_x100,
         |         CAST(min(CASE WHEN rk = 95 THEN mean_x100 END) AS BIGINT)
         |           AS hi_x100
         |  FROM ranked
         |),
         |pt AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(v) * 100 // count(*) AS BIGINT) AS point_x100
         |  FROM docs
         |)
         |SELECT n_docs, point_x100, lo_x100, hi_x100
         |FROM ci CROSS JOIN pt""".stripMargin
    },

    "q_good_turing" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |tg AS (
        |  SELECT ws[u.i] || '_' || ws[u.i + 1] || '_' || ws[u.i + 2] AS g
        |  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0))) u(i)
        |),
        |counts AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY g
        |),
        |coc AS (SELECT c, CAST(count(*) AS BIGINT) AS n_r
        |        FROM counts GROUP BY c)
        |SELECT a.c AS r, a.n_r AS n_r,
        |       CAST((a.c + 1) * coalesce(b.n_r, 0) * 10000 // a.n_r
        |            AS BIGINT) AS rstar_pm
        |FROM coc a LEFT JOIN coc b ON b.c = a.c + 1
        |WHERE a.c <= 10 ORDER BY r""".stripMargin,

    "q_calibration_bins" -> {
      s"""WITH wts AS (
         |  SELECT g.id AS bucket, (g.id * 37) % 201 AS w
         |  FROM generate_series(0, 255) g(id)
         |),
         |docs AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           t -> t IN ('the','a','of','and','in'))) AS BIGINT) * 10000
         |           // CAST(len(string_split(text, ' ')) AS BIGINT) >= 500
         |           AS truth,
         |         text
         |  FROM documents
         |),
         |tk AS (
         |  SELECT doc_id, truth,
         |         ('0x' || substr(md5(t.tok), 1, 4))::BIGINT % 256 AS bucket
         |  FROM docs, unnest(string_split(text, ' ')) t(tok)
         |),
         |perdoc AS (
         |  SELECT doc_id, truth, CAST(count(*) AS BIGINT) AS n_toks,
         |         CAST(sum(w) AS BIGINT) AS wsum
         |  FROM tk JOIN wts USING (bucket)
         |  GROUP BY doc_id, truth
         |),
         |scored AS (
         |  SELECT truth, wsum * 10000 // n_toks AS score_pm FROM perdoc
         |)
         |SELECT least(score_pm // 200000, 9) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(score_pm) // count(*) AS BIGINT) AS mean_score_pm,
         |       CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) * 10000
         |            // count(*) AS BIGINT) AS pos_pm
         |FROM scored GROUP BY bin ORDER BY bin""".stripMargin
    },

    "q_dp_noise" -> {
      val vals = lnMyriadScaled.zipWithIndex
        .map { case (l, h) => s"($h,$l)" }.mkString(",")
      val hv: String => String = c =>
        s"(CASE $c WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 " +
          s"WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 " +
          s"WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 " +
          s"WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
      def md5c(i: Int) = hv(s"substr(md5(source), $i, 1)")
      val h4 = s"((${md5c(1)} * 4096 + ${md5c(2)} * 256 + ${md5c(3)} * 16 + ${md5c(4)}) % 10000)"
      s"""WITH lntab(h, ln_p12) AS (VALUES $vals),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         $h4 - 5000 AS c
         |  FROM documents GROUP BY source
         |),
         |keyed AS (
         |  SELECT source, n_docs, c,
         |         greatest(2 * (5000 - abs(c)) - 1, 0) AS h
         |  FROM agg
         |)
         |SELECT source, n_docs,
         |       CAST(n_docs * 1000 + CAST(sign(c) AS BIGINT)
         |            * (50 * t.ln_p12 // 1000000000) AS BIGINT)
         |         AS released_milli
         |FROM keyed JOIN lntab t USING (h)
         |ORDER BY source""".stripMargin
    },
  )
}
