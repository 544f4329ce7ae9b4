package graft

import graft.queries.{EtlQueries, RelationalQueries}

/** Plan-shape assertions tying the scale claims to the optimizer's
  * actual output (SURVEY.md §4.1: pushdown, pruning, broadcast).
  */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(q: String, pack: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame]) =
    pack(q)(spark, sf).queryExecution.executedPlan.toString

  /** The plan AFTER execution — AdaptiveSparkPlan finalized, so
    * runtime conversions (shuffle→broadcast) are visible. Use for pins
    * on AQE-adaptive choices the initial plan deliberately leaves
    * open (the de-hinted drop-set broadcasts).
    */
  private def finalPlan(q: String, pack: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame]) = {
    val df = pack(q)(spark, sf)
    df.count()
    df.queryExecution.executedPlan.toString
  }

  test("q_agg_pricing: shipdate predicate is pushed to the parquet scan") {
    val p = plan("q_agg_pricing", RelationalQueries.queries)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"plan:\n$p")
  }

  test("q_agg_pricing: scan reads only the referenced columns") {
    val p = plan("q_agg_pricing", RelationalQueries.queries)
    assert(p.contains("ReadSchema: struct<l_quantity"), s"plan:\n$p")
    assert(!p.contains("l_partkey"), s"l_partkey should be pruned:\n$p")
    assert(!p.contains("l_suppkey"), s"l_suppkey should be pruned:\n$p")
  }

  test("q_broadcast_lookup_join: all three dim decodes broadcast") {
    val p = plan("q_broadcast_lookup_join", EtlQueries.queries)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected ≥3 BroadcastHashJoins, got $broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no dim decode should sort-merge:\n$p")
  }

  test("q_join_topk: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q_join_topk", RelationalQueries.queries)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), s"plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k should avoid a global sort:\n$p")
  }

  test("q_range_join: bucketing turns the interval predicate into a hash join") {
    val p = plan("q_range_join", RelationalQueries.queries)
    assert(p.contains("BroadcastHashJoin"), s"bucketed band join should hash-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the whole point is avoiding the nested-loop interval join:\n$p")
  }

  test("q_asof_join: exactly one exchange (the user_id shuffle), no join operator") {
    val p = plan("q_asof_join", graft.queries.EventQueries.queries)
    // union-merge as-of: no Join node at all; a single hashpartitioning
    // exchange feeds the window sort (plus the final presentation sort)
    assert(!p.contains("Join"), s"as-of should be join-free:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$p")
  }

  test("q_dedup_incremental: anti join on the content hash") {
    val p = plan("q_dedup_incremental", graft.queries.DedupQueries.queries)
    assert(p.contains("LeftAnti"), s"incremental dedup must anti-join:\n$p")
  }

  test("q_stratified_sample: single scan, no shuffle before the final agg exchange") {
    val p = plan("q_stratified_sample", RelationalQueries.queries)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), s"plan:\n$p")
    // one exchange for the groupBy, one for the presentation sort
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges:\n$p")
  }

  test("q_sample_per_group: WindowGroupLimit prunes to top-k before the shuffle") {
    val p = plan("q_sample_per_group", RelationalQueries.queries)
    // partial (map-side) + final group-limit — only ≤k rows per group
    // ever cross the exchange
    val limits = "WindowGroupLimit".r.findAllIn(p).length
    assert(limits >= 2, s"expected partial+final WindowGroupLimit:\n$p")
  }

  test("q_zorder_key: pure projection — no exchange except the presentation sort") {
    val p = plan("q_zorder_key", graft.queries.GeoQueries.queries)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"z-order keying must not shuffle, got $exchanges:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"),
      s"bit interleave should be codegen'd column ops:\n$p")
  }

  test("q_curation_pipeline: gates fuse into the scan stage before one hash shuffle") {
    val p = plan("q_curation_pipeline", graft.queries.TextQueries.queries)
    // filters + hash: a partial aggregate must appear below the exchange
    assert(p.contains("HashAggregate"), s"plan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"one content-hash shuffle expected, got $exchanges:\n$p")
  }

  test("q_upsert: one full-outer sort-merge join on the key, no cartesian") {
    val p = plan("q_upsert", RelationalQueries.queries)
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"MERGE core should be a full-outer SMJ (both sides big at scale):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("q_pack_sequences: window and aggregation share one source-key exchange") {
    val p = plan("q_pack_sequences", graft.queries.TextQueries.queries)
    // partitionBy(source) for the window satisfies the (source, seq_id)
    // aggregation's clustering too — no second hash exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected ≤1 hash exchange, got $shuffles:\n$p")
  }

  test("q_contamination: shingle-keyed equi join, never all-pairs") {
    val p = plan("q_contamination", graft.queries.TextQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap must join on the shingle key:\n$p")
  }

  test("q_partitioned_source: region filter prunes at the partition level") {
    val p = plan("q_partitioned_source", EtlQueries.queries)
    assert("PartitionFilters: \\[[^\\]]*region_code".r.findFirstIn(p).isDefined,
      s"partition filter should reach the listing, not the row filter:\n$p")
  }

  test("q_heavy_hitters: cached token stream + one posexplode sketch aggregation") {
    val p = plan("q_heavy_hitters", graft.queries.TextQueries.queries)
    // the r2 plan re-ran the token explode 5×; now the stream is cached
    // (exact side + sketch build read memory, the file is scanned once)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"token stream should be cached and reused:\n$p")
    // all 4 CMS rows built by ONE aggregation over posexplode'd buckets
    assert(p.contains("posexplode"), s"sketch rows should posexplode, not loop:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_approx_distinct_kmv: bounded sketch agg — no distinct exchange, no sort") {
    val p = plan("q_approx_distinct_kmv", RelationalQueries.queries)
    // the KMV branch is a typed Aggregator: partial ObjectHashAggregate
    // per partition, ONE single-partition exchange, final merge — the r2
    // plan's full `.distinct()` shuffle and global `.orderBy().limit(k)`
    // must both be gone
    assert(p.contains("ObjectHashAggregate"), s"sketch should be object agg:\n$p")
    assert(!p.contains("Sort "), s"no global sort of hash values allowed:\n$p")
    assert(!p.contains("TakeOrderedAndProject"), s"no top-k over distinct keys:\n$p")
    // remaining shuffles: the sketch's single-partition exchange plus the
    // exact countDistinct branch (kept only to report rel_error); the
    // sketch side itself must contribute no hash-partitioned shuffle
    val shuffles = "Exchange (SinglePartition|hashpartitioning)".r.findAllIn(p).length
    assert(shuffles <= 3, s"expected ≤3 shuffle exchanges, got $shuffles:\n$p")
    val distinctShuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(distinctShuffles <= 1,
      s"only the exact-branch distinct may hash-partition, got $distinctShuffles:\n$p")
  }

  test("q_bucketed_join: co-located SMJ — no exchange, no sort below the join") {
    val p = plan("q_bucketed_join", RelationalQueries.queries)
    assert(p.contains("SortMergeJoin"), s"bucketed join should sort-merge:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"scan should be bucketed:\n$p")
    // the only exchanges allowed are AFTER the join (groupBy + orderBy);
    // the join inputs come straight from the bucketed scans
    val joinIdx = p.indexOf("SortMergeJoin")
    val below = p.substring(joinIdx)
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed sides must not re-shuffle:\n$p")
    assert(!below.contains("Sort "),
      s"one-file-per-bucket sorted write should elide the SMJ sorts:\n$p")
  }

  test("q_phrase_index: probe runs on the persisted bucketed index — " +
      "the bigram count is the only hash exchange") {
    try {
      val p = plan("q_phrase_index", graft.queries.TextQueries.queries)
      // the probe reads the doc_id-bucketed postings layout: the term
      // lookups are parquet-pushed equality filters, and the positional
      // adjacency self-join plus the per-doc count both run on the
      // scan's doc_id partitioning — ZERO hash exchanges in the probe
      // plan (the phrase derivation is a separate bounded-artifact job)
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the bucketed postings table:\n$p")
      assert(p.contains("EqualTo(term,"),
        s"term lookups must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"the index probe must be exchange-free, got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
    assert(spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering",
      "false") == "false", "scoped conf must be restored after release")
  }

  test("q_proximity_index: band predicate rides the co-located doc_id " +
      "equi-join — exchange-free, never a product") {
    try {
      val p = plan("q_proximity_index", graft.queries.TextQueries.queries)
      // |Δpos| ≤ 3 must be a post-join condition on the equi-joined
      // pair stream, not a nested-loop interval join; and the probe
      // reuses q_phrase_index's bucketed layout with zero exchanges
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"proximity must equi-join on doc_id:\n$p")
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the bucketed postings table:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"the index probe must be exchange-free, got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_bool_retrieval: bitmask probe — one IN-pushed bucketed scan, " +
      "exchange-free per-doc mask aggregate") {
    try {
      val p = plan("q_bool_retrieval", graft.queries.TextQueries.queries)
      // ONE scan of the bucketed layout filtered to the three query
      // terms (parquet-pushed IN), the bit_or mask + tf aggregate on
      // the scan's doc_id partitioning — zero hash exchanges in the
      // probe (term derivation is a separate bounded-artifact job; the
      // presentation sort is a range exchange, not counted)
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the bucketed postings table:\n$p")
      assert(p.contains("In(term,"),
        s"the three-term lookup must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"the mask aggregate must be exchange-free, got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_index_search: conjunctive BM25 probe — every per-doc stage " +
      "rides the bucketed layout, zero exchanges") {
    try {
      val p = plan("q_index_search", graft.queries.TextQueries.queries)
      // both tf lookups, the AND join, the doc-length attach and the
      // final projection all run on the scan's doc_id partitioning;
      // top-k is a TakeOrdered, never a global sort exchange
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the bucketed postings table:\n$p")
      assert(p.contains("EqualTo(term,"),
        s"term lookups must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"the index probe must be exchange-free, got $hashEx:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-k must not global-sort:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_phrase_rank: BM25 phrase probe — adjacency join, tf count and " +
      "doc-length attach all ride the bucketed layout, zero exchanges") {
    try {
      val p = plan("q_phrase_rank", graft.queries.TextQueries.queries)
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the bucketed postings table:\n$p")
      assert(p.contains("EqualTo(term,"),
        s"term lookups must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"the index probe must be exchange-free, got $hashEx:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-k must not global-sort:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_index_incremental: base segment probes exchange-free; only the " +
      "delta pays shuffles") {
    try {
      val p = plan("q_index_incremental", graft.queries.TextQueries.queries)
      // the base side must come from the bucketed segment with pushed
      // term filters; the union must NOT erase its partitioning by
      // probing a merged postings stream — the only hash exchanges
      // allowed are the delta probe's (join + agg, ReuseExchange
      // typically collapses the join sides)
      assert(p.contains("SelectedBucketsCount"),
        s"base probe must scan the bucketed segment:\n$p")
      assert(p.contains("EqualTo(term,"),
        s"term lookups must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx <= 3,
        s"only the delta probe may shuffle (≤3 exchanges), got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_index_compact: the compacted generation probes exchange-free") {
    try {
      val p = plan("q_index_compact", graft.queries.TextQueries.queries)
      assert(p.contains("SelectedBucketsCount"),
        s"probe must scan the compacted bucketed generation:\n$p")
      assert(p.contains("EqualTo(term,"),
        s"term lookups must push to the parquet scan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 0,
        s"post-compaction probe must be exchange-free, got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_budget_select: returned plan is filter + source agg — the " +
      "cutoff never rides a corpus-wide window") {
    try {
      val p = plan("q_budget_select", graft.queries.TextQueries.queries)
      // the rank-selection work happened in the bounded-histogram
      // side jobs; the returned frame must be a plain filter over the
      // cached scored scan plus one source-keyed aggregate — if a
      // Window sneaks in here, someone reintroduced the
      // single-partition global-sort shape this query exists to avoid
      assert(!p.contains("Window"), s"no window in the selection plan:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx <= 1, s"expected ≤1 hash exchange (source agg), got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_classifier_score: weights broadcast under the token stream; " +
      "one doc-keyed aggregate") {
    val p = plan("q_classifier_score", graft.queries.TextQueries.queries)
    // inference must be a map-side broadcast join (the model is the
    // bounded side) + one partially-aggregated per-doc sum — never a
    // weights shuffle
    assert(p.contains("BroadcastHashJoin"),
      s"weights table must broadcast:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 1, s"expected ≤1 hash exchange (doc agg), got $hashEx:\n$p")
  }

  test("q_span_dedup: shingle-keyed equi-join back, doc-bounded windows, " +
      "never a product") {
    val p = plan("q_span_dedup", graft.queries.DedupQueries.queries)
    // the cross-doc test is min≠max on the shingle key (map-side
    // combinable), and the join back to positions is an equi-join on
    // the same key — never a doc product, never a count-distinct
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span detection must equi-join on the shingle:\n$p")
    assert(!p.toLowerCase.contains("distinct"),
      s"cross-doc test must be min/max, not count-distinct:\n$p")
    // exchanges: shingle key (groupBy + join-back may reuse), doc_id
    // windows, final doc agg — a handful, all key-bounded
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 4, s"expected ≤4 hash exchanges, got $hashEx:\n$p")
    // the shuffle key is the map-side xxhash64 of the shingle — the
    // ~40-byte 5-gram text itself must never cross an exchange
    assert(p.contains("xxhash64"),
      s"shingles must be hashed to 64-bit keys before the shuffle:\n$p")
  }

  test("q_snapshot_diff: co-bucketed full-outer merge — no exchange below " +
      "the join") {
    try {
      val p = plan("q_snapshot_diff", graft.queries.EtlQueries.queries)
      // both snapshots scan their doc_id-bucketed layout, so the
      // full-outer join needs no shuffle of either side; the only hash
      // exchange is the small per-(source, status) aggregate
      assert(p.contains("FullOuter"), s"diff must full-outer join:\n$p")
      assert(p.contains("SelectedBucketsCount"),
        s"snapshots must scan bucketed layouts:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx <= 1,
        s"only the status aggregate may hash-shuffle, got $hashEx:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_zrange_search: z-interval BETWEENs push to the sorted parquet scan") {
    val p = plan("q_zrange_search", graft.queries.GeoQueries.queries)
    // the coarse phase must reach the scan as pushed zkey range
    // predicates (row-group min/max skipping on the range-sorted
    // layout), with the exact gx/gy refine alive post-scan
    assert(p.contains("GreaterThanOrEqual(zkey,"),
      s"z-interval bounds must push to the parquet scan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0,
      s"a point-lookup-style range scan must not shuffle, got $exchanges:\n$p")
  }

  test("q_fuzzy_join: neighborhood blocking — equi-join, never a product") {
    val p = plan("q_fuzzy_join", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must block on deletion keys, not compare all pairs:\n$p")
  }

  test("q_dedup_remap / q_source_overlap: hash-keyed joins, never a product") {
    for (q <- Seq("q_dedup_remap", "q_source_overlap")) {
      val p = plan(q, graft.queries.DedupQueries.queries)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on the content hash:\n$p")
      graft.queries.QueryCaches.releaseAll(spark)
    }
  }

  test("q_token_histogram: one narrow scan, one hash aggregate exchange") {
    val p = plan("q_token_histogram", graft.queries.TextQueries.queries)
    assert(p.contains("HashAggregate"), s"plan:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected one bucket shuffle, got $shuffles:\n$p")
  }

  test("q_url_canonical: codegen'd canonicalization, one hash shuffle on the canon key") {
    val p = plan("q_url_canonical", graft.queries.DedupQueries.queries)
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"),
      s"canonicalization should be pure string expressions:\n$p")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 1, s"expected one canon-key shuffle, got $shuffles:\n$p")
  }

  test("q_ngram_novelty: shingle-keyed df join, cached explode, never a doc product") {
    val p = plan("q_ngram_novelty", graft.queries.TextQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty must join docs to shingle frequencies, not compare docs pairwise:\n$p")
    // the shingle explode is computed once and read from cache by both
    // the df aggregate and the join-back side
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2,
      s"shingle stream should be cached and reused:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_mix_sample: O(sources) rate table broadcast, one doc-scan aggregation") {
    val p = plan("q_mix_sample", graft.queries.TextQueries.queries)
    assert(p.contains("BroadcastHashJoin"),
      s"the rate table must broadcast to the doc scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"docs must not shuffle to meet the tiny rate side:\n$p")
  }

  test("q_mix_weights: 1-row totals broadcasts onto the rate table, no CartesianProduct") {
    val p = plan("q_mix_weights", graft.queries.TextQueries.queries)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals must attach map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a bare crossJoin would shuffle-product the rate table:\n$p")
  }

  test("q_embedding_near_dup: banded LSH blocking — equi-join on band keys, never a product") {
    val p = plan("q_embedding_near_dup", graft.queries.SimilarityQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must equi-join on (band_idx, band_val):\n$p")
    // the 4×-exploded band table is skinny: the embedding column must not
    // ride the candidate self-join — it is re-joined by id after dedup
    assert(p.contains("vec_bands"), s"banded signature kernel expected:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_runtime_filter: bloom filter from the filtered orders side lands on the lineitem scan") {
    // finally: a failed assert must still restore the scoped confs
    // (autoBroadcastJoinThreshold=-1 left set would cascade spurious
    // CartesianProduct failures into unrelated plan pins)
    try {
      val df = RelationalQueries.queries("q_runtime_filter")(spark, sf)
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg"),
        s"runtime bloom filter must be built from the creation side:\n$opt")
      assert(opt.contains("might_contain"),
        s"might_contain predicate must be injected on the application side:\n$opt")
    } finally graft.queries.QueryCaches.releaseAll(spark)
    // the scoped confs must be restored by the release
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "autoBroadcastJoinThreshold must be restored after release")
  }

  test("q_passage_overlap: inverted-index pair join — equi-join on fingerprint, never a product") {
    val p = plan("q_passage_overlap", graft.queries.TextQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair discovery must equi-join on the fingerprint key:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"small df-capped buckets: hash join, no sort:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_split_leakage: split assignment joins on the content hash, one audit cross join") {
    val p = plan("q_split_leakage", graft.queries.DedupQueries.queries)
    // member→survivor must be hash-keyed; the ONLY nested-loop join is
    // the broadcast of the 1-row leak-audit aggregate onto the 3-row
    // per-split aggregate (O(1) × O(splits) — free at any scale)
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(loops <= 1, s"only the 1-row audit attach may nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_scalar_subquery: correlated subqueries decorrelate into joins") {
    val p = plan("q_scalar_subquery", RelationalQueries.queries)
    assert(!p.contains("ScalarSubquery"),
      s"no per-row interpreted subquery may survive decorrelation:\n$p")
    val joins = "Join".r.findAllIn(p).length
    assert(joins >= 2, s"expected the two rewritten aggregate joins:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_skew_join_aqe: OptimizeSkewedJoin splits the hot partition at runtime") {
    // tighten the graft knobs so the sf0.001 hot partition qualifies,
    // then EXECUTE (AQE decides from real map-output sizes) and read
    // the final adaptive plan
    val thrKey = "spark.graft.skew.threshold"
    val advKey = "spark.graft.skew.advisory"
    spark.conf.set(thrKey, "2KB")
    spark.conf.set(advKey, "1KB")
    try {
      val df = RelationalQueries.queries("q_skew_join_aqe")(spark, sf)
      df.collect()
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("skew=true"),
        s"the hot-key join must be marked skew-optimized:\n$fin")
      assert(fin.contains("skewed"),
        s"an AQEShuffleRead must read skew-split partitions:\n$fin")
    } finally {
      graft.queries.QueryCaches.releaseAll(spark)
      spark.conf.unset(thrKey)
      spark.conf.unset(advKey)
    }
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "scoped confs must be restored after release")
  }

  test("q_spj_source: storage-partitioned join — no hash exchange anywhere in the plan") {
    try {
      val p = plan("q_spj_source", EtlQueries.queries)
      // scans report KeyGroupedPartitioning on region, so both groupBys
      // AND the join run exchange-free; only the presentation sort may
      // range-partition
      assert(!p.contains("Exchange hashpartitioning"),
        s"co-partitioned V2 scans must not shuffle:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "scoped confs must be restored after release")
  }

  test("q_containment: shingle-keyed equi-join, never a doc product") {
    val p = plan("q_containment", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment discovery must equi-join on the shingle key:\n$p")
    // r12: the intersection join is AQE-adaptive — at fixture scale
    // the cached excerpt side broadcasts (measured 1.67 → 1.36 s min
    // vs the former forced shuffle-hash), and beyond the threshold it
    // degrades to a shuffle instead of hard-failing the 8 GB broadcast
    // limit (the excerpt side is Θ(corpus), so a broadcast() hint here
    // would be a scale bug). r13: the df-cap drop-set broadcast is
    // AQE-adaptive too (the Zipf head is sublinear but unbounded), so
    // the INITIAL plan must carry NO forced broadcast anywhere — the
    // logical-plan hint check below makes that the asserted invariant,
    // not just a comment (r12 ADVICE: the old pin claimed it without
    // checking). AQE's runtime conversion is pinned separately on the
    // FINAL plan in the next test.
    assert(!p.contains("SortMergeJoin"),
      s"df-capped shingle buckets should hash, not sort:\n$p")
    val analyzed = graft.queries.DedupQueries.queries("q_containment")(spark, sf)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("UnresolvedHint") && !analyzed.contains("ResolvedHint"),
      s"no join may be hint-forced — AQE owns the broadcast decisions:\n$analyzed")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_containment: AQE converts the df-cap anti-joins to broadcast at runtime") {
    try {
      // the 100 TB skew guard, now asserted where it actually happens:
      // in the FINAL adaptive plan both shingle explodes are filtered
      // map-side by broadcast anti-joins against the Zipf-head
      // drop-set — hot shingles never enter a shuffle at fixture scale,
      // and past the broadcast threshold AQE degrades instead of
      // hard-failing (no hint to force the 8 GB limit)
      val p = finalPlan("q_containment", graft.queries.DedupQueries.queries)
      assert(p.contains("isFinalPlan=true"), s"pin needs the executed plan:\n$p")
      val anti = "BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length
      assert(anti >= 2,
        s"df cap should broadcast-anti-filter both explodes at runtime, got $anti:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_window_ohlc: window and aggregate share one (series, bucket) hash exchange") {
    val p = plan("q_window_ohlc", graft.queries.EventQueries.queries)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"the full-frame window's partitioning must feed the aggregate, got $hashEx hash exchanges:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ann_quantized: pair score is the native vec_idot kernel, not an interpreted lambda") {
    val p = plan("q_ann_quantized", graft.queries.SimilarityQueries.queries)
    assert(p.contains("vec_idot"),
      s"the pair stage must score with the codegen'd integer dot:\n$p")
    // the per-pair stage must not evaluate higher-order-function lambdas
    // (zip_with/aggregate evaluate interpreted per element); the per-ROW
    // quantize lambdas above the cache are fine — pin the score column
    assert(!p.contains("zip_with(qa"),
      s"no interpreted per-pair HOF may survive:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ann_rerank: cell-blocked coarse stage, integer kernel shortlist, pruned ranks") {
    val p = plan("q_ann_rerank", graft.queries.SimilarityQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the IVF cell equi-join, never a product:\n$p")
    assert(p.contains("vec_idot"),
      s"the coarse shortlist must score with the codegen'd integer dot:\n$p")
    assert(p.contains("vec_dot"),
      s"the fine rerank must score with the codegen'd float dot:\n$p")
    // both rank filters (coarse_rank<=10, rank<=3) must prune to running
    // top-k per group rather than fully sorting each group
    val limits = "WindowGroupLimit".r.findAllIn(p).length
    assert(limits >= 2,
      s"both rank stages must run as WindowGroupLimit, got $limits:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_knn_join: cell-blocked self-join — equi-join on label, native dot, pruned top-k") {
    val p = plan("q_knn_join", graft.queries.SimilarityQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the self-join must block on the IVF cell, never the N×N product:\n$p")
    assert(p.contains("vec_dot"),
      s"pair scoring must be the codegen'd vec_dot kernel:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must prune to a running top-k, not a full per-key sort:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_quantile_sketch: sample gate sits under one aggregation exchange, narrow scan") {
    val p = plan("q_quantile_sketch", RelationalQueries.queries)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"sampled percentile needs exactly the group-by exchange, got $hashEx:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey") && !p.contains("l_shipdate"),
      s"scan must read only the gate + value columns:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_lm_score: token-keyed count joins + broadcast vocab, never a doc product") {
    val p = plan("q_lm_score", graft.queries.TextQueries.queries)
    assert(!p.contains("CartesianProduct"),
      s"LM scoring must join on bigram/prefix keys, never a product:\n$p")
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl == 1, s"exactly the 1-row vocab may nested-loop attach, got $bnl:\n$p")
    // the bigram explode is deliberately NOT cached (r15 adjudication:
    // isolated 7-pass A/B, uncached min/med 0.913/1.138 vs cached
    // 0.948/1.223 — codegen recompute beats materializing the exploded
    // string-heavy frame, the 4th cache reversed under the §8 rule)
    assert(!p.contains("InMemoryTableScan"),
      s"the bigram explode must recompute in codegen, not cache:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_semdedup: cell-blocked kNN edges, never a corpus product") {
    // the component rounds checkpoint eagerly, so build only the edge
    // stage the way the query does and pin ITS plan: the candidate
    // self-join must key on the quantizer cell
    import org.apache.spark.sql.functions._
    graft.plans.VecKernels.register(spark)
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        col("label").cast("bigint").as("cell"))
    val a = base.select(col("vec_id"), col("embedding").as("ea"), col("cell"))
    val b = base.select(col("vec_id").as("nbr_id"),
      col("embedding").as("eb"), col("cell"))
    val scored = a.join(b, Seq("cell")).filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim", expr("round(vec_dot(ea, eb), 4)"))
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semdedup candidates must equi-join on the cell, never a product:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_embed_covariance: codegen triangle self-join + hash aggregate, " +
      "no boxed Aggregator (r16)") {
    val p = plan("q_embed_covariance", graft.queries.SimilarityQueries.queries)
    // the r16 rewrite: posexplode + per-vector equi-self-join + ONE
    // map-combinable hash aggregate to the 2080-cell frame — the boxed
    // Seq[Long] Aggregator (ObjectHashAggregate) cost 38.7 s of
    // interpreted-lambda work that the old count() consume had hidden
    assert(!p.contains("ObjectHashAggregate"),
      s"the gram reduce must be a codegen hash aggregate, not the boxed Aggregator:\n$p")
    assert(p.contains("HashAggregate") && p.contains("partial_sum"),
      s"cell sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"margins must broadcast onto the cell frame:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_anomaly_mad: both percentile tables broadcast back onto the fact") {
    val p = plan("q_anomaly_mad", graft.queries.EventQueries.queries)
    // 3 = the med attach under the MAD aggregate, the med attach in the
    // flag pass, and the mad attach — exact two-pass MAD is 3 fact
    // scans each with a broadcast O(groups) build side, nothing more
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj == 3, s"percentile attaches must all broadcast, got $bhj:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffle join may touch the fact side:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_weighted_sample: global weighted top-k plans as TakeOrderedAndProject") {
    val p = plan("q_weighted_sample", graft.queries.TextQueries.queries)
    assert(p.contains("TakeOrderedAndProject"),
      s"A-ES sampling must be a running top-k, never a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no range-partitioned sort may appear:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_set_join_prefix: prefix-blocked candidates, broadcast verification, never a product") {
    val p = plan("q_set_join_prefix", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must key on prefix shingles, never a product:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the exploded shingle table has three consumers and must be cached:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(dups) candidate table must broadcast into verification:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_retention_cohort: user-keyed aggregates, broadcast cohort sizes, no fact window") {
    val p = plan("q_retention_cohort", graft.queries.EventQueries.queries)
    assert(!p.contains("Window"), s"cohorting must aggregate, not window the fact:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the O(cohorts) size table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_triangle_count: wedge and closing joins are equi-joins, oriented edges cached") {
    val p = plan("q_triangle_count", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct"),
      s"triangle enumeration must never plan a product:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the oriented edge table has two consumers and must be cached:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_pq_assign: the 128-row codebook broadcasts under the subvector stream") {
    val p = plan("q_pq_assign", graft.queries.SimilarityQueries.queries)
    assert(p.contains("BroadcastHashJoin"),
      s"the codebook must broadcast, never shuffle the corpus for it:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no assignment-path join may sort-merge the corpus:\n$p")
    assert(!p.contains("SortAggregate"),
      s"the packed-bigint argmin must hash-aggregate (min(struct) would sort):\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_pq_adc_topk: codebook and query tables broadcast; top-k prunes via group limit") {
    val p = plan("q_pq_adc_topk", graft.queries.SimilarityQueries.queries)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      s"codebook AND per-query distance tables must broadcast, got $broadcasts:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-3 must prune with a running group limit, not a full sort:\n$p")
    assert(!p.contains("SortAggregate"),
      s"code argmin and ADC sums must hash-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_kmv_by_group: per-group sketches partially aggregate map-side") {
    val p = plan("q_kmv_by_group", graft.queries.RelationalQueries.queries)
    assert(p.contains("partial_kmvagg"),
      s"the KMV buffers must combine before the group exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-month exact side (≤ months rows) must broadcast:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ann_ivf_probe2: centroid table broadcasts; candidate search joins on the probed cell") {
    val p = plan("q_ann_ivf_probe2", graft.queries.SimilarityQueries.queries)
    // specifically the query×centroid cross join — only it can produce a
    // BroadcastNestedLoopJoin here (a BroadcastExchange elsewhere, e.g.
    // the probed side of the candidate join, must not satisfy this pin)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the |cells|-row centroid table must broadcast under the queries:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the corpus-side candidate join must be the cell equi-join:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_pq_kmeans: codebook broadcasts at every Lloyd assignment, argmin hash-aggregates") {
    val p = plan("q_pq_kmeans", graft.queries.SimilarityQueries.queries)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 2,
      s"both iterations' codebooks must broadcast, got $broadcasts:\n$p")
    assert(!p.contains("SortAggregate"),
      s"the packed-bigint argmin must hash-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_skyline: one aggregate then a window over distinct sizes — no join anywhere") {
    val p = plan("q_skyline", RelationalQueries.queries)
    assert(!p.contains("Join"), s"the skyline must not self-join:\n$p")
    assert(p.contains("HashAggregate"), s"per-size max must hash-aggregate:\n$p")
    assert(p.contains("Window"), s"dominance must resolve in a window:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_negative_sample: candidate rejection is a left-anti equi-join") {
    val p = plan("q_negative_sample", graft.queries.EventQueries.queries)
    assert(p.contains("LeftAnti"),
      s"interaction rejection must anti-join, never enumerate the catalog:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_attribution: user-keyed pairing; both windows share one purchase exchange") {
    val p = plan("q_attribution", graft.queries.EventQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"purchase-touch pairing must stay a user equi-join:\n$p")
    val purchaseExchanges =
      "Exchange hashpartitioning\\(purchase_id".r.findAllIn(p).length
    assert(purchaseExchanges == 1,
      s"rank and count windows must share one purchase_id exchange, got $purchaseExchanges:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_late_interaction: query bag broadcasts; MaxSim reduces through hash aggregates") {
    val p = plan("q_late_interaction", graft.queries.SimilarityQueries.queries)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 24-row query bag must broadcast under the candidate stream:\n$p")
    assert(p.contains("vec_idot"),
      s"subvector dots must run in the native integer kernel:\n$p")
    assert(!p.contains("SortAggregate"),
      s"max/sum reductions must hash-aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_flow_direction: eight stencil equi-joins, no product, cells cached once") {
    val p = plan("q_flow_direction", graft.queries.RasterQueries.queries)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every neighbor lookup must be a (grid, row, col) equi-join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the parsed cell table must come from the shared cache:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ivfpq_search: centroids, residual codebook and ADC tables all broadcast") {
    val p = plan("q_ivfpq_search", graft.queries.SimilarityQueries.queries)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4,
      s"cell centroids, codebook, probe list and ADC tables must broadcast, got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every lookup must be an equi-join:\n$p")
    assert(!p.contains("SortAggregate"),
      s"residual distances and argmins must hash-aggregate:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_semdedup_sweep: every threshold reads the cached edge set, never the corpus") {
    val p = plan("q_semdedup_sweep", graft.queries.SimilarityQueries.queries)
    assert(p.contains("InMemoryTableScan"),
      s"the kNN edge set must come from the shared cache:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cell blocking must keep the scoring an equi-join:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_graph_bfs: frontier expansion is equi-joins over the cached edge list") {
    val p = plan("q_graph_bfs", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct"),
      s"hops must be src-keyed equi-joins:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the edge list must come from the shared cache:\n$p")
    assert(p.contains("HashAggregate"),
      s"the per-hop min-combine must hash-aggregate:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_vocab_growth: conditional aggregates + 1-row broadcast bounds, no wide join") {
    val p = plan("q_vocab_growth", graft.queries.TextQueries.queries)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"checkpoint cuts must not join the corpus wide:\n$p")
    assert(p.contains("HashAggregate"), s"first-seen must hash-aggregate:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_hybrid_rrf: query bags broadcast into both scorers; fusion is an equi-join") {
    val p = plan("q_hybrid_rrf", graft.queries.SimilarityQueries.queries)
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnl >= 2,
      s"both modality scorers must broadcast the 3-query bag, got $bnl:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast product anywhere:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_countmin_est: the sketch is one bounded hash aggregate; probes broadcast") {
    val p = plan("q_countmin_est", graft.queries.DedupQueries.queries)
    assert(p.contains("HashAggregate"),
      s"cell counts must partially aggregate map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 40-row probe table must broadcast into the sketch:\n$p")
    assert(!p.contains("ScalaUDF"), s"pure expression pipeline:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_dedup_bloom: plan-internal native bloom — might_contain binds, no UDF") {
    val p = plan("q_dedup_bloom", graft.queries.DedupQueries.queries)
    assert(p.contains("might_contain"),
      s"the probe must be the native BloomFilterMightContain expression:\n$p")
    assert(p.contains("bloom_filter_agg") || p.contains("Subquery"),
      s"the sketch must be built by a plan-internal scalar subquery:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"the dedup pack must be UDF-free:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ann_recall: bounded broadcast crosses + pruned top-k, no ScalaUDF") {
    val p = plan("q_ann_recall", graft.queries.SimilarityQueries.queries)
    // the 5-query exact side and the ≤16-centroid distance table must
    // both broadcast — the corpus never rides an all-pairs shuffle
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query sample / centroids must broadcast into the scan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-10 must prune per-partition before the final window sort:\n$p")
    assert(!p.contains("ScalaUDF"),
      s"distance/similarity kernels must be the native expressions:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ivf_train: Lloyd steps are broadcast-assign + hash-aggregate update") {
    val p = plan("q_ivf_train", graft.queries.SimilarityQueries.queries)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the packed centroids must broadcast into every assignment:\n$p")
    assert(p.contains("HashAggregate"),
      s"centroid updates must hash-aggregate (map-side combined):\n$p")
    assert(!p.contains("ScalaUDF"),
      s"assignment distances must run in the native integer kernel:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_dedup_bloom: a saturated (clamped) sketch degrades fpp, not correctness") {
    // Scale-cliff check (VERDICT r10): force the analyzer caps far
    // below the corpus size — the clamp must size the sketch AT the
    // cap (no analysis-time rejection), the saturated filter's extra
    // false positives must flow to the exact verify branch, and the
    // result must stay identical to the plain anti-join
    // (q_dedup_incremental) row for row.
    val items = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bits = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prevI = spark.conf.getOption(items)
    val prevB = spark.conf.getOption(bits)
    try {
      spark.conf.set(items, "50")
      spark.conf.set(bits, "512") // ~1 bit/doc at sf0.001: heavy saturation
      val got = graft.queries.DedupQueries.queries("q_dedup_bloom")(spark, sf)
        .collect().map(_.toSeq).toSeq
      graft.queries.QueryCaches.releaseAll(spark)
      val want = graft.queries.DedupQueries.queries("q_dedup_incremental")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got.nonEmpty, "saturation check needs a non-empty survivor set")
      assert(got == want,
        s"clamped-bloom result diverged from the exact anti-join: " +
          s"${got.size} vs ${want.size} rows")
    } finally {
      prevI.fold(spark.conf.unset(items))(spark.conf.set(items, _))
      prevB.fold(spark.conf.unset(bits))(spark.conf.set(bits, _))
      graft.queries.QueryCaches.releaseAll(spark)
    }
  }

  test("q_phrase_search: doc-local bigrams — no adjacency self-join (r12)") {
    val p = plan("q_phrase_search", graft.queries.TextQueries.queries)
    // the old positional posting-list shape sort-merge-self-joined on
    // (doc_id, pos); the rewrite's only join is the 1-row broadcast
    // phrase probe, and the global top-20 prunes as TakeOrdered
    assert(!p.contains("SortMergeJoin"), s"adjacency must not SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"phrase probe should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 should prune:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_ngram_novelty: no shingle-keyed join-back — joins run at doc granularity (r12)") {
    val p = plan("q_ngram_novelty", graft.queries.TextQueries.queries)
    assert(!p.contains("Join [shingle"),
      s"the df attach must not re-join the exploded shingle table:\n$p")
    assert(p.contains("Join [doc_id"), s"final join should key on doc_id:\n$p")
    graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_graph_kcore: peel rounds are ANTI joins on the drop-set, " +
      "broadcast by AQE at runtime (r12/r13)") {
    try {
      // r13: the drop-set broadcasts are AQE-adaptive, not hint-forced
      // (in a general graph the peel boundary is O(|V|)), so the
      // broadcast assertion moved to the FINAL plan — at fixture scale
      // AQE must still convert every peel anti-join from the cached
      // degree aggregate's runtime stats
      val p = finalPlan("q_graph_kcore", graft.queries.DedupQueries.queries)
      val antis = "LeftAnti".r.findAllIn(p).length
      assert(antis >= 6, s"3 rounds x 2 endpoints should anti-join, got $antis:\n$p")
      assert(!p.contains("LeftSemi"), s"keep-set semi-joins were replaced:\n$p")
      val bcastAntis = "BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length
      assert(bcastAntis >= 6,
        s"AQE should broadcast every peel drop-set at runtime, got $bcastAntis:\n$p")
    } finally graft.queries.QueryCaches.releaseAll(spark)
  }

  test("q_rolling_distinct: exactly the three keyed exchanges — grid, " +
      "user window, day aggregate — and no windowed count-distinct (r14)") {
    val p = plan("q_rolling_distinct", graft.queries.EventQueries.queries)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 3,
      s"interval decomposition needs (user,d) agg + user window + day agg, got $hashEx:\n$p")
    // the exact decomposition explodes ≤7-day intervals; a windowed
    // count-distinct (the naive shape) would plan a distinct aggregate
    assert(p.contains("sequence("), s"interval explode missing:\n$p")
    assert(!p.toLowerCase.contains("distinct]"),
      s"no distinct aggregate may appear downstream of the grid:\n$p")
  }

  test("q_freq_itemsets: the brand decode broadcasts under the fact scan; " +
      "the pair join keys on the basket (r14)") {
    val p = plan("q_freq_itemsets", graft.queries.RelationalQueries.queries)
    assert(p.contains("BroadcastHashJoin [l_partkey"),
      s"the part dim must broadcast at the lineitem scan:\n$p")
    assert("Join \\[basket|SortMergeJoin \\[basket".r.findFirstIn(p).isDefined ||
      p.contains("basket#"),
      s"pair generation must be basket-keyed:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product anywhere:\n$p")
    assert(!p.contains("InMemoryTableScan"),
      s"the basket frame is deliberately NOT cached (cache A/B in docs/ROUND14_NOTES.md, \"Measured perf work\"):\n$p")
  }

  test("q_sparse_knn: the df window is an absolute clamp and the pair " +
      "join is a term equi-join (r14)") {
    val p = plan("q_sparse_knn", graft.queries.TextQueries.queries)
    // the load-bearing scale bound: least(greatest(nd div 100, 5), 100)
    // must survive into the physical plan's filter (a relative-only cap
    // re-introduces the measured 71x blow-up at 10x)
    assert(p.contains("least(greatest("),
      s"absolute df clamp missing from the keep filter:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"posting pairs must come from the t equi-join:\n$p")
  }

  test("q_interval_concurrency: sweep-line, not an interval self-join (r15)") {
    val p = finalPlan("q_interval_concurrency",
      graft.queries.RelationalQueries.queries)
    // the whole point of the operator: NO quadratic pairing anywhere —
    // the concurrency count comes from a nation-keyed running sum
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"interval overlap must never pair intervals:\n$p")
    assert(p.contains("Window"), s"the sweep is a window running sum:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"nation decode must broadcast:\n$p")
  }

  test("q_good_turing: count-of-counts self-join broadcasts on the " +
      "bounded frame (r15)") {
    val p = finalPlan("q_good_turing", graft.queries.TextQueries.queries)
    assert(p.contains("BroadcastHashJoin"),
      s"the r -> r+1 join runs on the bounded |distinct counts| frame " +
        s"and must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"gram counts must combine map-side:\n$p")
  }

  test("q_cdc_chunk_dedup: doc-bounded windows, chunk-hash equi-joins, " +
      "no count-distinct (r15)") {
    val p = plan("q_cdc_chunk_dedup", graft.queries.DedupQueries.queries)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cross-doc marking must equi-join on the chunk hash:\n$p")
    assert(!p.toLowerCase.contains("distinct"),
      s"the cross-doc test must be min/max, never count-distinct:\n$p")
    // exchanges: doc window, chunk assembly, chunk-hash agg + join
    // back, final doc agg — all key-bounded
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx <= 5, s"expected ≤5 hash exchanges, got $hashEx:\n$p")
  }

  test("q_cdc_chunk_dedup large-corpus path: hot chunks route through a " +
      "broadcast drop-set, sub-cap keys keep the equi-join (r16)") {
    withConf("spark.graft.cdc.forceRouted" -> "true") {
      val p = plan("q_cdc_chunk_dedup", graft.queries.DedupQueries.queries)
      // the hot drop-set marking must reach the chunk rows as a
      // broadcast (map-side; the hot keys never enter a shuffle)
      assert(p.contains("BroadcastHashJoin"),
        s"hot-chunk drop-set must broadcast:\n$p")
      assert(p.contains("Union"),
        s"hot and cold rows must merge before the per-doc aggregate:\n$p")
      assert(!p.contains("CartesianProduct"), s"no product:\n$p")
      // same answer either path: the routed plan is answer-preserving,
      // pinned by the oracle gate which runs the default path
    }
  }

  test("q_freq_itemsets large-corpus path: the bounded frequent-item " +
      "frame broadcasts into the semi-join and the decode joins (r20)") {
    val routed = {
      var rows: Seq[org.apache.spark.sql.Row] = Seq.empty
      withConf("spark.graft.freqitems.forceBroadcast" -> "true") {
        val p = plan("q_freq_itemsets", RelationalQueries.queries)
        // freq is ≤ ⌈1/support⌉ = 50 rows at ANY corpus size; above the
        // size gate it must probe as a broadcast, never re-shuffle the
        // corpus-sized basket-item frame by item
        assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(p).isDefined,
          s"frequent-item filter must broadcast into the semi-join:\n$p")
        assert(!p.contains("SortMergeJoin LeftSemi"),
          s"the corpus frame must not re-shuffle by item for a ≤50-row probe:\n$p")
        rows = RelationalQueries.queries("q_freq_itemsets")(spark, sf)
          .collect().toSeq
      }
      rows
    }
    // answer-preserving: a join-strategy hint cannot move rows — the
    // routed result equals the default (plain, fixture-scale) path's,
    // which the DuckDB oracle gates every round
    val plain = RelationalQueries.queries("q_freq_itemsets")(spark, sf)
      .collect().toSeq
    assert(routed == plain,
      "broadcast-routed q_freq_itemsets diverged from the plain path")
  }

  test("q_audio_vad: per-clip totals broadcast back; windows are " +
      "doc-bounded (r15)") {
    val p = finalPlan("q_audio_vad", graft.queries.MultimodalQueries.queries)
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("Window"), s"segments come from a window pair:\n$p")
  }

  test("q_centroid_drift: one corpus aggregate, bounded tail (r15)") {
    val p = finalPlan("q_centroid_drift",
      graft.queries.SimilarityQueries.queries)
    // the corpus is read ONCE: the label-keyed vector-sum result (a
    // bounded |labels| frame) is cached and BOTH consumers — the
    // global-centroid derivation and the output row set — read the
    // InMemoryTableScan, never a second embeddings pass. (The plan
    // text still prints FileScan lines inside the cached relation's
    // own recorded plan, so we pin the reuse, not a raw scan count.)
    val reuse = "InMemoryTableScan".r.findAllIn(p).length
    assert(reuse >= 2,
      s"both consumers must read the cached label frame, got $reuse:\n$p")
    // the 1-row global joins back as a broadcast cross of a bounded
    // frame — the q_apportionment shape; no corpus-sized product
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"global centroid must broadcast back:\n$p")
  }
}
