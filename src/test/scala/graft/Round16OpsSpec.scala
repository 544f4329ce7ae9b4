package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, EventQueries, SimilarityQueries, TextQueries}

/** Independent references for the round-16 operators — each test
  * recomputes the operator's answer from the raw fixture with plain
  * Scala collections (no Spark relational ops), so an engine-side and
  * oracle-side bug that agree cannot both slip through the hash gate.
  */
class Round16OpsSpec extends SparkSpecBase {

  private def docs: Seq[(Long, String, String)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  test("winsorize: per-source rank-percentile clamp matches a sort-based reference") {
    val got = TextQueries.queries("q_winsorize")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val bySrc = docs.groupBy(_._2)
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, ds) =>
      val lens = ds.map(_._3.split(" ").length.toLong).sorted
      val n = lens.length
      def atRank(r: Long) = lens((r - 1).toInt) // 1-based rank in sorted order
      val p05 = atRank((n * 5 + 99) / 100)
      val p95 = atRank((n * 95 + 99) / 100)
      val winTotal = lens.map(v => math.max(math.min(v, p95), p05)).sum
      val row = got(src)
      assert(row.getAs[Long]("n_docs") == n, src)
      assert(row.getAs[Long]("p05_toks") == p05, s"$src p05")
      assert(row.getAs[Long]("p95_toks") == p95, s"$src p95")
      assert(row.getAs[Long]("win_total_toks") == winTotal, s"$src total")
      assert(row.getAs[Long]("win_mean_c") == winTotal * 100 / n, s"$src mean")
    }
  }

  test("kn smoothing: probabilities match the interpolated-KN integer formula " +
      "recomputed from raw bigram counts") {
    val bg = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { case (_, _, t) =>
      val w = t.split(" ")
      (0 until w.length - 1).foreach { i =>
        bg((w(i), w(i + 1))) = bg.getOrElse((w(i), w(i + 1)), 0L) + 1
      }
    }
    val c1 = bg.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
    val r1 = bg.groupBy(_._1._1).map { case (k, m) => k -> m.size.toLong }
    val nleft = bg.groupBy(_._1._2).map { case (k, m) => k -> m.size.toLong }
    val tt = bg.size.toLong
    val n1 = bg.values.count(_ == 1L).toLong
    val n2 = bg.values.count(_ == 2L).toLong
    val dPm = if (n1 + 2 * n2 == 0) 7500L else n1 * 10000 / (n1 + 2 * n2)
    val got = TextQueries.queries("q_kn_smoothing")(spark, sf).collect()
    assert(got.nonEmpty)
    val expected = bg.filter(_._2 >= 5)
    assert(got.length == expected.size)
    got.foreach { r =>
      val (w1, w2, c12) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(bg((w1, w2)) == c12)
      val p = math.max(c12 * 10000 - dPm, 0L) / c1(w1) +
        (dPm * r1(w1) / c1(w1)) * (nleft(w2) * 10000 / tt) / 10000
      assert(r.getAs[Long]("p_kn_pm") == p, s"($w1,$w2)")
    }
  }

  test("bootstrap CI: replica draws and order statistics match an exact " +
      "md5 reference") {
    def md5head4(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      (((d(0) & 0xffL) << 8) | (d(1) & 0xffL)) % 10000
    }
    def mult(u: Long): Long =
      if (u < 3679) 0 else if (u < 7358) 1 else if (u < 9197) 2
      else if (u < 9810) 3 else 4
    val vs = docs.map { case (id, _, t) => id -> t.split(" ").length.toLong }
    val means = (0 until 100).map { b =>
      var ws = 0L; var wn = 0L
      vs.foreach { case (id, v) =>
        val m = mult(md5head4(s"${id}_$b"))
        ws += m * v; wn += m
      }
      (ws * 100 / wn, b)
    }.sorted
    val row = TextQueries.queries("q_bootstrap_ci")(spark, sf).collect().head
    assert(row.getAs[Long]("n_docs") == vs.length.toLong)
    assert(row.getAs[Long]("point_x100") == vs.map(_._2).sum * 100 / vs.length)
    assert(row.getAs[Long]("lo_x100") == means(4)._1)
    assert(row.getAs[Long]("hi_x100") == means(94)._1)
  }

  test("rank-biased overlap: rbo matches the truncated-RBO reference on " +
      "hand-ranked lists") {
    val terms = Seq("the", "a", "of", "and", "in")
    val pw = (1 to 10).map(d => math.round(StrictMath.pow(0.9, d - 1) * 1e12))
    val sfx = (1 to 10).map(m => (m to 10).map(d => pw(d - 1) / d).sum)
    val perDoc = docs.map { case (id, _, t) =>
      val toks = t.split(" ")
      (id, toks.length.toLong, terms.map(tm => tm -> toks.count(_ == tm).toLong).toMap)
    }
    val expected = terms.flatMap { tm =>
      val present = perDoc.filter(_._3(tm) > 0)
        .map { case (id, n, m) => (id, m(tm), m(tm) * 10000 / n) }
      if (present.isEmpty) None
      else {
        val ra = present.sortBy(x => (-x._2, x._1)).take(10)
          .zipWithIndex.map { case (x, k) => x._1 -> (k + 1) }.toMap
        val rb = present.sortBy(x => (-x._3, x._1)).take(10)
          .zipWithIndex.map { case (x, k) => x._1 -> (k + 1) }.toMap
        val common = ra.keySet intersect rb.keySet
        if (common.isEmpty) None
        else Some(tm -> (common.size.toLong,
          common.toSeq.map(id => sfx(math.max(ra(id), rb(id)) - 1)).sum / 10))
      }
    }.toMap
    val got = TextQueries.queries("q_rank_biased_overlap")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("simpson diversity: HHI and effective-cluster count match a " +
      "hash-map reference over the dup-injected corpus") {
    val corpus = docs.map { case (id, _, t) => (id, t) } ++
      docs.filter(_._1 % 4 == 0).map { case (id, _, t) => (id + 2000000L, t) } ++
      docs.filter(_._1 % 3 == 0).map { case (id, _, t) => (id + 1000000L, t + " zzz tail") }
    val srcOf = docs.map { case (id, s2, _) => id -> s2 }.toMap
    val bySrc = corpus.groupBy { case (id, _) => srcOf(id % 1000000L) }
    val got = DedupQueries.queries("q_simpson_diversity")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    bySrc.foreach { case (src, ds) =>
      val sizes = ds.groupBy(_._2).values.map(_.size.toLong)
      val n = sizes.sum; val ss = sizes.map(x => x * x).sum
      val row = got(src)
      assert(row.getAs[Long]("n_docs") == n, src)
      assert(row.getAs[Long]("n_clusters") == sizes.size.toLong, src)
      assert(row.getAs[Long]("hhi_pm") == ss * 10000 / (n * n), src)
      assert(row.getAs[Long]("eff_x100") == n * n * 100 / ss, src)
    }
  }

  test("sax motifs: symbols come from exact quartile ranks and motif " +
      "counts match a reference walk") {
    val daily = spark.read.parquet(s"$sf/events.parquet")
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = scala.collection.mutable.Map[(String, String), Long]()
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val cs = rows.map(_._3).sorted
      val m = cs.length
      def q(k: Int) = cs((((m.toLong * k + 3) / 4) - 1).toInt)
      val (q1, q2, q3) = (q(1), q(2), q(3))
      def sym(c: Long) =
        if (c <= q1) "a" else if (c <= q2) "b" else if (c <= q3) "c" else "d"
      val syms = rows.sortBy(_._2).map(r => sym(r._3))
      syms.sliding(3).filter(_.length == 3).foreach { w =>
        val k = (et, w.mkString)
        expected(k) = expected.getOrElse(k, 0L) + 1
      }
    }
    val exp2 = expected.filter(_._2 >= 2)
    val got = EventQueries.queries("q_sax_motifs")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == exp2.toMap)
  }

  test("ks test: per-source sup distance matches an exact CDF-walk reference") {
    val all = docs.map { case (_, s2, t) => (s2, t.split(" ").length.toLong) }
    val nAll = all.length.toLong
    val values = all.map(_._2).distinct.sorted
    val got = TextQueries.queries("q_ks_test")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    all.groupBy(_._1).foreach { case (src, ds) =>
      val nS = ds.length.toLong
      var cumS = 0L; var cumAll = 0L
      var dRaw = -1L; var argmax = -1L
      values.foreach { v =>
        cumS += ds.count(_._2 == v)
        cumAll += all.count(_._2 == v)
        val diff = math.abs(cumS * nAll - cumAll * nS)
        if (diff > dRaw) { dRaw = diff; argmax = v }
      }
      val row = got(src)
      assert(row.getAs[Long]("n_src") == nS, src)
      assert(row.getAs[Long]("argmax_v") == argmax, s"$src argmax")
      assert(row.getAs[Long]("d_pm") == dRaw * 10000 / (nS * nAll), s"$src d")
    }
  }

  test("psi: bin rates and contributions match a hash-scored reference") {
    def score(t: String): Long = {
      val toks = t.split(" ")
      val ws = toks.map { tok =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8"))
        val b = (((d(0) & 0xffL) << 8) | (d(1) & 0xffL)) % 256
        b * 37 % 201
      }
      ws.sum * 10000 / toks.length
    }
    val binned = docs.map { case (id, _, t) =>
      (id, math.min(score(t) / 200000, 9L))
    }
    def rates(ds: Seq[(Long, Long)]): Map[Long, Long] = {
      val n = ds.length.toLong
      ds.groupBy(_._2).map { case (b, g) =>
        b -> math.max(math.min(g.length.toLong * 10000 / n, 9999L), 1L)
      }
    }
    val base = rates(binned)
    val cur = rates(binned.filter(_._1 % 4 == 0))
    def l(p: Long) = TextQueries.lnMyriadScaled(p.toInt)
    val expected = (0L to 9L).map { b =>
      val (bp, cp) = (base.getOrElse(b, 1L), cur.getOrElse(b, 1L))
      (b, bp, cp, (bp - cp) * (l(cp) - l(bp)))
    }
    val psiTotal = expected.map(_._4).sum
    val got = TextQueries.queries("q_psi")(spark, sf).collect()
    assert(got.length == 10)
    got.foreach { r =>
      val b = r.getLong(0)
      val e = expected(b.toInt)
      assert(r.getAs[Long]("base_pm") == e._2, s"bin $b base")
      assert(r.getAs[Long]("cur_pm") == e._3, s"bin $b cur")
      assert(r.getAs[Long]("contrib_p16") == e._4, s"bin $b contrib")
      assert(r.getAs[Long]("psi_p16") == psiTotal, s"bin $b total")
    }
  }

  test("fp band cap: capped path is a subset of plain and converges to it " +
      "as the cap loosens") {
    import graft.queries.MultimodalQueries
    val plain = MultimodalQueries.queries("q_audio_fp_dedup")(spark, sf)
      .collect().map(_.toString).toSet
    withConf("spark.graft.band.cap" -> "1000000") {
      val loose = MultimodalQueries.queries("q_audio_fp_dedup")(spark, sf)
        .collect().map(_.toString).toSet
      assert(loose == plain, "a never-hot cap must not change the answer")
    }
    withConf("spark.graft.band.cap" -> "1") {
      val tight = MultimodalQueries.queries("q_audio_fp_dedup")(spark, sf)
        .collect().map(_.toString).toSet
      assert(tight.subsetOf(plain),
        "capping may only DROP candidate pairs, never invent them")
    }
  }

  test("random projection: one audit pair recomputed exactly from the " +
      "sign matrix; expected-distortion centering holds in aggregate") {
    val rows = SimilarityQueries.queries("q_random_projection")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val first = rows.head
    val (aId, bId) = (first.getLong(0), first.getLong(1))
    def qz(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1024.0).toLong)
    def proj(q: Array[Long]): Array[Long] =
      Array.tabulate(16)(j => (0 until 64).map(i =>
        q(i) * SimilarityQueries.rpSigns(i * 16 + j)).sum)
    val (qa, qb) = (qz(emb(aId)), qz(emb(bId)))
    val d2o = qa.zip(qb).map { case (x, y) => (x - y) * (x - y) }.sum
    val (pa, pb) = (proj(qa), proj(qb))
    val d2p = pa.zip(pb).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(first.getAs[Long]("d2_orig") == d2o)
    assert(first.getAs[Long]("d2_proj") == d2p)
    assert(first.getAs[Long]("ratio_pm") == d2p * 10000 / (16 * d2o))
    // JL centering: the mean distortion over all pairs should be within
    // a loose band of 10000 (±1 projection, k = 16 → sd/√pairs is wide)
    val mean = rows.map(_.getAs[Long]("ratio_pm")).sum / rows.length
    assert(mean > 3000 && mean < 30000, s"mean distortion $mean")
  }
}
