package graft.tools

import graft.Harness
import graft.Harness.{Failure, Phases}

/** Probe CLI: one query run outside the bench.
  *
  * {{{
  * runMain graft.tools.Probe ab  <sfDir> <q1,q2,...> "<kA=vA;...>@<kB=vB;...>" [pairs=3]
  * runMain graft.tools.Probe run <sfDir> <query> [maxRows=100]
  * }}}
  *
  * `ab` times each query under two session-conf bundles ALTERNATING
  * within one session. The host drifts 1.1–1.5× across minutes, so two
  * back-to-back runs confound a code or conf delta with the window
  * shift; here each A sample has a B sample seconds away, and the
  * min/median B/A ratio is a property of the change. Bundles apply via
  * `spark.conf.set` per sample, so they reach query-construction gates
  * that read session conf and runtime-settable SQL confs; statically
  * captured confs (memory, shuffle service) are out of scope. A query
  * with a failed sample in either arm prints the failure and no ratio.
  *
  * `run` prints a query's result rows (e.g. at a Scale10 fixture, which
  * has no oracle) and its wall time. The per-query build/plan/exec
  * split and job counts are in Bench's detail file
  * (`SPARK_GRAFT_ONLY=q_a,q_b runMain graft.Bench`).
  */
object Probe {

  private val Usage =
    "usage: Probe ab <sfDir> <q1,q2,...> <confA@confB> [pairs] | " +
      "Probe run <sfDir> <query> [maxRows]"

  def main(args: Array[String]): Unit = args.toList match {
    case "ab" :: dir :: names :: spec :: rest =>
      ab(dir, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        bundles(spec), rest.headOption.fold(3)(_.toInt))
    case "run" :: dir :: name :: rest =>
      run(dir, name, rest.headOption.fold(100)(_.toInt))
    case _ => sys.error(Usage)
  }

  /** `"kA=vA;…@kB=vB;…"` → the A and B conf bundles. */
  private[graft] def bundles(spec: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val i = spec.indexOf('@')
    require(i >= 0, s"conf spec needs two bundles split by '@': $spec")
    (Harness.parseConf(spec.take(i)), Harness.parseConf(spec.drop(i + 1)))
  }

  /** (min, median) seconds of one arm, or its first failed sample. */
  private[graft] def summary(
      samples: Seq[Either[Failure, Phases]]): Either[Failure, (Double, Double)] =
    samples.collectFirst { case Left(f) => f }.toLeft {
      val t = samples.collect { case Right(p) => p.total }
      (t.min, Harness.median(t))
    }

  /** (min B/A, median B/A), or None when either arm has a failed sample
    * (a query that throws fast must never read as a speedup).
    */
  private[graft] def ratio(a: Seq[Either[Failure, Phases]],
      b: Seq[Either[Failure, Phases]]): Option[(Double, Double)] =
    for ((aMin, aMed) <- summary(a).toOption; (bMin, bMed) <- summary(b).toOption)
      yield (bMin / math.max(aMin, 1e-9), bMed / math.max(aMed, 1e-9))

  private def ab(dir: String, names: Seq[String],
      confs: (Seq[(String, String)], Seq[(String, String)]), pairs: Int): Unit = {
    val (confA, confB) = confs
    val s = Harness.session()
    Harness.warmUp(s, dir)
    def withConf[T](conf: Seq[(String, String)])(body: => T): T = {
      val prev = conf.map { case (k, _) => k -> s.conf.getOption(k) }
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    println(s"[ab] A: ${confA.mkString("; ")}   B: ${confB.mkString("; ")}")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"[ab] unknown query: $n")
        case Some(fn) =>
          def sample(conf: Seq[(String, String)]) =
            withConf(conf)(Harness.timedRun(s, dir, fn))
          // one untimed warm-up per arm (codegen, side stores)
          sample(confA); sample(confB)
          val (as, bs) = (0 until pairs).map(_ => (sample(confA), sample(confB))).unzip
          def arm(tag: String, xs: Seq[Either[Failure, Phases]]): String =
            summary(xs).fold(f => s"$tag FAILED: ${f.error.toString.take(120)}",
              { case (mn, md) => f"$tag(min=$mn%6.3f med=$md%6.3f)" })
          val r = ratio(as, bs).fold("no ratio") { case (mn, md) =>
            f"min B/A=$mn%5.2f med B/A=$md%5.2f" }
          println(f"[ab] $n%-26s ${arm("A", as)} ${arm("B", bs)} $r")
      }
    }
    s.stop()
  }

  private def run(dir: String, name: String, maxRows: Int): Unit = {
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    val s = Harness.session()
    val t0 = System.nanoTime()
    fn(s, dir).show(maxRows, truncate = false)
    println(f"[probe] $name on $dir: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    graft.queries.QueryCaches.releaseAll(s)
    s.stop()
  }
}
