package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query subset for local iteration
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // reuses a session already running in this JVM (getOrCreate); no
    // warm-up, so a caller's own session runs only the dump
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // fixture-schema tripwire: a regenerated fixture with a drifted
    // encoding must surface as ONE named problem here, not as N
    // individually-erroring queries downstream
    val contractViolations =
      graft.sources.FixtureContract.violations(spark, sfDir)
    contractViolations.foreach(v =>
      System.err.println(s"[verify] FIXTURE CONTRACT: $v"))
    // a typo'd subset name must not silently verify nothing
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: unknown query in subset: $n")))
    val selected = only match {
      case Some(set) => SparkEntry.queries.filter { case (k, _) => set(k) }
      case None      => SparkEntry.queries
    }
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      }
      // drop per-query caches (band tables, bucketed embeddings, …) so a
      // 100-query dump doesn't accumulate storage across queries
      graft.queries.QueryCaches.releaseAll(spark)
    }
    def writeJson(name: String, entries: Seq[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$name"),
        compact(JObject(entries.map { case (k, v) => k -> JString(v) }.toList)))
    writeJson("oracle_sql.json",
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_(k)) }.toSeq)
    // self-contained error record: a green-row-only correctness report
    // can mask a zeroed pack (round 8) — errors.json names every query
    // that threw, plus any fixture-contract violations, so the dump is
    // auditable standalone
    writeJson("errors.json", contractViolations.zipWithIndex.map { case (v, i) =>
      s"_fixture_contract_$i" -> v } ++ failures)
    val nBad = failures.size + contractViolations.size
    if (nBad > 0)
      System.err.println(s"[verify] $nBad problem(s): " +
        s"${failures.size} failing quer(ies), " +
        s"${contractViolations.size} fixture-contract violation(s) — see $outDir/errors.json")
    spark.stop()
    // strict mode (tools/preflight.sh): any throw or contract violation
    // fails the process — default stays exit-0 for driver compatibility
    if (nBad > 0 && sys.env.get("SPARK_GRAFT_STRICT").contains("1"))
      sys.exit(1)
  }
}
