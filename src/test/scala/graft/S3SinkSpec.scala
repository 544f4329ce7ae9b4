package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sinks.S3Sink

/** SNK-5/6: sink target resolution — enabled routes to the configured
  * URI when its scheme is usable; disabled, unset, or unregistered
  * schemes (no hadoop-aws jars here, exactly the reference's missing
  * boto3) degrade to the local root without failing.
  */
class S3SinkSpec extends SparkSpecBase {

  test("disabled (default): local root") {
    assert(S3Sink.resolveRoot(spark, "/tmp/local-out") == "/tmp/local-out")
  }

  test("enabled without a URI: degrade to local") {
    withConf(S3Sink.EnabledKey -> "true") {
      assert(S3Sink.resolveRoot(spark, "/tmp/local-out") == "/tmp/local-out")
    }
  }

  test("enabled with an unregistered scheme (no s3a jars): degrade to local") {
    withConf(S3Sink.EnabledKey -> "true",
        S3Sink.UriKey -> "s3a://company-data-hub/climate") {
      assert(S3Sink.resolveRoot(spark, "/tmp/local-out") == "/tmp/local-out")
    }
  }

  test("enabled with a registered object-store scheme (mock-s3): full pipeline happy path") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock-s3.impl", classOf[MockS3FileSystem].getName)
    try {
      val work = java.nio.file.Files.createTempDirectory("graft-mock-s3").toString
      val target = s"mock-s3://$work/remote" // work is absolute → mock-s3:///…
      withConf(S3Sink.EnabledKey -> "true", S3Sink.UriKey -> target) {
        // the scheme probe that fails for s3a (no jars) succeeds here
        assert(S3Sink.resolveRoot(spark, "/tmp/local-out") == target)

        val in = java.nio.file.Paths.get(work, "in", "05")
        java.nio.file.Files.createDirectories(in)
        java.nio.file.Files.writeString(
          in.resolve("grid_02_NZ_norm_Mean_1991-2020_monthly7.asc"),
          graft.raster.GridGen.genText(0))
        import spark.implicits._
        val regions = Seq(("05", "Gisborne", "Gisborne Region",
          "POLYGON ((1590000 4990000, 1700000 4990000, 1700000 5100000, 1590000 5100000, 1590000 4990000))"))
          .toDF("code", "name", "raw_title", "wkt")
        val res = graft.etl.Pipeline.run(spark, s"$work/in", regions,
          s"$work/ignored-local", updatedAt = "2026-01-01T00:00:00Z")
        assert(res.catalog.count() == 1)
        // every sink went through the mock-s3 scheme to its local backing
        val remote = java.nio.file.Paths.get(s"$work/remote")
        assert(java.nio.file.Files.exists(remote.resolve("catalog.parquet")),
          "catalog parquet should land under the object-store target")
        val zipped = remote.resolve("zipped").toFile.listFiles()
        assert(zipped != null && zipped.exists(_.getName.endsWith(".zip")),
          "zip sink should write through the scheme")
        assert(zipped.exists(_.getName.endsWith(".json")),
          "executor-side doc writer should write through the scheme")
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$work/ignored-local/catalog.parquet")),
          "nothing should fall back to the local root on the happy path")
      }
    } finally hc.unset("fs.mock-s3.impl")
  }

  test("enabled with a usable scheme: the target wins, and the pipeline writes there") {
    val work = java.nio.file.Files.createTempDirectory("graft-s3sink").toString
    val target = s"file:$work/remote"
    withConf(S3Sink.EnabledKey -> "true", S3Sink.UriKey -> target) {
      assert(S3Sink.resolveRoot(spark, "/tmp/local-out") == target)

      val in = java.nio.file.Paths.get(work, "in", "05")
      java.nio.file.Files.createDirectories(in)
      java.nio.file.Files.writeString(
        in.resolve("grid_02_NZ_norm_Mean_1991-2020_monthly7.asc"),
        graft.raster.GridGen.genText(0))
      import spark.implicits._
      val regions = Seq(("05", "Gisborne", "Gisborne Region",
        "POLYGON ((1590000 4990000, 1700000 4990000, 1700000 5100000, 1590000 5100000, 1590000 4990000))"))
        .toDF("code", "name", "raw_title", "wkt")
      val res = graft.etl.Pipeline.run(spark, s"$work/in", regions,
        s"$work/ignored-local", updatedAt = "2026-01-01T00:00:00Z")
      assert(res.catalog.count() == 1)
      val remote = java.nio.file.Paths.get(s"$work/remote")
      assert(java.nio.file.Files.exists(remote.resolve("catalog.parquet")),
        "catalog should land under the sink target")
      val zipped = remote.resolve("zipped").toFile.listFiles()
      assert(zipped != null && zipped.exists(_.getName.endsWith(".zip")))
      assert(zipped.exists(_.getName.endsWith(".json")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$work/ignored-local/catalog.parquet")))
    }
  }

  private def perms(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def put(fs: FileSystem, p: java.nio.file.Path, text: String): Unit = {
    val out = fs.create(new Path(s"file:$p"), true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("a local sink file gets the permission bits of the session's cached LocalFileSystem") {
    val dir = Files.createTempDirectory("graft-sink-perms")
    put(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration), dir.resolve("session.txt"), "x")
    put(S3Sink.fileSystemFor(s"file:$dir", S3Sink.fsConfEntries(spark)), dir.resolve("sink.txt"), "x")
    assert(perms(dir.resolve("sink.txt")) == perms(dir.resolve("session.txt")))
    assert(perms(dir.resolve("sink.txt")) == "rw-r--r--")
  }

  test("the shipped fs.permissions.umask-mode applies to local sink files") {
    val dir = Files.createTempDirectory("graft-sink-umask")
    val fs = S3Sink.fileSystemFor(s"file:$dir",
      S3Sink.fsConfEntries(spark) + ("fs.permissions.umask-mode" -> "077"))
    put(fs, dir.resolve("private.txt"), "x")
    assert(perms(dir.resolve("private.txt")) == "rw-------")
  }

  test("create with overwrite replaces an existing local file's bytes") {
    val dir = Files.createTempDirectory("graft-sink-overwrite")
    val fs = S3Sink.fileSystemFor(s"file:$dir", S3Sink.fsConfEntries(spark))
    put(fs, dir.resolve("doc.json"), "a longer first version")
    put(fs, dir.resolve("doc.json"), "v2")
    assert(Files.readString(dir.resolve("doc.json")) == "v2")
  }

  test("equal shipped entries share one local handle; other schemes keep their own") {
    val entries = S3Sink.fsConfEntries(spark)
    val a = S3Sink.fileSystemFor("file:/tmp/graft-a", entries)
    assert(S3Sink.fileSystemFor("/tmp/graft-b", entries.toList.toMap) eq a)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.mock-s3.impl", classOf[MockS3FileSystem].getName)
    try assert(S3Sink.fileSystemFor("mock-s3:///tmp/graft-c", S3Sink.fsConfEntries(spark))
      .isInstanceOf[MockS3FileSystem])
    finally hc.unset("fs.mock-s3.impl")
  }
}
