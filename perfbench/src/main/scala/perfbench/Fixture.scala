package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The ten parquet tables `SparkEntry.queries` read, generated from a
  * seed at the size of the smallest query fixture (6,000 line items), with
  * the schemas of FIXTURES.md and value domains like the fixtures': TPC-H-like
  * keys and categories, an hourly event stream, documents over a small
  * vocabulary with planted near-duplicates, and unit embeddings clustered
  * by label. Each table is one parquet file, `<dir>/<table>.parquet`, with
  * timestamps without a time zone, as the query fixtures have them.
  */
object Fixture {
  private val Words = Seq("scan", "column", "window", "order", "sort", "part", "agg", "value",
    "line", "key", "join", "merge", "group", "query", "a", "vector", "hash", "slow", "stream",
    "filter", "fast", "the", "batch", "spark", "table", "small", "data", "big", "customer", "row")

  /** Writes the tables under `dir` and returns a digest of their rows. */
  def generate(spark: SparkSession, seed: Long, dir: Path): String = {
    val rnd = new Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def cents(lo: Double, hi: Double): Double = math.rint((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rnd.nextInt(days).toLong)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def f(name: String, t: DataType) = StructField(name, t)
    val tables: Seq[(String, StructType, Seq[Row])] = Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) }),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
        (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), cents(-999.99, 9999.99),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))))),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), cents(-999.99, 9999.99)))),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
        (0 until 200).map(i => Row(i.toLong,
          pick(Seq("small", "large", "blue", "red", "cold", "hot", "old", "new")) + " " +
            pick(Seq("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")),
          s"Brand#${1 + rnd.nextInt(25)}",
          pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
          1 + rnd.nextInt(50), 900.0 + i / 10.0))),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until 1500).map(i => Row(i.toLong, rnd.nextInt(150).toLong, pick(Seq("F", "O", "P")),
          cents(1000, 500000), day(d1995, 2404),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
        (0 until 6000).map { _ =>
          val (flag, status) = pick(Seq(("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")))
          Row(rnd.nextInt(1500).toLong, rnd.nextInt(200).toLong, rnd.nextInt(10).toLong,
            1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble, cents(900, 105000),
            rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, flag, status, day(d1995.plusDays(1), 2498))
        }),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))), {
        val start = LocalDateTime.of(2024, 1, 1, 0, 0)
        val micros = Seq.fill(1000)((rnd.nextDouble() * 30 * 86400e6).toLong).sorted
        micros.zipWithIndex.map { case (us, i) =>
          Row(i.toLong, start.plusNanos(us * 1000), rnd.nextInt(15).toLong,
            pick(Seq("click", "error", "purchase", "signup", "view")), cents(0.01, 330),
            s"""{"k": ${rnd.nextInt(100)}}""")
        }
      }),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))), {
        // one document in ten is a near-duplicate of an earlier one: the
        // same words with " dup" appended, or with one word replaced
        val texts = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until 500).map { i =>
          val text =
            if (i >= 20 && rnd.nextInt(10) == 0) {
              val ws = texts(rnd.nextInt(texts.size)).split(" ")
              if (rnd.nextBoolean()) ws.mkString(" ") + " dup"
              else ws.updated(rnd.nextInt(ws.length), pick(Words)).mkString(" ")
            } else Seq.fill(10 + rnd.nextInt(90))(pick(Words)).mkString(" ")
          texts += text
          Row(i.toLong, text, pick(Seq("en", "en", "en", "de", "es", "fr", "zh")), s"src${i % 20}",
            text.length.toLong)
        }
      }),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))), {
        val centroids = Seq.fill(10)(Array.fill(64)(rnd.nextGaussian()))
        (0 until 500).map { i =>
          val label = rnd.nextInt(10)
          val v = centroids(label).map(_ + 1.5 * rnd.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }
      }))

    Files.createDirectories(dir)
    val md = MessageDigest.getInstance("SHA-256")
    tables.foreach { case (name, schema, rows) =>
      (name +: rows.map(_.mkString("|"))).foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
      val tmp = dir.resolve(s"$name.parts")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
      val part = Tree.list(tmp).find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Tree.rm(tmp)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
