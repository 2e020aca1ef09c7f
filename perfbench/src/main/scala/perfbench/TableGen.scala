package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

case class Region(r_regionkey: Int, r_name: String)
case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
                    c_mktsegment: String)
case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String,
                p_size: Int, p_retailprice: Double)
case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                 o_totalprice: Double, o_orderdate: LocalDateTime, o_orderpriority: String)
case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                    l_quantity: Double, l_extendedprice: Double, l_discount: Double,
                    l_tax: Double, l_returnflag: String, l_linestatus: String,
                    l_shipdate: LocalDateTime)
case class Event(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String,
                 value: Double, props: String)
case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

/** Seeded generator for the ten operator-suite tables. Schemas, key ranges
  * and value shapes follow the repo's sf0.01 test tables (TPC-H-like star
  * schema plus events, documents and embeddings); every table is one
  * parquet file `<dir>/<name>.parquet`, the layout the streaming queries
  * stage from. Money columns are whole cents divided by 100, so Spark and
  * DuckDB round them identically. Timestamps are TIMESTAMP_NTZ, as in the
  * test tables. */
object TableGen {
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val EventUsers = 150
  val Events = 10000
  val Documents = 500
  val Vectors = 500
  val Dim = 64

  private val Words = Vector("table", "row", "column", "vector", "hash", "key", "value",
    "line", "scan", "join", "sort", "filter", "agg", "merge", "group", "order", "window",
    "query", "batch", "stream", "data", "spark", "part", "customer", "small", "big",
    "fast", "slow", "the", "a")

  /** Writes every table under `dir`; returns the row count per table. */
  def write(spark: SparkSession, seed: Long, dir: java.nio.file.Path): Map[String, Long] = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def cents(lo: Long, hi: Long): Double = rnd.nextLong(lo, hi + 1) / 100.0
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => Region(i, n) }
    val nations = (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5))
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val customers = (0 until Customers).map(i => Customer(i, f"Customer#$i%09d",
      rnd.nextInt(25), cents(-99999, 999999), pick(segments)))
    val suppliers = (0 until Suppliers).map(i => Supplier(i, f"Supplier#$i%09d",
      rnd.nextInt(25), cents(-99999, 999999)))
    val adjectives = Seq("red", "blue", "hot", "cold", "old", "small", "large")
    val things = Seq("widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val parts = (0 until Parts).map(i => Part(i, s"${pick(adjectives)} ${pick(things)}",
      s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50),
      (90000 + (i % 1000) * 10) / 100.0))
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until Orders).map(i => Order(i, rnd.nextInt(Customers).toLong,
      pick(Seq("F", "O", "P")), cents(101370, 49997859),
      day0.plusDays(rnd.nextInt(2404)), pick(priorities)))
    val lineitems = orders.flatMap { o =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        LineItem(o.o_orderkey, rnd.nextInt(Parts).toLong, rnd.nextInt(Suppliers).toLong, ln,
          (1 + rnd.nextInt(50)).toDouble, cents(90182, 10499788), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          o.o_orderdate.plusDays(1 + rnd.nextInt(121)))
      }
    }
    val eventTypes = Seq("click", "signup", "error", "view", "purchase")
    var tsMicros = 0L
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = (0 until Events).map { i =>
      // uniform gaps averaging 259 s: 10k events over about 30 days
      tsMicros += rnd.nextLong(1L, 518400000L)
      Event(i, t0.plusNanos(tsMicros * 1000L), rnd.nextInt(EventUsers).toLong,
        pick(eventTypes), cents(1, 49002), s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    val texts = mutable.ArrayBuffer.empty[String]
    val docs = (0 until Documents).map { i =>
      // one page in twenty repeats an earlier one plus a marker token: the
      // near-duplicate pairs the dedup queries look for
      val text =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(texts.size)) + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(pick(Words)).mkString(" ")
      texts += text
      Document(i, text, pick(langs), s"src${i % 20}", text.length.toLong)
    }
    val vectors = (0 until Vectors).map { i =>
      val v = Array.fill(Dim)(gaussian(rnd))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }

    val tables: Seq[(String, DataFrame, Int)] = Seq(
      ("region", regions.toDF(), regions.size), ("nation", nations.toDF(), nations.size),
      ("customer", customers.toDF(), customers.size),
      ("supplier", suppliers.toDF(), suppliers.size), ("part", parts.toDF(), parts.size),
      ("orders", orders.toDF(), orders.size), ("lineitem", lineitems.toDF(), lineitems.size),
      ("events", events.toDF(), events.size), ("documents", docs.toDF(), docs.size),
      ("embeddings", vectors.toDF(), vectors.size))
    java.nio.file.Files.createDirectories(dir)
    // the ten one-task writes are independent: submit them together
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try {
      tables.map { case (name, df, _) => pool.submit[Unit](() => writeSingleFile(df, dir, name)) }
        .foreach(_.get())
    } finally pool.shutdown()
    tables.map { case (name, _, n) => name -> n.toLong }.toMap
  }

  private def gaussian(rnd: java.util.SplittableRandom): Double = {
    // Box-Muller on the seeded stream
    val u1 = rnd.nextDouble().max(1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  private def writeSingleFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = dir.resolve(s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val ls = java.nio.file.Files.list(tmp)
    val part = try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
      .orElseThrow(() => new IllegalStateException(s"no parquet part written for $name"))
    finally ls.close()
    java.nio.file.Files.move(part, dir.resolve(s"$name.parquet"))
    Fs.deleteTree(tmp)
  }

}
