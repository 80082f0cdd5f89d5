package perfbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writes the ten engine tables (`region` … `embeddings`) as parquet
  * under `<dir>/<table>.parquet`, with the column names, types and value
  * distributions of the engine's TPC-H-ish test schema: uniform keys and
  * measures, a sorted 30-day `events` stream, documents drawn from a
  * 30-word vocabulary with 5% exact duplicates marked " dup", and unit
  * 64-d embeddings weakly clustered around ten labels.
  *
  * The data is a function of (`scale`, `seed`) only: each table draws
  * from its own `SplittableRandom` on one thread and is written as one
  * file, so the same arguments give byte-identical values on any
  * machine. Row counts follow the schema's scale factor: 6M·sf
  * lineitem, 1.5M·sf orders, 1M·sf events and so on.
  */
object DataGen {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window").toArray
  private val adjectives =
    Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns =
    Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  private def cents(x: Double): Double = Math.round(x * 100.0) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  private def pick[T](r: SplittableRandom, xs: Array[T]): T = xs(r.nextInt(xs.length))

  val marker = "_COMPLETE"

  /** Generate every table into `dir` unless its completion marker is
    * already there. */
  def ensure(spark: SparkSession, dir: String, scale: Double, seed: Long): Unit = {
    val done = new File(dir, marker)
    if (done.exists()) return
    tables.foreach(t => write(spark, dir, t, scale, seed))
    done.createNewFile()
  }

  /** One task generates the whole table, so row order and values do not
    * depend on the session's parallelism. */
  private def write(spark: SparkSession, dir: String, table: String,
      scale: Double, seed: Long): Unit = {
    val rdd = spark.sparkContext.parallelize(Seq(table), 1)
      .flatMap(t => rows(t, scale, seed)._2())
    spark.createDataFrame(rdd, rows(table, scale, seed)._1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
  }

  private def count(base: Double, scale: Double): Int =
    math.max(1, math.round(base * scale).toInt)

  /** The table's schema and a generator of its rows. The generator owns
    * its random stream, so it can run in a task on any executor. */
  def rows(table: String, scale: Double, seed: Long): (StructType, () => Iterator[Row]) = {
    def rng() = new SplittableRandom(seed * 1000003L + table.hashCode)
    val nCust = count(150000, scale)
    val nSupp = count(10000, scale)
    val nPart = count(200000, scale)
    val nOrders = count(1500000, scale)
    val nUsers = count(15000, scale)
    def f(name: String, t: DataType) = StructField(name, t, nullable = true)
    def gen(n: Int)(row: (SplittableRandom, Int) => Row): () => Iterator[Row] =
      () => { val r = rng(); Iterator.range(0, n).map(i => row(r, i)) }
    table match {
      case "region" =>
        val names = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
          gen(5)((_, i) => Row(i, names(i))))
      case "nation" =>
        (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
          f("n_regionkey", IntegerType))),
          gen(25)((_, i) => Row(i, s"NATION_$i", i % 5)))
      case "customer" =>
        val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
          f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
          f("c_mktsegment", StringType))),
          gen(nCust)((r, i) => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
            cents(r.nextDouble(-999.99, 9999.99)), pick(r, segs))))
      case "supplier" =>
        (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
          f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
          gen(nSupp)((r, i) => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
            cents(r.nextDouble(-999.99, 9999.99)))))
      case "part" =>
        val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
        (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
          f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
          f("p_retailprice", DoubleType))),
          gen(nPart)((r, i) => Row(i.toLong,
            s"${pick(r, adjectives)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
            pick(r, types), 1 + r.nextInt(50), cents(900.0 + (i % 1000) / 10.0))))
      case "orders" =>
        val status = Array("F", "O", "P")
        val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val (d0, d1) = (LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1))
        (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
          f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
          f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
          gen(nOrders)((r, i) => Row(i.toLong, r.nextLong(nCust), pick(r, status),
            cents(r.nextDouble(1000.0, 500000.0)), day(r, d0, d1), pick(r, prio))))
      case "lineitem" =>
        val (d0, d1) = (LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4))
        val flags = Array("A", "N", "R")
        val status = Array("F", "O")
        (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
          f("l_suppkey", LongType), f("l_linenumber", IntegerType),
          f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
          f("l_discount", DoubleType), f("l_tax", DoubleType),
          f("l_returnflag", StringType), f("l_linestatus", StringType),
          f("l_shipdate", TimestampNTZType))),
          gen(count(6000000, scale))((r, _) => Row(r.nextLong(nOrders),
            r.nextLong(nPart), r.nextLong(nSupp), 1 + r.nextInt(7),
            (1 + r.nextInt(50)).toDouble, cents(r.nextDouble(900.0, 105000.0)),
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, flags),
            pick(r, status), day(r, d0, d1))))
      case "events" =>
        val n = count(1000000, scale)
        val types = Array("click", "error", "purchase", "signup", "view")
        val start = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanMicros = 30L * 86400L * 1000000L
        (StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
          f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
          f("props", StringType))),
          () => {
            val r = rng()
            val offsets = Array.fill(n)(r.nextLong(spanMicros)).sorted
            Iterator.range(0, n).map(i => Row(i.toLong,
              start.plusNanos(offsets(i) * 1000L), r.nextLong(nUsers), pick(r, types),
              cents(-50.0 * math.log(1.0 - r.nextDouble())),
              s"""{"k": ${r.nextInt(100)}}"""))
          })
      case "documents" =>
        val n = math.max(500, count(50000, scale))
        val langs = Array("de", "es", "fr", "zh")
        (StructType(Seq(f("doc_id", LongType), f("text", StringType),
          f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
          () => {
            val r = rng()
            val texts = new Array[String](n)
            Iterator.range(0, n).map { i =>
              texts(i) =
                if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
                else Seq.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
              val lang = if (r.nextInt(20) < 8) "en" else pick(r, langs)
              Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
            }
          })
      case "embeddings" =>
        val n = math.max(500, count(20000, scale))
        val dim = 64
        def unit(v: Array[Double]): Array[Double] = {
          val norm = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / norm)
        }
        (StructType(Seq(f("vec_id", LongType),
          f("embedding", ArrayType(FloatType, containsNull = true)),
          f("label", IntegerType))),
          () => {
            val r = rng()
            val centroids = Array.fill(10)(unit(Array.fill(dim)(r.nextGaussian())))
            Iterator.range(0, n).map { i =>
              val label = r.nextInt(10)
              val c = centroids(label)
              val v = unit(Array.tabulate(dim)(j => r.nextGaussian() + 0.56 * c(j)))
              Row(i.toLong, v.map(_.toFloat).toSeq, label)
            }
          })
    }
  }
}
