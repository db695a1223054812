package perfbench

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic copies of the sf0.001 fixture tables the `ops_small`
  * ops read (`<dir>/<table>.parquet`, same names, columns and types as
  * the fixtures). The benchmark cannot read fixtures from outside its
  * checkout, so it writes its own. Row counts match sf0.001; value
  * ranges and shapes follow the fixtures (near-duplicate documents
  * planted as in the curation fixtures). */
object DataGen {

  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Orders = 1500
  val Events = 1000
  val Documents = 500

  val Vocab: Vector[String] = Vector("the", "a", "fast", "slow", "small", "big",
    "spark", "group", "customer", "line", "sort", "hash", "batch", "dup", "data",
    "filter", "value", "key", "order", "table", "scan", "merge", "part",
    "window", "join", "agg", "column", "vector", "stream", "query", "row")

  private val Day = 86400000L
  private val OrdersFrom = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val OrderDays = 2404 // 1995-01-01 .. 2001-08-01
  private val EventsFrom = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def orderRow(r: Random, key: Long, customers: Int, day: Int): Row =
    Row(key, r.nextInt(customers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
      money(r, 1000, 500000), new Timestamp(OrdersFrom + day * Day),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))

  private def f(n: String, t: DataType) = StructField(n, t)

  val ordersSchema: StructType = StructType(Seq(
    f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
    f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
    f("o_orderpriority", StringType)))

  /** Write `orders`, `lineitem`, `events` and `documents` under `dir`.
    * Deterministic in `seed`. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = new Random(seed)
    def put(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val orders = (0 until Orders).map(i => orderRow(r, i.toLong, Customers, r.nextInt(OrderDays)))
    put("orders", ordersSchema, orders)
    val price = (0 until Parts).map(i => 900.0 + i / 10.0)
    put("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      orders.filter(_ => r.nextInt(50) != 0).flatMap { o =>
        val day = o.getTimestamp(4).getTime
        (1 to 1 + r.nextInt(7)).map { ln =>
          val pk = r.nextInt(Parts)
          val qty = (1 + r.nextInt(50)).toDouble
          Row(o.getLong(0), pk.toLong, r.nextInt(Suppliers).toLong, ln, qty,
            math.round(qty * price(pk) * 100) / 100.0, r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, Seq("N", "A", "R")(r.nextInt(3)),
            Seq("O", "F")(r.nextInt(2)), new Timestamp(day + (1 + r.nextInt(120)) * Day))
        }
      })

    val micros = (0 until Events).map(_ => (r.nextDouble() * 30 * Day * 1000).toLong).sorted
    put("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      micros.zipWithIndex.map { case (us, i) =>
        val t = new Timestamp(EventsFrom + us / 1000)
        t.setNanos(((us % 1000000) * 1000).toInt)
        Row(i.toLong, t, r.nextInt(15).toLong,
          Seq("click", "view", "purchase", "signup", "error")(r.nextInt(5)),
          money(r, 0, 330), s"""{"k": ${r.nextInt(100)}}""")
      })

    // 8..80 vocabulary words; every tenth document after the first fifty
    // is a near copy (1-3 words changed) of an earlier one
    val texts = new Array[Array[String]](Documents)
    put("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until Documents).map { i =>
        val words =
          if (i >= 50 && i % 10 == 0) {
            val w = texts(r.nextInt(i)).clone()
            (1 to 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size)))
            w
          } else Array.fill(8 + r.nextInt(73))(Vocab(r.nextInt(Vocab.size)))
        texts(i) = words
        val text = words.mkString(" ")
        Row(i.toLong, text, Seq("en", "es", "zh", "de", "fr")(r.nextInt(5)),
          s"src${i % 20}", text.length.toLong)
      })
  }
}
