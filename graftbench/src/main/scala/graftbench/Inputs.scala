package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded generator of graft's input tables: the star schema (region,
  * nation, customer, supplier, part, orders, lineitem), the event stream,
  * the text corpus and the embedding table, with the column names, types
  * and value domains graft's queries are written against. The same
  * (seed, sf) always yields the same bytes of row content. */
object Inputs {
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Array("blue", "cold", "hot", "large", "old", "red", "small", "green")
  private val Nouns = Array("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Words = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "en", "es", "fr", "zh", "de", "es", "fr", "zh", "de")
  val Day: Long = 86400000L
  /** 1995-01-01 and 2024-01-01, UTC epoch ms. */
  val OrderEpoch: Long = 788918400000L
  val EventEpoch: Long = 1704067200000L

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Table name → (schema, rows). */
  def tables(seed: Long, sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(seed)
    val nCust = (150000 * sf).toInt.max(50)
    val nSupp = (10000 * sf).toInt.max(10)
    val nPart = (200000 * sf).toInt.max(50)
    val nOrders = (1500000 * sf).toInt.max(100)
    val nEvents = (1000000 * sf).toInt.max(100)
    val nDocs = (50000 * sf).toInt.max(100)
    val nVecs = (50000 * sf).toInt.max(100)

    val region = (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    val nation = (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), Segments(r.nextInt(Segments.length)))))
    val supplier = (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val part = (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        Adjectives(r.nextInt(Adjectives.length)) + " " + Nouns(r.nextInt(Nouns.length)),
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val orderDates = Array.fill(nOrders)(OrderEpoch + r.nextInt(2404) * Day)
    val orders = (ordersSchema,
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(r, 1000, 500000),
        new Timestamp(orderDates(i)), Priorities(r.nextInt(Priorities.length)))))
    val lineitem = (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampType))),
      (0 until nOrders).flatMap { o =>
        (1 to 1 + r.nextInt(7)).map { ln =>
          val qty = (1 + r.nextInt(50)).toDouble
          Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, qty,
            math.round(qty * money(r, 900, 2100) * 100) / 100.0, r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
            "OF".charAt(r.nextInt(2)).toString,
            new Timestamp(orderDates(o) + (1 + r.nextInt(121)) * Day))
        }
      })
    val events = (StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        Row(i.toLong, new Timestamp(EventEpoch + (i.toLong * 30 * Day) / nEvents + r.nextInt(60000)),
          r.nextInt((nCust / 10).max(10)).toLong, EventTypes(r.nextInt(EventTypes.length)),
          money(r, 0, 560), s"""{"k": ${r.nextInt(100)}}""")
      })
    val texts = new Array[String](nDocs)
    val documents = (StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until nDocs).map { i =>
        // one document in twenty repeats a prefix of an earlier one
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) {
            val src = texts(r.nextInt(i)).split(" ")
            src.take(src.length.min(12)).mkString(" ") + " dup"
          } else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
        Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}", texts(i).length.toLong)
      })
    val centroids = Array.fill(10, 64)(r.nextGaussian().toFloat)
    val embeddings = (StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => centroids(label)(d) * 0.35f + r.nextGaussian().toFloat)
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        Row(i.toLong, v.map(_ / norm).toSeq, label)
      })
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
      .map { case (n, (schema, rows)) => (n, schema, rows) }
  }

  val ordersSchema: StructType = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
    f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampType),
    f("o_orderpriority", StringType)))

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
}
