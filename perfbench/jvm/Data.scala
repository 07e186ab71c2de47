package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's input tables: the star schema plus `events`,
  * `documents` and `embeddings`, with the column names and value domains
  * the query keys read (see FIXTURES.md). Row counts follow the sf0.01
  * fixture shape.
  *
  * The rows come from a fixed generator seed, so every run sees the same
  * rows and every key has one expected answer. The run seed only permutes
  * the row order, and so which rows each of a table's
  * [[FilesPerTable]] files holds.
  */
object Data {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val NCustomer = 1500
  val NSupplier = 100
  val NPart = 2000
  val NOrders = 15000
  val NLineitem = 60000
  val NEvents = 10000
  val NUsers = 150
  val NDocs = 500
  val NEmbeddings = 500
  val Dim = 64

  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  private val RowSeed = 42L
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PartAdj = Array("small", "large", "shiny", "plated", "brushed", "polished")
  private val PartNoun = Array("ring", "bolt", "gear", "panel", "valve", "spring")
  private val OrderStatus = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Langs = Array("en", "fr", "es", "zh", "de")
  private val Day0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
  private val Ev0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** A document's text: 10 to 99 tokens drawn from [[Vocab]]. */
  def docText(r: SplittableRandom): String =
    Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Every table's schema and rows, in generation order. */
  lazy val rows: Map[String, (StructType, Array[Row])] = {
    val r = new SplittableRandom(RowSeed)
    val region = Regions.indices.map(i => Row(i, Regions(i))).toArray
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)).toArray
    val customer = (0 until NCustomer).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99),
        Segments(r.nextInt(Segments.length)))
    }.toArray
    val supplier = (0 until NSupplier).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(r, -999.99, 9999.99))
    }.toArray
    val part = (0 until NPart).map { i =>
      Row(i.toLong, s"${PartAdj(r.nextInt(PartAdj.length))} ${PartNoun(r.nextInt(PartNoun.length))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)), 1 + r.nextInt(50),
        math.round((900 + r.nextDouble() * 99.9) * 10) / 10.0)
    }.toArray
    val orders = (0 until NOrders).map { i =>
      Row(i.toLong, r.nextInt(NCustomer).toLong, OrderStatus(r.nextInt(3)),
        cents(r, 1000, 500000), Day0.plusDays(r.nextInt(2404).toLong),
        Priorities(r.nextInt(Priorities.length)))
    }.toArray
    val lineitem = (0 until NLineitem).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(NOrders).toLong, r.nextInt(NPart).toLong, r.nextInt(NSupplier).toLong,
        1 + r.nextInt(7), qty, math.round(qty * (900 + r.nextDouble() * 1200) * 100) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)),
        LineStatus(r.nextInt(2)), Day0.plusDays(1 + r.nextInt(2499).toLong))
    }.toArray
    val evSecs = Array.fill(NEvents)(r.nextLong(30L * 86400L * 1000000L)).sorted
    val events = (0 until NEvents).map { i =>
      Row(i.toLong, Ev0.plusNanos(evSecs(i) * 1000L), r.nextInt(NUsers).toLong,
        EventTypes(r.nextInt(EventTypes.length)), cents(r, 0.01, 490.02),
        s"""{"k": ${r.nextInt(100)}}""")
    }.toArray
    // one doc in ten is a near-duplicate of an earlier one: a copy with
    // one token replaced, so the dedup keys have clusters to find (and no
    // two docs are identical)
    val texts = mutable.ArrayBuffer.empty[String]
    val documents = (0 until NDocs).map { i =>
      val t = if (i >= 50 && r.nextInt(10) == 0) {
        val toks = texts(r.nextInt(i)).split(" ")
        val at = 1 + r.nextInt(toks.length - 2)
        toks(at) = if (toks(at) == "zeta") "eta" else "zeta"
        toks.mkString(" ")
      } else docText(r)
      texts += t
      val lang = if (r.nextDouble() < 0.44) "en" else Langs(1 + r.nextInt(4))
      Row(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }.toArray
    require(texts.distinct.size == texts.size, "generated documents must be distinct")
    val centroids = Array.fill(10, Dim)(r.nextDouble() * 2 - 1)
    val embeddings = (0 until NEmbeddings).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(Dim)(d => centroids(label)(d) + 0.6 * (r.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }.toArray
    val ts = TimestampNTZType
    Map(
      "region" -> (schema("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      "nation" -> (schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      "customer" -> (schema("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
        customer),
      "supplier" -> (schema("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      "part" -> (schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      "orders" -> (schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> ts,
        "o_orderpriority" -> StringType), orders),
      "lineitem" -> (schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts), lineitem),
      "events" -> (schema("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      "documents" -> (schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      "embeddings" -> (schema("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType), embeddings))
  }

  /** Files per table: the seed decides which rows each file holds, not
    * how many files there are, so scan parallelism is the same every run.
    */
  val FilesPerTable = 4

  /** Writes every table under `dir` as `<table>.parquet/`, its rows
    * shuffled by `seed` and split evenly into [[FilesPerTable]] files.
    */
  def materialise(spark: SparkSession, dir: String, seed: Long, tables: Seq[String] = Tables): Unit = {
    val rnd = new scala.util.Random(seed)
    tables.foreach { t =>
      val (sch, rs) = rows(t)
      val shuffled = rnd.shuffle(rs.toSeq)
      spark.createDataFrame(spark.sparkContext.parallelize(shuffled, FilesPerTable), sch)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }
}
