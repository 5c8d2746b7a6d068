package graftbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

/** Deterministic synthetic input tables in the layout `SparkEntry.queries`
  * reads (`<dir>/<table>.parquet`): the TPC-H-like star schema plus
  * `documents`, `embeddings` and `events`, with the same column names and
  * types as the repository's test data. Row counts scale with `sf` the
  * way the test data does (sf0.01 = 15k orders, 60k lineitems).
  *
  * The tables are a pure function of (`sf`, [[DataSeed]]): the workload
  * seed never changes them, so the pipeline's recorded result hashes stay
  * valid. Built once per checkout and reused (marker-guarded).
  */
object DataGen {
  val DataSeed = 42L
  /** Bump when the generator's output changes (invalidates cached data). */
  val Version = 1

  val Priorities: Vector[String] =
    Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Vocab = ("key agg row scan slow fast table value part hash a the line sort " +
    "window merge batch spark join file index query plan cache log base slice commit " +
    "delta group").split(" ").toVector
  private val Colors = Vector("red", "blue", "green", "small", "large", "black", "white", "steel")
  private val Nouns = Vector("ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring")
  private val Segments = Vector("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
  private val Types = Vector("ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD")
  private val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val EventTypes = Vector("view", "click", "purchase", "signup", "error")
  private val Langs = Vector("en", "zh", "es", "de", "fr")
  private val Epoch = LocalDate.of(1992, 1, 1)

  def dir(home: String, sf: Double): String = s"$home/data/sf$sf-v$Version"

  /** Build the tables under [[dir]] unless its READY marker exists. */
  def ensure(spark: SparkSession, home: String, sf: Double): String = {
    val d = dir(home, sf)
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(d, "_READY")
    if (!fs.exists(marker)) {
      fs.delete(new Path(d), true)
      write(spark, d, sf)
      fs.create(marker, true).close()
    }
    d
  }

  private def cents(r: SplittableRandom, lo: Long, hi: Long): Double =
    r.nextLong(lo * 100, hi * 100) / 100.0

  private def save(spark: SparkSession, d: String, name: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$d/$name.parquet")
  }

  /** The `orders` rows, also the base of the benchmark's Hudi tables. */
  def orders(sf: Double): Vector[Row] = {
    val r = new SplittableRandom(DataSeed * 31 + 1)
    val nOrders = (1500000 * sf).toInt
    val nCust = (150000 * sf).toInt.max(10)
    Vector.tabulate(nOrders) { k =>
      Row(k.toLong, r.nextLong(nCust), "PFO".charAt(r.nextInt(3)).toString,
        cents(r, 900, 500000), Epoch.plusDays(r.nextInt(2400)).atStartOfDay(),
        Priorities(r.nextInt(Priorities.size)))
    }
  }

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  private def write(spark: SparkSession, d: String, sf: Double): Unit = {
    val r = new SplittableRandom(DataSeed)
    val nCust = (150000 * sf).toInt.max(10)
    val nSupp = (10000 * sf).toInt.max(5)
    val nPart = (200000 * sf).toInt.max(10)
    val nDocs = (50000 * sf).toInt.max(20)
    val nVecs = (50000 * sf).toInt.max(20)
    val nEvents = (1000000 * sf).toInt.max(100)
    val nUsers = (15000 * sf).toInt.max(10)

    save(spark, d, "region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    save(spark, d, "nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save(spark, d, "customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999, 9999), Segments(r.nextInt(5)))))
    save(spark, d, "supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999, 9999))))
    save(spark, d, "part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${Colors(r.nextInt(Colors.size))} ${Nouns(r.nextInt(Nouns.size))}",
        s"Brand#${1 + r.nextInt(25)}", Types(r.nextInt(Types.size)), 1 + r.nextInt(50),
        900 + (i % 1000) / 10.0)))

    val ord = orders(sf)
    save(spark, d, "orders", OrdersSchema, ord)
    val lines = ord.flatMap { o =>
      val n = 1 + r.nextInt(7)
      val date = o.getAs[LocalDateTime](4)
      (1 to n).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.getLong(0), r.nextLong(nPart), r.nextLong(nSupp), ln, qty,
          math.rint(qty * cents(r, 900, 2000) * 100) / 100, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "FO".charAt(r.nextInt(2)).toString, date.plusDays(1 + r.nextInt(120)))
      }
    }
    save(spark, d, "lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
      lines)

    // documents: one in five is a near-duplicate of an earlier document
    // (a few words replaced), so the dedup operators have work to find
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until nDocs).map { i =>
      val text =
        if (i > 0 && r.nextInt(5) == 0) {
          val words = texts(r.nextInt(texts.size)).split(" ")
          words.indices.map(j => if (r.nextInt(20) == 0) Vocab(r.nextInt(Vocab.size)) else words(j))
            .mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts += text
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    save(spark, d, "documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))), docs)

    val dim = 64
    val centers = Vector.fill(10, dim)(r.nextDouble() * 2 - 1)
    save(spark, d, "embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = r.nextInt(10)
        Row(i.toLong, centers(label).map(c => (c + 0.3 * (r.nextDouble() * 2 - 1)).toFloat),
          label)
      })

    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    var micros = 0L
    val span = 30L * 86400L * 1000000L
    save(spark, d, "events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until nEvents).map { i =>
        micros += r.nextLong(2 * span / nEvents)
        Row(i.toLong, t0.plusNanos(micros * 1000), r.nextLong(nUsers),
          EventTypes(r.nextInt(EventTypes.size)), r.nextInt(10000) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      })
  }
}
