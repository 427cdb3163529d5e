package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic catalog corpus: the ten tables the catalog reads
  * (`graft.Tables.names`), with the column types and value domains of
  * the project's test corpus, written as one parquet file per table.
  *
  * Row counts scale with `scale` the way the test corpus does at
  * sf = scale (lineitem ≈ 6M × sf); `documents` and `embeddings` have
  * their own counts because several text and media kernels cost far
  * more per document than a relational operator costs per row.
  */
object Corpus {
  final case class Sizes(scale: Double, documents: Int, embeddings: Int) {
    def customers: Int = math.max(100, (150000 * scale).toInt)
    def suppliers: Int = math.max(20, (10000 * scale).toInt)
    def parts: Int = math.max(100, (200000 * scale).toInt)
    def orders: Int = math.max(500, (1500000 * scale).toInt)
    def lineitems: Int = math.max(2000, (6000000 * scale).toInt)
    def events: Int = math.max(1000, (1000000 * scale).toInt)
    def users: Int = math.max(50, (15000 * scale).toInt)
    def describe: String =
      s"""{"scale":$scale,"customer":$customers,"supplier":$suppliers,"part":$parts,""" +
        s""""orders":$orders,"lineitem":$lineitems,"events":$events,""" +
        s""""documents":$documents,"embeddings":$embeddings}"""
  }

  val Vocab: Array[String] = ("a the data table row column key value hash join sort " +
    "filter scan group agg order window query spark stream batch merge part line " +
    "customer vector fast slow small big").split(" ")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small", "green")
  private val Nouns = Array("anvil", "bolt", "gear", "plate", "ring", "rod", "widget")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "en", "de", "es", "fr", "zh", "en", "de",
    "es", "fr", "zh")
  private val DayMs = 86400000L
  private val OrderEpoch = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
  private val EventEpoch = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  def text(r: java.util.Random, words: Int): String =
    Iterator.fill(words)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** Writes every table under `dir`, one parquet directory each. */
  def write(spark: SparkSession, dir: String, sizes: Sizes, seed: Long): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rng(salt: Int) = new java.util.Random(seed * 1000003L + salt)

    save("region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    save("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(1)
    save("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until sizes.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), Segments(rc.nextInt(Segments.length)))))

    val rs = rng(2)
    save("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until sizes.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = rng(3)
    save("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until sizes.parts).map(i => Row(i.toLong,
        Adjectives(rp.nextInt(Adjectives.length)) + " " + Nouns(rp.nextInt(Nouns.length)),
        s"Brand#${1 + rp.nextInt(25)}", Types(rp.nextInt(Types.length)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val ro = rng(4)
    val orderDays = 2404 // 1995-01-01 .. 2001-08-01
    save("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
      (0 until sizes.orders).map(i => Row(i.toLong, ro.nextInt(sizes.customers).toLong,
        "FOP".charAt(ro.nextInt(3)).toString, money(ro, 1000.0, 500000.0),
        new Timestamp(OrderEpoch + ro.nextInt(orderDays) * DayMs),
        Priorities(ro.nextInt(Priorities.length)))))

    val rl = rng(5)
    save("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
      (0 until sizes.lineitems).map { _ =>
        val partkey = rl.nextInt(sizes.parts)
        val qty = 1 + rl.nextInt(50)
        Row(rl.nextInt(sizes.orders).toLong, partkey.toLong, rl.nextInt(sizes.suppliers).toLong,
          1 + rl.nextInt(7), qty.toDouble,
          math.round(qty * (900.0 + (partkey % 1000) / 10.0) * (0.9 + rl.nextDouble() * 0.15) * 100) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          "ANR".charAt(rl.nextInt(3)).toString, "FO".charAt(rl.nextInt(2)).toString,
          new Timestamp(OrderEpoch + (1 + rl.nextInt(orderDays + 94)) * DayMs))
      })

    val re = rng(6)
    val spanMicros = 30L * DayMs * 1000
    save("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until sizes.events).map { i =>
        val micros = (i.toLong * spanMicros) / sizes.events + (re.nextDouble() * 1e6).toLong
        val ts = new Timestamp(EventEpoch + micros / 1000)
        ts.setNanos(((micros % 1000000) * 1000).toInt)
        Row(i.toLong, ts, re.nextInt(sizes.users).toLong, EventTypes(re.nextInt(EventTypes.length)),
          math.round(-math.log(1 - re.nextDouble()) * 50 * 100) / 100.0,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    save("documents", documentSchema, documents(rng(7), sizes.documents))

    val rv = rng(8)
    val centroids = Array.fill(10)(Array.fill(64)(rv.nextGaussian()))
    save("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until sizes.embeddings).map { i =>
        val label = rv.nextInt(10)
        val v = centroids(label).map(_ * 0.6 + rv.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  val documentSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def document(id: Long, text: String, lang: String, source: String): Row =
    Row(id, text, lang, source, text.length.toLong)

  /** `n` documents of 8..96 vocabulary words; about 1 in 600 repeats an
    * earlier text verbatim, as the test corpus does. */
  def documents(r: java.util.Random, n: Int): Seq[Row] = {
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val t = if (i > 0 && r.nextInt(600) == 0) texts(r.nextInt(texts.length))
              else text(r, 8 + r.nextInt(89))
      texts += t
      document(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}")
    }
  }
}
