package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every table has the schema of graft's
  * fixture tables (the star schema plus `events`, `documents` and
  * `embeddings`), so the registered queries and their DuckDB oracles run
  * on it unchanged. The same seed always yields the same bytes of data:
  * the wide tables come from `xxhash64(seed, salt, id)` expressions over
  * `spark.range`, the small text and vector tables from a
  * `SplittableRandom` on the driver.
  */
object Gen {

  /** Row counts per table at scale factor `sf` (the fixture's ratios). */
  final case class Sizes(sf: Double) {
    private def n(base: Double) = math.max(1L, math.round(base * sf))
    val customer = n(150000); val supplier = n(10000); val part = n(200000)
    val orders = n(1500000); val lineitem = n(6000000); val events = n(1000000)
    val users = n(15000); val documents = n(50000); val embeddings = n(20000)
  }

  /** Uniform double in [0, 1) from the seed, a per-column salt and the
    * row id. */
  private def u(seed: Long, salt: Int): org.apache.spark.sql.Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), col("id")), 11)
      .cast("double") / lit(9007199254740992.0)

  private def pick(seed: Long, salt: Int, options: Seq[String]) =
    element_at(array(options.map(lit): _*),
      (floor(u(seed, salt) * options.size) + 1).cast("int"))

  private def intBelow(seed: Long, salt: Int, n: Long) =
    floor(u(seed, salt) * n).cast("long")

  private def money(seed: Long, salt: Int, lo: Double, hi: Double) =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)

  private def day(seed: Long, salt: Int, from: String, days: Int) =
    expr(s"CAST(DATE '$from' AS TIMESTAMP)") +
      make_dt_interval(intBelow(seed, salt, days).cast("int"))

  /** Writes all ten tables as `<dir>/<name>.parquet`. */
  def tables(s: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    val z = Sizes(sf)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    import s.implicits._
    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", s.range(z.customer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      intBelow(seed, 1, 25).cast("int").as("c_nationkey"),
      money(seed, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", s.range(z.supplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      intBelow(seed, 4, 25).cast("int").as("s_nationkey"),
      money(seed, 5, -999.99, 9999.99).as("s_acctbal")))
    write("part", s.range(z.part).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, Seq("red", "small", "hot", "cold", "old", "new", "large", "blue")),
        pick(seed, 7, Seq("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), (intBelow(seed, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"))
        .as("p_type"),
      (intBelow(seed, 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    write("orders", s.range(z.orders).select(
      col("id").as("o_orderkey"),
      intBelow(seed, 11, z.customer).as("o_custkey"),
      pick(seed, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      money(seed, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(seed, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", s.range(z.lineitem).select(
      intBelow(seed, 16, z.orders).as("l_orderkey"),
      intBelow(seed, 17, z.part).as("l_partkey"),
      intBelow(seed, 18, z.supplier).as("l_suppkey"),
      (intBelow(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
      (intBelow(seed, 20, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 21, 900.0, 105000.0).as("l_extendedprice"),
      (intBelow(seed, 22, 11) / 100.0).as("l_discount"),
      (intBelow(seed, 23, 9) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O")).as("l_linestatus"),
      day(seed, 26, "1995-01-02", 2498).as("l_shipdate")))
    // events are in time order: id i falls in the i-th slot of a 30-day
    // span, at a seeded offset within it
    val slotMicros = 30L * 86400L * 1000000L / z.events
    write("events", s.range(z.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * slotMicros +
        intBelow(seed, 27, slotMicros)).as("ts"),
      intBelow(seed, 28, z.users).as("user_id"),
      pick(seed, 29, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(u(seed, 30) * u(seed, 31) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", intBelow(seed, 32, 100)).as("props")))
    write("documents", documents(s, seed, z.documents.toInt))
    write("embeddings", embeddings(s, seed, z.embeddings.toInt))
  }

  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` documents of 10–100 vocabulary words. About one in twenty is a
    * near-duplicate of an earlier document (its last word dropped, or
    * " dup" appended), so the dedup chains find real groups. */
  def docs(seed: Long, n: Int): Vector[Doc] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val langs = Array("en", "en", "en", "zh", "de", "fr", "es")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 20 && r.nextInt(20) == 0) {
          val src = texts(r.nextInt(i))
          if (r.nextBoolean()) src.substring(0, src.lastIndexOf(' ')) else src + " dup"
        } else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      Doc(i.toLong, texts(i), langs(r.nextInt(langs.length)), s"src${i % 20}")
    }.toVector
  }

  def documents(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val rows = docs(seed, n).map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** `n` 64-dimensional float vectors around ten seeded label centres. */
  def embeddings(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = new SplittableRandom(seed * 31 + 11)
    def gauss(): Double = { // Box-Muller
      val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centres = Array.fill(10, 64)(gauss() * 0.15)
    val rows = (0 until n).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centres(label).map(c => (c + gauss() * 0.08).toFloat).toSeq, label)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))
  }
}
