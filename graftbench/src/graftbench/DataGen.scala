package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the fixture tables the declared queries and the
  * pipeline read (the TPC-H-ish star schema, `events`, `documents` and
  * `embeddings`, with the column names and types of the fixture tables
  * described in TESTDATA.md).
  * Every value is a pure function of the seed (through `xxhash64` of
  * (seed, table, row id), or a seeded in-JVM generator for the small
  * `documents` table), and each table is written as one file, so the same
  * seed always yields the same inputs.
  *
  * Row counts follow the fixtures' scale factor 0.01: 60k lineitem rows,
  * 15k orders, 500 documents and 500 embeddings. */
object DataGen {
  val ScaleFactor = 0.01

  val Vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "key",
    "agg", "value", "part", "table", "fast", "spark", "a", "the", "line",
    "sort", "window", "data", "query", "big", "stream", "group", "index",
    "plan")

  private def sized(n: Double): Long = math.max(1L, math.round(n * ScaleFactor))

  /** Writes every fixture table under `dir` as `<name>.parquet`, four
    * tables at a time. */
  def all(spark: SparkSession, dir: String, seed: Long): Unit = {
    val g = new Gen(spark, seed)
    val nCust = sized(150000); val nSupp = sized(10000)
    val nPart = sized(200000); val nOrders = sized(1500000)
    Parallel.run(Seq[() => Unit](
      () => write(g.lineitem(sized(6000000), nOrders, nPart, nSupp), dir, "lineitem"),
      () => write(g.orders(nOrders, nCust), dir, "orders"),
      () => write(g.events(sized(1000000), sized(15000)), dir, "events"),
      () => documents(spark, dir, seed, sized(50000)),
      () => write(g.embeddings(sized(50000)), dir, "embeddings"),
      () => write(g.customer(nCust), dir, "customer"),
      () => write(g.part(nPart), dir, "part"),
      () => write(g.supplier(nSupp), dir, "supplier"),
      () => write(g.nation, dir, "nation"),
      () => write(g.region, dir, "region")))
  }

  /** The `documents` table alone, with `n` rows: word salad over
    * [[Vocab]]. Document lengths and which rows are copies depend on the
    * row id only, so every seed yields the same amount of work: 4% of the
    * rows are case/space variants of another document (exact duplicates
    * after normalization) and 6% are that document plus one word (near
    * duplicates). The words and the copied documents come from the seed. */
  def documents(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    def word() = Vocab(rnd.nextInt(Vocab.size))
    val own = (0 until n.toInt).map(i => Seq.fill(10 + (i * 7919) % 70)(word()).mkString(" "))
    val langs = Seq("en", "en", "en", "en", "zh", "de", "fr", "es", "en")
    val rows = own.indices.map { i =>
      val src = own(rnd.nextInt(i + 1))
      val text = (i * 31) % 100 match {
        case k if k < 4 => src.capitalize + " "
        case k if k < 10 => src + " " + word()
        case _ => own(i)
      }
      (i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    write(spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars"),
      dir, "documents")
  }

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private final class Gen(spark: SparkSession, seed: Long) {
    /** Deterministic 64-bit draw for (seed, salt, row id[, extra]). */
    private def h(salt: Int, extra: Column*): Column =
      xxhash64((lit(seed) +: lit(salt) +: col("id") +: extra): _*)
    private def pick(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    private def unif(salt: Int): Column =
      pmod(h(salt), lit(1000000007L)).cast("double") / 1000000007.0
    private def oneOf(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), pick(salt, xs.size.toLong).cast("int") + 1)
    private def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + unif(salt) * (hi - lo), 2)
    /** Midnight timestamps uniform over [from, from + days). */
    private def day(salt: Int, from: String, days: Int): Column =
      to_timestamp(date_add(to_date(lit(from)), pick(salt, days.toLong).cast("int")))
    private def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

    def region: DataFrame = spark.range(0, 5, 1, 1).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1).as("r_name"))

    def nation: DataFrame = spark.range(0, 25, 1, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))

    def customer(n: Long): DataFrame = rows(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
        "BUILDING")).as("c_mktsegment"))

    def supplier(n: Long): DataFrame = rows(n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(11, 25).cast("int").as("s_nationkey"),
      money(12, -999.99, 9999.99).as("s_acctbal"))

    def part(n: Long): DataFrame = rows(n).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        oneOf(21, Seq("blue", "red", "small", "old", "new", "hot", "cold", "big")),
        oneOf(22, Seq("bolt", "gear", "anvil", "widget", "rod", "plate", "ring")))
        .as("p_name"),
      concat(lit("Brand#"), pick(23, 25) + 1).as("p_brand"),
      oneOf(24, Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"))
        .as("p_type"),
      (pick(25, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000L)) * 0.1, 1).as("p_retailprice"))

    def orders(n: Long, nCust: Long): DataFrame = rows(n).select(
      col("id").as("o_orderkey"),
      pick(31, nCust).as("o_custkey"),
      oneOf(32, Seq("F", "O", "P")).as("o_orderstatus"),
      money(33, 1000.0, 500000.0).as("o_totalprice"),
      day(34, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

    def lineitem(n: Long, nOrders: Long, nPart: Long, nSupp: Long): DataFrame =
      rows(n).select(
        pick(41, nOrders).as("l_orderkey"),
        pick(42, nPart).as("l_partkey"),
        pick(43, nSupp).as("l_suppkey"),
        (pick(44, 7) + 1).cast("int").as("l_linenumber"),
        (pick(45, 50) + 1).cast("double").as("l_quantity"),
        money(46, 900.0, 105000.0).as("l_extendedprice"),
        (pick(47, 11).cast("double") / 100.0).as("l_discount"),
        (pick(48, 9).cast("double") / 100.0).as("l_tax"),
        oneOf(49, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(50, Seq("F", "O")).as("l_linestatus"),
        day(51, "1995-01-02", 2498).as("l_shipdate"))

    /** Event times ascend with event_id over January 2024 (µs jitter
      * inside each row's slot), like an append-only stream. */
    def events(n: Long, nUsers: Long): DataFrame = {
      val start = 1704067200L * 1000000L
      val slot = 30L * 86400L * 1000000L / n
      rows(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(start) + col("id") * slot + pick(61, slot)).as("ts"),
        pick(62, nUsers).as("user_id"),
        oneOf(63, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
        money(64, 0.01, 490.02).as("value"),
        format_string("{\"k\": %d}", pick(65, 100)).as("props"))
    }

    /** Unit-norm 64-d float vectors around ten label centroids. */
    def embeddings(n: Long): DataFrame = {
      val raw = rows(n).select(col("id").as("vec_id"),
        pick(81, 10).cast("int").as("label"))
        .withColumn("v", expr(
          s"transform(sequence(0, 63), j -> " +
            s"(pmod(xxhash64(${seed}L, 82, label, j), 2001) - 1000) / 1000.0 + " +
            s"0.6 * (pmod(xxhash64(${seed}L, 83, vec_id, j), 2001) - 1000) / 1000.0)"))
      raw.select(col("vec_id"),
        expr("transform(v, x -> cast(x / sqrt(aggregate(v, 0D, (a, y) -> a + y * y)) as float))")
          .as("embedding"),
        col("label"))
    }
  }
}
