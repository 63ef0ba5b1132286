package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpus in the table layout `graft.Tables` reads (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings; one parquet directory per table under `dir`), so the
  * `SparkEntry` registry can run on inputs the benchmark makes itself.
  *
  * Column names and types follow the TPC-H-ish star schema the registry's
  * entries are written against: no NULLs, naive timestamps, `doc_id` and
  * `vec_id` contiguous from 0, embeddings of 64 floats with non-zero norm.
  * Row counts scale with `sf` like the reference layout (sf 0.01 ≈ 60K
  * lineitems); documents and embeddings stay at 500 rows.
  *
  * Every value is a pure function of (seed, row id) through `xxhash64`, so
  * a table's contents do not depend on partitioning.
  */
object Corpus {

  private val vocab = ("the fast key order sort table scan merge part window " +
    "small hash join batch stream spark dup group query row data slow " +
    "filter customer line value agg column big vector a").split(" ").toSeq

  /** Uniform draw in [0, 1) keyed on the seed, a salt and row columns. */
  private def u(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000003L)) / 1000003.0

  private def pick(xs: Seq[String], draw: Column): Column =
    element_at(array(xs.map(lit): _*), (draw * xs.size).cast("int") + 1)

  private def money(lo: Double, hi: Double, draw: Column): Column =
    round(lit(lo) + draw * (hi - lo), 2)

  private def day(base: String, days: Column): Column =
    date_add(lit(base).cast("date"), days.cast("int")).cast("timestamp_ntz")

  def write(spark: SparkSession, sf: Double, seed: Long, dir: String): Unit = {
    def rows(n: Long) = spark.range(0L, n, 1L, 1)
    def n(base: Double) = math.max(10L, math.round(base * sf / 0.01))
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nEvents = n(10000)
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", rows(5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        id / 5.0).as("r_name")))
    save("nation", rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", rows(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      (u(seed, 1, id) * 25).cast("int").as("c_nationkey"),
      money(-999, 9999, u(seed, 2, id)).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), u(seed, 3, id)).as("c_mktsegment")))
    save("supplier", rows(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      (u(seed, 4, id) * 25).cast("int").as("s_nationkey"),
      money(-999, 9999, u(seed, 5, id)).as("s_acctbal")))
    save("part", rows(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(Seq("small", "red", "blue", "cold", "large"),
        u(seed, 6, id)), pick(Seq("ring", "widget", "bolt", "gear"),
        u(seed, 7, id))).as("p_name"),
      concat(lit("Brand#"), (u(seed, 8, id) * 24).cast("int") + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        u(seed, 9, id)).as("p_type"),
      ((u(seed, 10, id) * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + id % 1000 * 0.1 + u(seed, 11, id) * 100, 2)
        .as("p_retailprice")))

    val orderDay = (u(seed, 12, id) * 2400).cast("int")
    save("orders", rows(nOrd).select(id.as("o_orderkey"),
      (u(seed, 13, id) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, 14, id)).as("o_orderstatus"),
      money(1000, 500000, u(seed, 15, id)).as("o_totalprice"),
      day("1995-01-01", orderDay).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(seed, 16, id)).as("o_orderpriority")))

    // 1..7 lines per order (mean 4); the ship date trails the order date
    val lines = rows(nOrd)
      .withColumn("od", orderDay)
      .withColumn("ln", explode(sequence(lit(1),
        (u(seed, 17, id) * 7).cast("int") + 1)))
    val l = Seq(id, col("ln"))
    save("lineitem", lines.select(id.as("l_orderkey"),
      (u(seed, 18, l: _*) * nPart).cast("long").as("l_partkey"),
      (u(seed, 19, l: _*) * nSupp).cast("long").as("l_suppkey"),
      col("ln").as("l_linenumber"),
      ((u(seed, 20, l: _*) * 50).cast("int") + 1).cast("double").as("l_quantity"),
      money(900, 100000, u(seed, 21, l: _*)).as("l_extendedprice"),
      ((u(seed, 22, l: _*) * 11).cast("int") / 100.0).as("l_discount"),
      ((u(seed, 23, l: _*) * 9).cast("int") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 24, l: _*)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 25, l: _*)).as("l_linestatus"),
      day("1995-01-01", col("od") + (u(seed, 26, l: _*) * 90).cast("int") + 1)
        .as("l_shipdate")))

    // 30 days of events from 2024-01-01, ~150 users per 10K events
    val evMicros = (u(seed, 27, id) * 30 * 86400 * 1e6).cast("long")
    save("events", rows(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + evMicros)
        .cast("timestamp_ntz").as("ts"),
      (u(seed, 28, id) * math.max(2L, nEvents / 66)).cast("long").as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"), u(seed, 29, id))
        .as("event_type"),
      money(0.01, 490, u(seed, 30, id)).as("value"),
      format_string("{\"k\": %d}", (u(seed, 31, id) * 100).cast("int"))
        .as("props")))
    // 5..80 tokens per document
    val docs = rows(500)
      .withColumn("k", (u(seed, 32, id) * 76).cast("int") + 5)
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("k")),
        i => element_at(array(vocab.map(lit): _*),
          (pmod(xxhash64(lit(seed), id, i), lit(vocab.size.toLong)) + 1)
            .cast("int")))))
    save("documents", docs.select(id.as("doc_id"), col("text"),
      pick(Seq("en", "en", "en", "fr", "de", "es", "zh"), u(seed, 33, id))
        .as("lang"),
      concat(lit("src"), (u(seed, 34, id) * 20).cast("int")).as("source"),
      length(col("text")).cast("long").as("n_chars")))
    // every 10th vector repeats an earlier one: exact duplicates exist
    val base = when(id % 10 === 9, id - 9).otherwise(id)
    save("embeddings", rows(500).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit(seed), base, j), lit(2000001L)) / 1e6 - 1.0) * 0.25)
          .cast("float")).as("embedding"),
      (u(seed, 35, id) * 10).cast("int").as("label")))
  }
}
