package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the engine's test tables: the TPC-H-shaped star
 * schema (region, nation, customer, supplier, part, orders, lineitem)
 * plus `events`, `documents` and `embeddings`, with the schemas, value
 * ranges and row counts per scale factor of the fixture the queries
 * are written against (sf 0.1 = 600k lineitem rows).
 *
 * Every value is a hash of (seed, column, row id), so a seed gives the
 * same tables whatever the partitioning or core count. */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Write `tables` at scale `sf` under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long, tables: Seq[String]): Unit =
    tables.foreach(t => table(spark, t, sf, seed).write.mode("overwrite").parquet(s"$dir/$t.parquet"))

  def rows(t: String, sf: Double): Long = t match {
    case "region" => 5
    case "nation" => 25
    case "customer" => (150000 * sf).toLong
    case "supplier" => (10000 * sf).toLong
    case "part" => (200000 * sf).toLong
    case "orders" => (1500000 * sf).toLong
    case "lineitem" => (6000000 * sf).toLong
    case "events" => (1000000 * sf).toLong
    case "documents" => (50000 * sf).toLong
    case "embeddings" => (20000 * sf).toLong
  }

  def table(spark: SparkSession, t: String, sf: Double, seed: Long): DataFrame = {
    val n = math.max(1L, rows(t, sf))
    val ids = spark.range(0, n, 1, math.max(1, (n / 250000).toInt))
    val id = col("id")
    def h(salt: Int, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    def below(salt: Int, m: Long): Column = pmod(h(salt, id), lit(m))
    def unit(salt: Int): Column = below(salt, 1L << 40).cast("double") / (1L << 40).toDouble
    def money(salt: Int, lo: Double, hi: Double): Column = round(lit(lo) + unit(salt) * (hi - lo), 2)
    def pick(salt: Int, vs: Seq[String]): Column =
      element_at(array(vs.map(lit): _*), (below(salt, vs.length.toLong) + 1).cast("int"))
    // wall-clock timestamps without a zone, like the fixture's; the
    // session zone is UTC, so the cast keeps the UTC wall clock
    def ntz(base: String, micros: Column): Column = {
      val baseMicros = java.time.LocalDate.parse(base).toEpochDay * 86400L * 1000000L
      timestamp_micros(lit(baseMicros) + micros).cast("timestamp_ntz")
    }
    val day = 86400L * 1000000L
    t match {
      case "region" => ids.select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name"))
      case "nation" => ids.select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
      case "customer" => ids.select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"), below(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" => ids.select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"), below(1, 25).cast("int").as("s_nationkey"),
        money(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" => ids.select(id.as("p_partkey"),
        concat_ws(" ", pick(1, Seq("large", "small", "hot", "cold", "shiny", "matte")),
          pick(2, Seq("ring", "bolt", "nut", "gear", "pipe", "valve"))).as("p_name"),
        concat(lit("Brand#"), below(3, 50) + 1).as("p_brand"),
        pick(4, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")).as("p_type"),
        (below(5, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(id, lit(20001)).cast("double") / 10, 2).as("p_retailprice"))
      case "orders" => ids.select(id.as("o_orderkey"), below(1, rows("customer", sf)).as("o_custkey"),
        pick(2, Seq("O", "F", "P")).as("o_orderstatus"), money(3, 900.0, 500000.0).as("o_totalprice"),
        ntz("1995-01-01", below(4, 2400) * day).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        val qty = (below(5, 50) + 1).cast("double")
        ids.select(below(1, rows("orders", sf)).as("l_orderkey"),
          below(2, rows("part", sf)).as("l_partkey"), below(3, rows("supplier", sf)).as("l_suppkey"),
          (below(4, 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
          round(qty * money(6, 900.0, 2100.0), 2).as("l_extendedprice"),
          (below(7, 11).cast("double") / 100).as("l_discount"),
          (below(8, 9).cast("double") / 100).as("l_tax"),
          pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("F", "O")).as("l_linestatus"),
          ntz("1995-01-02", below(11, 2500) * day).as("l_shipdate"))
      case "events" =>
        val span = 30L * 86400 * 1000000
        ids.select(id.as("event_id"),
          ntz("2024-01-01", id * (span / n) + below(1, span / n)).as("ts"),
          below(2, 2000).as("user_id"),
          pick(3, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
          money(4, 0.0, 200.0).as("value"),
          concat(lit("{\"k\": "), below(5, 100), lit("}")).as("props"))
      case "documents" =>
        // every 97th document repeats an earlier text exactly, every
        // 89th repeats one with a token changed: the dedup queries'
        // exact and near duplicates
        val exact = pmod(id, lit(97)) === 5
        val near = pmod(id, lit(89)) === 3
        val base = when(exact, id - 5).when(near, id - 3).otherwise(id)
        val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
        ids.select(id, base.as("base"), near.as("near"))
          .select(col("id").as("doc_id"),
            expr(s"concat_ws(' ', transform(sequence(1, 10 + cast(pmod(xxhash64(${seed}L, 7, base), 91) AS INT)), " +
              s"i -> if(near AND i = 2, 'dup', element_at($vocab, " +
              s"cast(pmod(xxhash64(${seed}L, 8, base, i), ${Vocab.length}) AS INT) + 1))))").as("text"),
            pick(9, Seq("en", "en", "en", "zh", "es", "fr", "de")).as("lang"),
            concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        ids.select(id.as("vec_id"), below(1, 10).cast("int").as("label"))
          .withColumn("raw", expr(
            s"transform(sequence(0, 63), d -> " +
              s"(pmod(xxhash64(${seed}L, 2, label, d), 2001) - 1000) / 1000.0 + " +
              s"(pmod(xxhash64(${seed}L, 3, vec_id, d), 2001) - 1000) / 1500.0)"))
          .select(col("vec_id"),
            expr("transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT))")
              .as("embedding"),
            col("label"))
    }
  }
}
