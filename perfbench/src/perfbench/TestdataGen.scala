package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the driver-query tables (a TPC-H-like star schema
  * plus `events` and `documents`) with the column names and types the
  * queries read. Row counts scale with `sf` like the reference testdata
  * (lineitem 6M x sf, orders 1.5M x sf, events and documents 1M x sf and
  * 50k x sf). Each table is written as one parquet file, one row group,
  * under `<dir>/<table>.parquet/`. Generation runs in one partition per
  * table, so the same seed gives the same bytes. */
object TestdataGen {

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents")

  private val Words = Seq("a", "the", "data", "spark", "table", "row", "column",
    "query", "join", "agg", "group", "sort", "hash", "merge", "scan", "filter",
    "window", "stream", "batch", "key", "value", "line", "order", "part",
    "customer", "fast", "slow", "big", "small", "vector")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    var salt = 0L
    def u(): Column = { salt += 1; rand(seed * 1000 + salt) }
    def pick(xs: Seq[String]): Column =
      element_at(typedLit(xs), (floor(u() * xs.size) + 1).cast("int"))
    def uniform(lo: Int, hi: Int): Column = (floor(u() * (hi - lo + 1)) + lo).cast("int")
    def money(lo: Double, hi: Double): Column = round(u() * (hi - lo) + lo, 2)
    def days(from: String, span: Int): Column =
      date_add(lit(java.sql.Date.valueOf(from)), uniform(0, span - 1))
        .cast(TimestampNTZType)
    def rows(count: Long) = spark.range(0, count, 1, 1).toDF("i")

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000)
    val nUsers = math.max(10L, n(15000))
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> rows(5).select(col("i").cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (col("i") + 1).cast("int")).as("r_name")),
      "nation" -> rows(25).select(col("i").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("i")).as("n_name"),
        (col("i") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(nCust).select(col("i").as("c_custkey"),
        format_string("Customer#%09d", col("i")).as("c_name"),
        uniform(0, 24).as("c_nationkey"), money(-999.99, 9999.99).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> rows(nSupp).select(col("i").as("s_suppkey"),
        format_string("Supplier#%09d", col("i")).as("s_name"),
        uniform(0, 24).as("s_nationkey"), money(-999.99, 9999.99).as("s_acctbal")),
      "part" -> rows(nPart).select(col("i").as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "red", "blue", "hot", "old", "large", "green", "shiny")),
          pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")))
          .as("p_name"),
        concat(lit("Brand#"), uniform(1, 25)).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
        uniform(1, 50).as("p_size"),
        round(lit(900.0) + (col("i") % 1000) / 10.0, 2).as("p_retailprice")),
      "orders" -> rows(nOrd).select(col("i").as("o_orderkey"),
        floor(u() * nCust).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P")).as("o_orderstatus"),
        money(1000.0, 500000.0).as("o_totalprice"),
        days("1995-01-01", 2405).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> rows(nLine).select(
        floor(u() * nOrd).cast("long").as("l_orderkey"),
        floor(u() * nPart).cast("long").as("l_partkey"),
        floor(u() * nSupp).cast("long").as("l_suppkey"),
        uniform(1, 7).as("l_linenumber"),
        uniform(1, 50).cast("double").as("l_quantity"),
        money(900.0, 105000.0).as("l_extendedprice"),
        (uniform(0, 10) / 100.0).as("l_discount"),
        (uniform(0, 8) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R")).as("l_returnflag"),
        pick(Seq("O", "F")).as("l_linestatus"),
        days("1995-01-02", 2499).as("l_shipdate")),
      "events" -> {
        // one event per slot of an even grid over January 2024, jittered
        // inside its slot: timestamps increase with event_id
        val slot = 30L * 86400L * 1000000L / nEv
        val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
        rows(nEv).select(col("i").as("event_id"),
          timestamp_micros(lit(t0) + col("i") * slot + floor(u() * slot).cast("long"))
            .cast(TimestampNTZType).as("ts"),
          floor(u() * nUsers).cast("long").as("user_id"),
          pick(Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
          money(0.01, 490.02).as("value"),
          format_string("{\"k\": %d}", uniform(0, 99)).as("props"))
      },
      "documents" -> {
        val len = uniform(8, 80)
        rows(nDoc).select(col("i").as("doc_id"), len.as("len"))
          .select(col("doc_id"),
            array_join(transform(sequence(lit(1), col("len")), j =>
              element_at(typedLit(Words),
                (pmod(xxhash64(lit(seed), col("doc_id"), j), lit(Words.size.toLong)) + 1)
                  .cast("int"))), " ").as("text"),
            pick(Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
            concat(lit("src"), uniform(0, 19)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    Map("region" -> 5L, "nation" -> 25L, "customer" -> nCust, "supplier" -> nSupp,
      "part" -> nPart, "orders" -> nOrd, "lineitem" -> nLine, "events" -> nEv,
      "documents" -> nDoc)
  }
}
