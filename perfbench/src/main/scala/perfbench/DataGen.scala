package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a hash of (seed, row id,
  * column salt), so the same seed gives the same tables on any core
  * count. The tables have the schemas the `SparkEntry.queries` leaves
  * read (a small TPC-H-like star, an event stream, documents and
  * embeddings).
  */
object DataGen {
  /** Word list for synthetic documents (the query layer's stopword and
    * language features see a realistic mix).
    */
  val vocab: Seq[String] = Seq(
    "a", "the", "of", "and", "to", "in", "is", "it", "spark", "crawl",
    "page", "host", "frontier", "seen", "bloom", "filter", "index", "round",
    "batch", "stream", "query", "table", "row", "column", "scan", "join",
    "group", "sort", "hash", "key", "value", "window", "vector", "token",
    "data", "order", "part", "line", "merge", "shard", "bucket", "fetch",
    "parse", "link", "robots", "agent", "budget", "crawler", "score", "rank",
    "cluster", "shuffle", "stage", "task", "local", "remote", "fast", "slow",
    "big", "small", "new", "old", "open", "close")

  /** Uniform long in [0, n) from (seed, id, salt). */
  def u(seed: Long, id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(n))

  /** `len` seeded words joined by spaces. */
  def text(seed: Long, id: Column, len: Column, salt: Int): Column = {
    val words = typedlit(vocab)
    concat_ws(" ", transform(sequence(lit(0), len - 1), i =>
      element_at(words, (pmod(xxhash64(lit(seed), id, lit(salt), i),
                              lit(vocab.size.toLong)) + 1).cast("int"))))
  }

  /** `dims` floats uniform in [-1, 1]. */
  def vector(seed: Long, id: Column, dims: Int, salt: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)), i =>
      ((pmod(xxhash64(lit(seed), id, lit(salt), i), lit(2001L)) - 1000) / 1000.0)
        .cast("float"))

  private val epoch = 757382400L // 1994-01-01T00:00:00Z

  /** Writes the query tables under `dir` as `<name>.parquet`, one file
    * each, at a size proportional to `sf` (sf 1 ~ 6M lineitem rows): the
    * row counts and layout of the TPC-H-like tables `graft.Bench` reads.
    */
  def writeTables(s: SparkSession, seed: Long, dir: String, sf: Double): Unit = {
    def rows(perSf: Double) = math.max(1L, (perSf * sf).toLong)
    def put(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long) = s.range(0, n)
    val id = col("id")
    val nOrders = rows(1500000)
    val nCust = rows(150000)
    put("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedlit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
                 (id + 1).cast("int")).as("r_name")))
    put("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey")))
    put("customer", range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, id, 1, 25).cast("int").as("c_nationkey"),
      (u(seed, id, 2, 1099999) / 100.0 - 999.99).as("c_acctbal"),
      element_at(typedlit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
                 (u(seed, id, 3, 5) + 1).cast("int")).as("c_mktsegment")))
    put("orders", range(nOrders).select(id.as("o_orderkey"),
      u(seed, id, 4, nCust).as("o_custkey"),
      element_at(typedlit(Seq("F", "O", "P")), (u(seed, id, 5, 3) + 1).cast("int"))
        .as("o_orderstatus"),
      (u(seed, id, 6, 49899128) / 100.0 + 1000.0).as("o_totalprice"),
      timestamp_seconds(lit(epoch) + u(seed, id, 7, 2500) * 86400).as("o_orderdate"),
      element_at(typedlit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
                 (u(seed, id, 8, 5) + 1).cast("int")).as("o_orderpriority")))
    put("lineitem", range(rows(6000000)).select(
      u(seed, id, 9, nOrders).as("l_orderkey"),
      u(seed, id, 10, rows(200000)).as("l_partkey"),
      u(seed, id, 11, rows(10000)).as("l_suppkey"),
      (u(seed, id, 12, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, id, 13, 50) + 1).cast("double").as("l_quantity"),
      (u(seed, id, 14, 10000000) / 100.0 + 900.0).as("l_extendedprice"),
      (u(seed, id, 15, 11) / 100.0).as("l_discount"),
      (u(seed, id, 16, 9) / 100.0).as("l_tax"),
      element_at(typedlit(Seq("A", "N", "R")), (u(seed, id, 17, 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(typedlit(Seq("F", "O")), (u(seed, id, 18, 2) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(epoch) + u(seed, id, 19, 2500) * 86400).as("l_shipdate")))
    put("events", range(rows(1000000)).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 25920000L +
                       u(seed, id, 20, 25920000)).as("ts"),
      u(seed, id, 21, rows(15000) max 2).as("user_id"),
      element_at(typedlit(Seq("click", "error", "purchase", "signup", "view")),
                 (u(seed, id, 22, 5) + 1).cast("int")).as("event_type"),
      (u(seed, id, 23, 56021) / 100.0).as("value"),
      format_string("{\"k\": %d}", u(seed, id, 24, 100)).as("props")))
    val docs = range(rows(50000)).select(id.as("doc_id"),
      text(seed, id, (u(seed, id, 25, 90) + 8).cast("int"), 26).as("text"),
      element_at(typedlit(Seq("de", "en", "en", "es", "fr", "zh")),
                 (u(seed, id, 27, 6) + 1).cast("int")).as("lang"),
      concat(lit("src"), u(seed, id, 28, 10)).as("source"))
    put("documents", docs.withColumn("n_chars", length(col("text")).cast("long")))
    put("embeddings", range(rows(20000)).select(id.as("vec_id"),
      vector(seed, id, 64, 29).as("embedding"),
      u(seed, id, 30, 10).cast("int").as("label")))
  }
}
