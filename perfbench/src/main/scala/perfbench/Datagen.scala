package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the ten engine tables (`graft.Tables`).
  *
  * Every value is a pure function of the row id and a fixed data seed, via
  * `xxhash64`, so the bytes do not depend on partitioning, core count or the
  * run's `--seed`. The run seed varies only what the workloads do with the
  * tables (order, slicing, probes). The shapes follow the TPC-H-like star
  * the engine's queries expect: row counts scale with `sf` (sf0.1 gives
  * 600k lineitems), and the columns have the same names and types.
  */
object Datagen {
  /** Bumped whenever the generated bytes change; part of the cache key. */
  val version = "1"

  private val dataSeed = 42L

  /** Uniform [0, 1) from the row id and a salt. */
  private def u(salt: Int, id: String = "id"): String =
    s"(CAST(xxhash64($id, ${dataSeed}L, $salt) & 9223372036854775807 AS DOUBLE) / 9.223372036854775807E18)"

  private def pick(salt: Int, values: Seq[String], id: String = "id"): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), " +
      s"CAST(floor(${u(salt, id)} * ${values.size}) AS INT) + 1)"

  private val vocab = Seq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
    "merge", "batch", "spark", "a", "the", "line", "sort", "window", "data", "column",
    "join", "small", "customer", "query", "order", "filter", "stream", "group", "big",
    "vector", "index", "shard", "cache", "page", "block", "plan", "stage", "task",
    "queue", "lease", "commit", "fold", "probe", "cell", "code", "label", "token",
    "price", "supply", "nation", "region", "ship", "date", "year", "month", "day",
    "report", "sale", "loss", "gain")

  def rows(sf: Double): Map[String, Long] = {
    def n(x: Double, floor: Long) = math.max(floor, math.round(x * sf))
    Map(
      "customer" -> n(150000, 50), "supplier" -> n(10000, 10), "part" -> n(200000, 50),
      "orders" -> n(1500000, 200), "events" -> n(1000000, 500),
      "documents" -> n(50000, 200), "embeddings" -> n(20000, 200))
  }

  def tables(spark: SparkSession, sf: Double): Map[String, DataFrame] = {
    val n = rows(sf)
    def range(k: Long): DataFrame = spark.range(0, k, 1, 1).toDF()
    val region = range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")
    val nation = range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey")
    val customer = range(n("customer")).selectExpr("id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"CAST(floor(${u(1)} * 25) AS INT) AS c_nationkey",
      s"round(-999.99 + ${u(2)} * 10999.98, 2) AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
    val supplier = range(n("supplier")).selectExpr("id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      s"CAST(floor(${u(4)} * 25) AS INT) AS s_nationkey",
      s"round(-999.99 + ${u(5)} * 10999.98, 2) AS s_acctbal")
    val part = range(n("part")).selectExpr("id AS p_partkey",
      s"concat(${pick(6, Seq("small", "red", "blue", "large", "green", "steel"))}, ' ', " +
        s"${pick(7, Seq("ring", "widget", "bolt", "gear", "valve", "plate"))}) AS p_name",
      s"concat('Brand#', CAST(floor(${u(8)} * 25) + 1 AS INT)) AS p_brand",
      s"${pick(9, Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"))} AS p_type",
      s"CAST(floor(${u(10)} * 50) + 1 AS INT) AS p_size",
      "round(900 + (id % 1000) / 10.0, 1) AS p_retailprice")
    val ordersBase = range(n("orders")).selectExpr("id AS o_orderkey",
      s"CAST(floor(${u(11)} * ${n("customer")}) AS BIGINT) AS o_custkey",
      s"${pick(12, Seq("F", "O", "P"))} AS o_orderstatus",
      s"round(1000 + ${u(13)} * 499000, 2) AS o_totalprice",
      s"CAST(date_add(DATE'1995-01-01', CAST(floor(${u(14)} * 2404) AS INT)) AS TIMESTAMP) AS o_orderdate",
      s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority",
      s"CAST(floor(${u(16)} * 7) + 1 AS INT) AS lines")
    val orders = ordersBase.drop("lines")
    // Line ids are dense per order, so a line's hash id is order*8 + line.
    val lineitem = ordersBase
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("lines"))).as("l_linenumber"))
      .withColumn("id", col("o_orderkey") * 8 + col("l_linenumber"))
      .selectExpr("o_orderkey AS l_orderkey",
        s"CAST(floor(${u(17)} * ${n("part")}) AS BIGINT) AS l_partkey",
        s"CAST(floor(${u(18)} * ${n("supplier")}) AS BIGINT) AS l_suppkey",
        "l_linenumber",
        s"floor(${u(19)} * 50) + 1.0 AS l_quantity",
        s"round((floor(${u(19)} * 50) + 1.0) * (900 + ${u(20)} * 100), 2) AS l_extendedprice",
        s"floor(${u(21)} * 11) / 100.0 AS l_discount",
        s"floor(${u(22)} * 9) / 100.0 AS l_tax",
        s"${pick(23, Seq("A", "N", "R"))} AS l_returnflag",
        s"${pick(24, Seq("F", "O"))} AS l_linestatus",
        s"CAST(date_add(CAST(o_orderdate AS DATE), CAST(floor(${u(25)} * 121) AS INT) + 1) AS TIMESTAMP) AS l_shipdate")
    val nEvents = n("events")
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val events = range(nEvents).selectExpr("id AS event_id",
      s"timestamp_micros(1704067200000000 + id * $stepMicros + CAST(floor(${u(26)} * $stepMicros) AS BIGINT)) AS ts",
      s"CAST(floor(${u(27)} * ${math.max(10L, n("customer") / 10)}) AS BIGINT) AS user_id",
      s"${pick(28, Seq("view", "click", "purchase", "signup", "error"))} AS event_type",
      s"round(0.01 + pow(${u(29)}, 3) * 490, 2) AS value",
      s"concat('{\"k\": ', CAST(floor(${u(30)} * 100) AS INT), '}') AS props")
    // A quarter of the documents are near-copies of a recent earlier one:
    // the same base text with about one word in ten replaced, so the dedup
    // operators find real clusters.
    val vocabArr = s"array(${vocab.map(v => s"'$v'").mkString(",")})"
    val documents = range(n("documents"))
      .selectExpr("id", s"CASE WHEN id > 0 AND ${u(31)} < 0.25 " +
        s"THEN id - 1 - CAST(floor(${u(32)} * least(id, 50)) AS BIGINT) ELSE id END AS base")
      .selectExpr("id", "base",
        s"CAST(floor(${u(33, "base")} * 70) AS INT) + 8 AS nwords")
      .selectExpr("id AS doc_id",
        s"array_join(transform(sequence(1, nwords), i -> CASE " +
          s"WHEN id <> base AND pmod(xxhash64(id, i, ${dataSeed}L), 10) = 0 " +
          s"THEN element_at($vocabArr, CAST(pmod(xxhash64(id, i, 7), ${vocab.size}) AS INT) + 1) " +
          s"ELSE element_at($vocabArr, CAST(pmod(xxhash64(base, i, ${dataSeed}L), ${vocab.size}) AS INT) + 1) END), ' ') AS text",
        s"CASE WHEN ${u(34)} < 0.44 THEN 'en' ELSE ${pick(35, Seq("zh", "de", "fr", "es"))} END AS lang",
        "concat('src', id % 20) AS source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Ten label clusters in 64 dimensions, unit-normalized.
    val embeddings = range(n("embeddings"))
      .selectExpr("id", s"CAST(floor(${u(36)} * 10) AS INT) AS label")
      .selectExpr("id", "label",
        s"transform(sequence(0, 63), i -> " +
          s"(CAST(xxhash64(label, i, ${dataSeed}L) & 9223372036854775807 AS DOUBLE) / 9.223372036854775807E18 * 2 - 1) + " +
          s"0.6 * (CAST(xxhash64(id, i, 37) & 9223372036854775807 AS DOUBLE) / 9.223372036854775807E18 * 2 - 1)) AS raw")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT)) AS embedding",
        "label")
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write the tables under `dir` as `<name>.parquet` once; later calls
    * with the same `dir` reuse them. A marker file is written last, so a
    * run killed mid-write regenerates instead of reading a torn table. */
  def materialize(spark: SparkSession, dir: String, sf: Double): String = {
    val marker = java.nio.file.Paths.get(dir, "_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      val tmp = s"$dir.tmp-${ProcessHandle.current().pid()}"
      tables(spark, sf).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/$name.parquet")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "_COMPLETE"), s"sf=$sf\n")
      Util.deleteTree(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(dir))
    }
    dir
  }
}
