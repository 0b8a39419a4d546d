package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the fixture tables the registry queries read
  * (region, nation, customer, supplier, part, orders, lineitem,
  * documents, embeddings, events), with the schemas, row counts and
  * value domains of the project's sf fixtures (FIXTURES.md).
  *
  * Every value is a pure function of (seed, table, row id, column): a
  * 64-bit xxhash of those, so the same seed gives byte-identical
  * tables at any parallelism.  Each table is written as ONE parquet
  * file `<dir>/<table>.parquet`, the layout the fixtures have, so the
  * engine (`graft.Tables`) and DuckDB read the same files. */
object Fixtures {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  private val Vocab = Seq("a", "the", "data", "spark", "table", "column",
    "row", "key", "value", "join", "group", "agg", "sort", "order",
    "filter", "scan", "hash", "merge", "window", "stream", "batch",
    "query", "vector", "line", "part", "customer", "fast", "slow",
    "big", "small")
  private val Adjectives = Seq("large", "hot", "blue", "old", "cold",
    "small", "red", "green", "new", "dark", "light", "heavy", "round")
  private val Nouns = Seq("ring", "bolt", "plate", "gear", "anvil")

  /** Row counts at scale factor `sf`, as in the fixtures: the TPC-H
    * tables scale linearly, documents and embeddings have a 500-row
    * floor. */
  def rows(sf: Double): Map[String, Long] = {
    def lin(n: Double) = math.max(1L, math.round(n * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> lin(150000),
      "supplier" -> lin(10000), "part" -> lin(200000),
      "orders" -> lin(1500000), "lineitem" -> lin(6000000),
      "documents" -> math.max(500L, lin(50000)),
      "embeddings" -> math.max(500L, lin(20000)),
      "events" -> lin(1000000))
  }

  private final class Rng(seed: Long, table: Int) {
    private def h(salt: Int, cs: Column*): Column =
      xxhash64((Seq(lit(seed), lit(table), lit(salt)) ++ cs): _*)
    /** Integer in [0, n). */
    def int(salt: Int, n: Long, cs: Column*): Column =
      pmod(h(salt, cs: _*), lit(n))
    /** Double in [0, 1). */
    def unit(salt: Int, cs: Column*): Column =
      pmod(h(salt, cs: _*), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)
    /** Approximately standard normal (Irwin-Hall of four uniforms). */
    def normal(salt: Int, cs: Column*): Column =
      ((0 until 4).map(k => unit(salt * 8 + k, cs: _*)).reduce(_ + _) -
        lit(2.0)) * lit(math.sqrt(3.0))
    def choice(salt: Int, values: Seq[String], cs: Column*): Column =
      element_at(array(values.map(lit): _*),
        (int(salt, values.size.toLong, cs: _*) + 1).cast("int"))
  }

  private def day(base: String, rng: Rng, salt: Int, days: Long, id: Column) =
    date_add(lit(base).cast("date"), rng.int(salt, days, id).cast("int"))
      .cast("timestamp_ntz")

  /** Build one table's DataFrame over row ids [0, n). */
  def table(spark: SparkSession, seed: Long, sf: Double, name: String): DataFrame = {
    val n = rows(sf)
    val id = col("id")
    val rng = new Rng(seed, tables.indexOf(name))
    val ids = spark.range(n(name)).toDF("id")
    def money(salt: Int, lo: Double, hi: Double) =
      round(lit(lo) + rng.unit(salt, id) * lit(hi - lo), 2)
    name match {
      case "region" =>
        spark.createDataFrame(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
          (3, "EUROPE"), (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name")
      case "nation" =>
        ids.select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id).as("n_name"),
          pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        ids.select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          rng.int(1, 25, id).cast("int").as("c_nationkey"),
          money(2, -999.99, 9999.99).as("c_acctbal"),
          rng.choice(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment"))
      case "supplier" =>
        ids.select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          rng.int(1, 25, id).cast("int").as("s_nationkey"),
          money(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" =>
        ids.select(id.as("p_partkey"),
          concat_ws(" ", rng.choice(1, Adjectives, id),
            rng.choice(2, Nouns, id)).as("p_name"),
          concat(lit("Brand#"), rng.int(3, 25, id) + 1).as("p_brand"),
          rng.choice(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD"), id).as("p_type"),
          (rng.int(5, 50, id) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(id, lit(1000L)) * lit(0.1), 2)
            .as("p_retailprice"))
      case "orders" =>
        ids.select(id.as("o_orderkey"),
          rng.int(1, n("customer"), id).as("o_custkey"),
          rng.choice(2, Seq("F", "O", "P"), id).as("o_orderstatus"),
          money(3, 1000.0, 500000.0).as("o_totalprice"),
          day("1995-01-01", rng, 4, 2404, id).as("o_orderdate"),
          rng.choice(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority"))
      case "lineitem" =>
        ids.select(
          rng.int(1, n("orders"), id).as("l_orderkey"),
          rng.int(2, n("part"), id).as("l_partkey"),
          rng.int(3, n("supplier"), id).as("l_suppkey"),
          (rng.int(4, 7, id) + 1).cast("int").as("l_linenumber"),
          (rng.int(5, 50, id) + 1).cast("double").as("l_quantity"),
          money(6, 900.0, 105000.0).as("l_extendedprice"),
          (rng.int(7, 11, id).cast("double") / 100).as("l_discount"),
          (rng.int(8, 9, id).cast("double") / 100).as("l_tax"),
          rng.choice(9, Seq("A", "N", "R"), id).as("l_returnflag"),
          rng.choice(10, Seq("F", "O"), id).as("l_linestatus"),
          day("1995-01-02", rng, 11, 2499, id).as("l_shipdate"))
      case "documents" =>
        // one doc in 20 re-crawls an earlier doc: its text plus " dup"
        def text(doc: Column): Column = {
          val len = rng.int(1, 91, doc) + 10
          concat_ws(" ", transform(sequence(lit(1L), len.cast("long")),
            i => element_at(array(Vocab.map(lit): _*),
              (rng.int(2, Vocab.size.toLong, doc, i) + 1).cast("int"))))
        }
        val dup = id > 0 && rng.int(3, 20, id) === 0
        val src = rng.int(4, Long.MaxValue, id) % greatest(id, lit(1L))
        val lang = rng.int(5, 100, id)
        ids.select(id.as("doc_id"),
          when(dup, concat(text(src), lit(" dup"))).otherwise(text(id))
            .as("text"),
          when(lang < 41, "en").when(lang < 56, "de").when(lang < 71, "es")
            .when(lang < 86, "fr").otherwise("zh").as("lang"),
          concat(lit("src"), pmod(id, lit(20L))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // a weak per-label direction under unit-normalised noise
        val label = rng.int(1, 10, id)
        val raw = transform(sequence(lit(0L), lit(63L)), j =>
          lit(0.1) * rng.normal(2, label, j) + rng.normal(3, id, j))
        ids.select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
          .select(col("vec_id"),
            transform(col("raw"), x => (x / sqrt(aggregate(col("raw"),
              lit(0.0), (acc, y) => acc + y * y))).cast("float")).as("embedding"),
            col("label"))
      case "events" =>
        val spanUs = 30L * 24 * 3600 * 1000000L
        val start = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
        ids.select(id.as("event_id"),
          timestamp_micros(lit(start) + floor((id.cast("double") +
            rng.unit(1, id)) * lit(spanUs.toDouble / n("events"))).cast("long"))
            .cast("timestamp_ntz").as("ts"),
          rng.int(2, math.max(1L, math.round(15000 * sf)), id).as("user_id"),
          rng.choice(3, Seq("click", "view", "purchase", "signup", "error"), id)
            .as("event_type"),
          round(lit(-50.0) * log(lit(1.0) - rng.unit(4, id)), 2).as("value"),
          concat(lit("{\"k\": "), rng.int(5, 100, id), lit("}")).as("props"))
    }
  }

  /** Write `df` as the single parquet file `<dir>/<name>.parquet`. */
  def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet").toPath)
    Fs.rm(tmp)
  }

  /** Generate every table at scale `sf` under `dir`, the tables' jobs
    * submitted concurrently. */
  def generate(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    new File(dir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      tables.map(t => pool.submit(new Runnable {
        def run(): Unit = writeSingle(table(spark, seed, sf, t), dir, t)
      })).foreach(_.get())
    } finally pool.shutdown()
  }
}
