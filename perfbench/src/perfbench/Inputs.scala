package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.sources.Pages

/** Seeded benchmark inputs, cached on disk under a key of seed, size and a
  * fingerprint of the generator's output.
  *
  * The fingerprint is an order-insensitive hash of every row the generator
  * yields for (seed, size), computed on each run before the cache is
  * consulted, so a change to `Pages.synthesize` or to the table generator
  * below gets a new key instead of reusing stale files. A cached copy is
  * used only after its own hashes are recomputed and match the fingerprints.
  */
object Inputs {

  /** Order-insensitive content hash: row count, xor and sum of row hashes. */
  def fingerprint(df: DataFrame): String = fingerprints(Seq("" -> df))("")

  /** [[fingerprint]] of several frames in one job. */
  def fingerprints(frames: Seq[(String, DataFrame)]): Map[String, String] = {
    val got = frames.map { case (n, df) => df.select(lit(n).as("n"), xxhash64(df.columns.map(col): _*).as("h")) }
      .reduce(_ union _)
      .groupBy("n").agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").bitwiseAND(lit(0xffffffffL))))
      .collect().map(r => r.getString(0) -> f"${r.getLong(1)}%d-${r.getLong(2)}%016x-${r.getLong(3)}%x").toMap
    frames.map { case (n, _) => n -> got.getOrElse(n, "0-0-0") }.toMap
  }

  /** Writes `frames` under `root/<name>.parquet` unless a copy with the same
    * fingerprints is already there. Returns the directory used.
    */
  def cached(spark: SparkSession, root: Path, key: String,
             frames: Seq[(String, DataFrame)]): Path = {
    val prints = fingerprints(frames)
    val digest = Integer.toHexString(frames.map(f => prints(f._1)).mkString(",").hashCode)
    val dir = root.resolve(s"$key-$digest")
    def path(n: String) = dir.resolve(s"$n.parquet").toString
    def stored = fingerprints(frames.map { case (n, _) => n -> spark.read.parquet(path(n)) })
    if (!Files.exists(dir.resolve("_COMPLETE")) || stored != prints) {
      Main.rmrf(dir)
      frames.foreach { case (n, df) => df.write.parquet(path(n)) }
      Files.writeString(dir.resolve("_COMPLETE"), frames.map(f => s"${f._1} ${prints(f._1)}").mkString("\n"))
    }
    dir
  }

  /** A multi-day page corpus with hierarchy columns, split into the pages
    * that arrive on time (`main`) and a late slice (`late`): one page in ten
    * of the second day, which lands after that day's partitions are built.
    */
  final case class Corpus(main: String, late: String, nMain: Long, nLate: Long, days: Int)

  def corpus(spark: SparkSession, root: Path, seed: Long, nPages: Long, days: Int): Corpus = {
    val all = Hier.withHierarchy(
      Pages.synthesize(spark, nPages, seed, minutes = days * 1440, partitions = 4))
    val isLate = to_date(col("warc_ts")) === date_add(
      to_date(timestamp_seconds(lit(Pages.Epoch))), 1) && pmod(xxhash64(col("url")), lit(10L)) === 0
    val dir = cached(spark, root, s"pages-s$seed-n$nPages-d$days",
      Seq("main" -> all.filter(!isLate), "late" -> all.filter(isLate)))
    val main = dir.resolve("main.parquet").toString
    val late = dir.resolve("late.parquet").toString
    Corpus(main, late, spark.read.parquet(main).count(), spark.read.parquet(late).count(), days)
  }

  // ---- the query library's tables, generated with the testdata schemas ----

  private def h(seed: Long, salt: Int, more: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: col("id") +: more): _*)
  private def pick(seed: Long, salt: Int, n: Long): Column = pmod(h(seed, salt), lit(n))
  private def unit(seed: Long, salt: Int): Column =
    pmod(h(seed, salt), lit(1000000L)).cast("double") / lit(1000000.0)
  private def oneOf(seed: Long, salt: Int, xs: Seq[String]): Column =
    element_at(typedLit(xs), (pick(seed, salt, xs.size.toLong) + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)
  private def day(base: String, seed: Long, salt: Int, span: Long): Column =
    date_add(lit(base).cast("date"), pick(seed, salt, span).cast("int")).cast("timestamp_ntz")

  val Words: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** The nine tables the query library reads (`region` … `embeddings`),
    * with the column names and types of the testdata tables (TESTDATA.md) and similar
    * value distributions, sized by `sf` (1.0 ≈ 6M lineitem rows).
    */
  def tables(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double, min: Long) = math.max(min, math.round(base * sf))
    val nCust = n(150000, 50); val nPart = n(200000, 50); val nSupp = n(10000, 10)
    val nOrders = n(1500000, 100); val nLine = n(6000000, 400)
    val nEvents = n(1000000, 1000); val nUsers = n(15000, 20)
    val nDocs = n(50000, 100); val nVecs = math.max(500L, n(20000, 100))
    def rng(k: Long) = spark.range(0L, k, 1L, 4)
    val region = rng(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        (col("id") + 1).cast("int")).as("r_name"))
    val nation = rng(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
    val supplier = rng(nSupp).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pick(seed, 1, 25).cast("int").as("s_nationkey"),
      money(unit(seed, 2) * 10999.99 - 999.99).as("s_acctbal"))
    val customer = rng(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pick(seed, 3, 25).cast("int").as("c_nationkey"),
      money(unit(seed, 4) * 10999.99 - 999.99).as("c_acctbal"),
      oneOf(seed, 5, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val part = rng(nPart).select(col("id").as("p_partkey"),
      concat(oneOf(seed, 6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")), lit(" "),
        oneOf(seed, 7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), pick(seed, 8, 25) + 1).as("p_brand"),
      oneOf(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick(seed, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice"))
    val orders = rng(nOrders).select(col("id").as("o_orderkey"),
      pick(seed, 11, nCust).as("o_custkey"),
      oneOf(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(unit(seed, 13) * 499000 + 1000).as("o_totalprice"),
      day("1995-01-01", seed, 14, 2400).as("o_orderdate"),
      oneOf(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val qty = (pick(seed, 19, 50) + 1).cast("double")
    val lineitem = rng(nLine).select(pick(seed, 16, nOrders).as("l_orderkey"),
      pick(seed, 17, nPart).as("l_partkey"), pick(seed, 18, nSupp).as("l_suppkey"),
      (pick(seed, 20, 7) + 1).cast("int").as("l_linenumber"), qty.as("l_quantity"),
      money(qty * (unit(seed, 21) * 1200 + 900)).as("l_extendedprice"),
      (pick(seed, 22, 11) / 100.0).as("l_discount"), (pick(seed, 23, 9) / 100.0).as("l_tax"),
      oneOf(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(seed, 25, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", seed, 26, 2500).as("l_shipdate"))
    val events = rng(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(Pages.Epoch * 1000000L) + pmod(h(seed, 27), lit(30L * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      pick(seed, 28, nUsers).as("user_id"),
      oneOf(seed, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      money(-log(lit(1.0) - unit(seed, 30)) * 50.0).as("value"),
      concat(lit("{\"k\": "), pick(seed, 31, 100), lit("}")).as("props"))
    // 10-100 words from a 30-word vocabulary; one document in twenty is a
    // near-duplicate: another document's words plus a trailing "dup"
    val isDup = pick(seed, 32, 20) === 0
    val src = when(isDup, pmod(col("id") * 7919L + 1, lit(nDocs))).otherwise(col("id"))
    val words = transform(sequence(lit(1), (pmod(xxhash64(lit(seed), lit(33), src), lit(91L)) + 10).cast("int")),
      i => element_at(typedLit(Words), (pmod(xxhash64(lit(seed), lit(34), src, i), lit(30L)) + 1).cast("int")))
    val text = concat(array_join(words, " "), when(isDup, lit(" dup")).otherwise(lit("")))
    val documents = rng(nDocs).select(col("id").as("doc_id"), text.as("text"),
      oneOf(seed, 35, Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pick(seed, 36, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val raw = transform(sequence(lit(0), lit(63)),
      i => pmod(xxhash64(lit(seed), lit(37), col("id"), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0)
    val embeddings = rng(nVecs).select(col("id").as("vec_id"), raw.as("raw"),
      pick(seed, 38, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "supplier" -> supplier, "customer" -> customer,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
