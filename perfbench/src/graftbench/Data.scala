package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's input tables, generated in the shape of the sf0.1
  * testdata (TPC-H-ish `orders` plus the word-salad `documents`
  * corpus): same row counts, column names and value ranges. Every column is a pure function of the row id and
  * [[BaseSeed]], so the tables are identical on every run and host;
  * the workload seed only shapes what the workloads do with them.
  * Money columns hold whole cents (as doubles, like the testdata), so
  * integer-cent aggregates are exact under any evaluation order. */
object Data {
  val BaseSeed = 42L
  val Orders = 150000L
  val Customers = 15000L
  val Docs = 5000L
  /** Bump when the generator changes: the cache key of the tables. */
  val Version = "v2"

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order",
    "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch")

  /** Uniform draw in [0, n) from the row's id and a per-column salt. */
  def h(id: Column, salt: Int, n: Long): Column =
    pmod(xxhash64(lit(BaseSeed), id, lit(salt)), lit(n))

  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(id, salt, xs.size) + 1).cast("int"))

  private def dayTs(base: String, days: Column): Column =
    date_add(to_date(lit(base)), days.cast("int")).cast("timestamp")

  /** Word-salad text of 10..100 words, a pure function of `id`. */
  def text(id: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val n = h(id, 11, 91) + 10
    concat_ws(" ", transform(sequence(lit(0L), n - 1), i =>
      element_at(vocab, (pmod(xxhash64(lit(BaseSeed), id, i), lit(Vocab.size.toLong)) + 1)
        .cast("int"))))
  }

  def orders(spark: SparkSession): DataFrame = {
    val id = col("id")
    spark.range(Orders).select(
      id.as("o_orderkey"),
      h(id, 1, Customers).as("o_custkey"),
      pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      ((h(id, 3, 49899128L) + 100191L) / 100.0).as("o_totalprice"),
      dayTs("1995-01-01", h(id, 4, 2404)).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  /** The corpus: one doc in twenty is a near duplicate (an earlier
    * doc's text plus " dup"), one in five hundred an exact copy. */
  def documents(spark: SparkSession): DataFrame = {
    val id = col("id")
    val src = when(h(id, 51, 20) === 0 && id > 0, id - 1 - h(id, 52, 50) % id)
      .when(h(id, 53, 500) === 0 && id > 0, id - 1 - h(id, 54, 50) % id)
      .otherwise(id)
    val body = text(src)
    val txt = when(h(id, 51, 20) === 0 && id > 0, concat(body, lit(" dup")))
      .otherwise(body)
    spark.range(Docs).select(
      id.as("doc_id"), txt.as("text"),
      pick(id, 55, Seq("en", "en", "en", "es", "fr", "de", "zh")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Materialize the base tables under `dir` once; later runs reuse
    * them. */
  def ensureBase(spark: SparkSession, dir: String): String = {
    val base = s"$dir/base-$Version"
    Run.once(base) { tmp =>
      orders(spark).repartition(4).write.parquet(s"$tmp/orders.parquet")
      documents(spark).coalesce(1).write.parquet(s"$tmp/documents.parquet")
    }
    base
  }
}
