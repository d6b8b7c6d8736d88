package perfbench

import graft.engine.DocTable
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.File

/** Seeded inputs, written once per (workload, seed) under the data dir and
  * reused by later runs. The program only ever sees these tables. */
object Inputs {

  /** The seed shifts the doc_id range fed to `DocTable.fromBase`, which moves
    * every injected violation, duplicate and dangling ref. */
  def offset(seed: Long): Long = java.lang.Math.floorMod(seed, 100000L) * 1000003L

  /** (doc_id, text): the base that `DocTable.fromBase` and its DuckDB mirror
    * (`DocTable.sqlWith`) both start from. */
  def base(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(offset(seed), offset(seed) + n, 1, 8).select(
      id.as("doc_id"),
      sha2(concat(lit(s"$seed:"), id.cast(StringType)), 256).as("text"))
  }

  private def done(path: String) = new File(path, "_SUCCESS").exists()
  private def write(df: DataFrame, path: String): Unit =
    if (!done(path)) df.write.mode(SaveMode.Overwrite).parquet(path)

  /** A single plain parquet file, the layout of the tables `SparkEntry`
    * queries and tools/precheck.py read. */
  private def writeFile(df: DataFrame, path: String): Unit =
    if (!new File(path).exists()) {
      val tmp = s"$path.tmp"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new File(path).toPath)
      Option(new File(tmp).listFiles()).foreach(_.foreach(_.delete()))
      new File(tmp).delete()
    }

  def baseTable(spark: SparkSession, dir: String, seed: Long, n: Long): Unit =
    write(base(spark, seed, n).coalesce(4), s"$dir/base.parquet")

  /** Base table plus the typed `DocTable` shape, split into `files` files. */
  def docTables(spark: SparkSession, dir: String, seed: Long, n: Long, files: Int): Unit = {
    baseTable(spark, dir, seed, n)
    write(DocTable.fromBase(base(spark, seed, n)).repartition(files), s"$dir/docs.parquet")
  }

  /** Row-core inputs: the typed docs tagged with the registry schema each
    * row names, and the same docs serialized to JSON lines, with seeded
    * malformed (truncated) lines. */
  def rowcore(spark: SparkSession, dir: String, seed: Long, n: Long, files: Int): Unit = {
    write(DocTable.fromBase(base(spark, seed, n)).repartition(files).withColumn("schema",
        when(pmod(xxhash64(col("doc_num"), lit(seed + 1)), lit(3L)) === 0, lit("doc_rec"))
          .otherwise(lit("doc"))),
      s"$dir/tagged.parquet")
    val lines = spark.read.parquet(s"$dir/tagged.parquet")
      .select(col("doc_num"), to_json(struct(col("doc_id"), col("spans"))).as("j"))
    write(lines.select(col("doc_num"),
        when(malformed(seed), expr("substring(j, 1, length(j) - 1)")).otherwise(col("j")).as("line"),
        malformed(seed).as("malformed")),
      s"$dir/lines.parquet")
  }

  def malformed(seed: Long): Column = pmod(xxhash64(col("doc_num"), lit(seed)), lit(199L)) === 0

  private val vocab = Seq("spark", "column", "scan", "sort", "hash", "join", "query", "batch",
    "stream", "table", "value", "filter", "group", "agg", "window", "order", "line", "part",
    "vector", "merge", "data", "key", "row", "fast", "slow", "big", "small", "the", "a",
    "customer", "schema", "doc", "media", "text", "span", "check", "drift", "sketch",
    "bucket", "snapshot")

  /** The curation queries' `documents` and `lineitem` tables (the columns
    * they read), at a size that keeps one pass to a few seconds. */
  def curate(spark: SparkSession, dir: String, variant: Long, docs: Long, lines: Long): Unit = {
    val d = col("id")
    def h(salt: Int, x: Column*) = pmod(xxhash64((lit(variant) +: lit(salt) +: x): _*), lit(1L << 30))
    val nWords = (h(1, d) % 70 + 10).cast(IntegerType)
    val words = transform(sequence(lit(0), nWords - 1),
      i => element_at(typedLit(vocab), (pmod(xxhash64(lit(variant), d, i), lit(vocab.size.toLong)) + 1).cast(IntegerType)))
    val text = array_join(words, " ")
    writeFile(spark.range(0, docs, 1, 4).select(
      d.as("doc_id"), text.as("text"),
      element_at(typedLit(Seq("en", "fr", "de", "zh", "es")), (h(2, d) % 5 + 1).cast(IntegerType)).as("lang"),
      concat(lit("src"), (d % 20).cast(StringType)).as("source"),
      length(text).cast(LongType).as("n_chars")), s"$dir/documents.parquet")
    val i = col("id")
    val qty = (h(3, i) % 50 + 1).cast(DoubleType)
    writeFile(spark.range(0, lines, 1, 4).select(
      (i / 4).cast(LongType).as("l_orderkey"),
      (h(4, i) % 20000).as("l_partkey"),
      (h(5, i) % 1000).as("l_suppkey"),
      (i % 4 + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * ((h(6, i) % 100000) / 100.0 + 900.0), 2).as("l_extendedprice"),
      ((h(7, i) % 11) / 100.0).as("l_discount"),
      ((h(8, i) % 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")), (h(9, i) % 3 + 1).cast(IntegerType)).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")), (h(10, i) % 2 + 1).cast(IntegerType)).as("l_linestatus"),
      (lit(694224000L) + (h(11, i) % 2500) * 86400L).cast(TimestampType).as("l_shipdate")
    ), s"$dir/lineitem.parquet")
  }
}
