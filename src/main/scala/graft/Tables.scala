package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed readers for the driver-generated parquet test tables
  * (TESTDATA.md). One parquet file per table under `<sfDir>/`.
  *
  * Stands in for the reference's sources: SQLite table scans
  * (Scraper.py:104,179; Project_Overview.ipynb cell 15) and the CSV /
  * JSON fixtures (Scraper.py:197-207, 394-401). At scale these are
  * columnar scans with pushdown.
  *
  * The nine fixed tables are read with a DECLARED schema (`schemas`),
  * never inferred: a parquet read without one starts a schema-merge
  * Spark job on every call, even for a single file. A declared schema
  * turns a renamed or missing column into silent nulls instead of an
  * error, so `TableSchemaSpec` pins every declaration to the schema
  * Spark infers from the files at each testdata scale. `events` alone
  * keeps inference: its fixtures come in two timestamp generations
  * (see `normalizeEventTs`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Declared schema of every fixed table (all but `events`), as DDL. */
  val schemas: Map[String, String] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Fixture generations have stored events.ts two ways: parquet
    * TIMESTAMP(NANOS) — which Spark 4 only reads via the legacy
    * nanos-as-long conf, so it arrives as a bigint to truncate — and
    * native TIMESTAMP(MICROS) isAdjustedToUTC=false, which arrives as
    * TIMESTAMP_NTZ. Normalize both to session-TZ microsecond
    * timestamps (the session TZ is pinned to UTC everywhere, so the
    * NTZ→LTZ cast is value-preserving and the output parquet type
    * stays the same across fixture generations; the nanos path floor-
    * divides exactly as DuckDB's nanos read does). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** The events table with its inferred schema; the nanos-as-long conf
    * lets either fixture generation read. `ts` is NOT normalized. */
  private def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** `<dir>/events.parquet` as a file stream with its inferred raw
    * schema (`ts` not normalized). The file-stream source needs a
    * directory, so it streams `dir` with a glob pinned to the file. */
  def eventsRawStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawEvents(spark, dir).schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    =
    normalizeEventTs(rawEvents(s, d))
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
