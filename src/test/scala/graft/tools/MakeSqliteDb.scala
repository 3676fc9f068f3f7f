package graft.tools

import graft.sources.sqlite.SqliteWriter
import graft.sources.sqlite.SqliteWriter.TableSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Emit a sample database with [[SqliteWriter]] for the
  * cross-implementation check: scripts/sqlite_crosscheck.py opens the
  * file with the real SQLite C library (CPython sqlite3) and runs
  * PRAGMA integrity_check + full scans.
  *
  * Usage: sbt "Test/runMain graft.tools.MakeSqliteDb /tmp/x.db [shardDir]"
  * With the optional second arg, also drives writeSharded over a
  * 120k-row frame into `shardDir` (16 `part-*.db` files) so the
  * cross-check can integrity_check every executor-written shard. */
object MakeSqliteDb {
  def main(args: Array[String]): Unit = {
    val path = args(0)
    val s1 = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("tag", StringType),
      StructField("blob", BinaryType)))
    val rows1 = Seq(
      Row(1L, "alpha", 1.5, null, Array[Byte](1, 2, 3)),
      Row(2L, "", -0.25, "t", Array.emptyByteArray),
      Row(-300L, "negative int", 1e300, null, null),
      Row(1L << 40, "wide int", 4.75, "x", null))
    val s2 = StructType(Seq(
      StructField("k", LongType), StructField("pad", StringType)))
    val rows2 = (1 to 2000).map(i => Row(i.toLong, "x" * 100))
    val s3 = StructType(Seq(
      StructField("key", LongType), StructField("v", StringType)))
    val rows3 = Seq(Row(42L, "a"), Row(7L, "b"), Row(1000000L, "c"))
    // hostile corners: unicode (CJK + emoji + combining marks), a text
    // payload just under the one-page limit, ±Infinity doubles, and a
    // negative rowid-alias key (9-byte varint form)
    val rows4 = Seq(
      Row(1L, "漢字 héllo 👾 é", 1.0, null, null),
      Row(2L, "x" * 4000, Double.PositiveInfinity, "big", null),
      Row(3L, "", Double.NegativeInfinity, null,
        Array.tabulate(256)(_.toByte)))
    val rows5 = Seq(Row(-5L, "neg key"), Row(0L, "zero"), Row(9L, "pos"))
    // huge positive rowid-alias keys: >= 2^56 needs the 9-byte varint
    // whose NINTH byte carries 8 raw bits — a snowflake-ID-shaped
    // column the 8x7-bit form silently mis-encodes (round-11 advice)
    val rows6 = Seq(
      Row((1L << 56) - 1, "below 9-byte edge"),
      Row(1L << 56, "exact 9-byte edge"),
      Row((1L << 57) + 123L, "above edge"),
      Row(Long.MaxValue, "max"))
    SqliteWriter.write(path, Seq(
      TableSpec("types_t", s1, rows1),
      TableSpec("big_t", s2, rows2),
      TableSpec("alias_t", s3, rows3, rowidAlias = Some(0)),
      TableSpec("empty_t", s3, Nil),
      TableSpec("hostile_t", s1, rows4),
      TableSpec("negalias_t", s3, rows5, rowidAlias = Some(0)),
      TableSpec("hugealias_t", s3, rows6, rowidAlias = Some(0))))
    println(s"wrote $path")
    if (args.length > 1) {
      val spark = graft.GraftSession(8)
      import org.apache.spark.sql.functions._
      val df = spark.range(1, 120001)
        .select(col("id"),
          concat(lit("name_"), col("id")).as("name"),
          (col("id") % 997).cast("double").as("score"))
        .repartition(16)
      SqliteWriter.writeSharded(df, args(1), "t", rowidAlias = Some(0))
      println(s"wrote shards under ${args(1)}")
      spark.stop()
    }
  }
}
