package graft

import org.apache.spark.sql.types.StructType

/** Pins every declared table schema (`Tables.schemas`) to the schema
  * Spark infers from the parquet files at each testdata scale. A
  * declared schema reads a renamed or missing column as silent nulls,
  * so drift must fail here instead. */
class TableSchemaSpec extends SparkSpec {
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
  private val testdata = new java.io.File(sf).getParent

  test("declared table schemas equal the inferred parquet schemas at every scale") {
    assert(Tables.schemas.keySet == Tables.names.toSet - "events")
    val drift = for {
      scale <- scales
      (name, ddl) <- Tables.schemas.toSeq.sortBy(_._1)
      declared = StructType.fromDDL(ddl)
      inferred = spark.read.parquet(s"$testdata/$scale/$name.parquet").schema
      if declared != inferred
    } yield {
      val d = declared.fields.toSet
      val i = inferred.fields.toSet
      s"$scale/$name: declared-only ${(d -- i).mkString(", ")}; " +
        s"inferred-only ${(i -- d).mkString(", ")}" +
        (if (d == i) "; same fields, different order" else "")
    }
    assert(drift.isEmpty, drift.mkString("\n", "\n", ""))
  }

  test("reads through Tables carry the declared schema") {
    Tables.schemas.foreach { case (name, ddl) =>
      assert(Tables.read(spark, sf, name).schema == StructType.fromDDL(ddl), name)
    }
  }
}
