package graft
object Explain {
  def main(args: Array[String]): Unit = {
    SparkEntry.requireRegistered(args)
    val spark = GraftSession(4)
    val dir = "/root/testdata/sf0.001"
    for (n <- args) {
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
