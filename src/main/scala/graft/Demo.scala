package graft

/** CLI demo of the flagship pipeline: synthesized NMEA → decode → filter →
  * enrich → dashboard join (SparkEntry.entry). `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[4]", 4)
    spark.sparkContext.setLogLevel("WARN")
    val details = SparkEntry.entry(spark)
    details.show(20, truncate = false)
    println(s"rows=${details.count()}")
    spark.stop()
  }
}
