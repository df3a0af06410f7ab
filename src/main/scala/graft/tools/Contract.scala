package graft
import org.apache.spark.sql.SparkSession
object Contract {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    println(s"queries=${q.size} oracles=${o.size} missingOracle=${q.keySet -- o.keySet} strayOracle=${o.keySet -- q.keySet}")
    println(s"entry rows=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
