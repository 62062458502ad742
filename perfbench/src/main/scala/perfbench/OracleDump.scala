package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Input to `oracle_check.py`: runs the pipeline's batch load over a data
  * set's base files into `--work`, and writes the DuckDB transliteration of
  * that load (`SparkEntry.oracleSql("q198_auction_star")`) to `--sql`. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Pipeline.load(spark, s"${opts("data")}/base", opts("work"), NoTrace)
    Files.writeString(Paths.get(opts("sql")), graft.SparkEntry.oracleSql("q198_auction_star"))
    spark.stop()
  }
}
