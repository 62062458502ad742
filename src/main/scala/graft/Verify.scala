package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and failures.txt:
  * the names of the queries that threw, one a line. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter for local iteration (same
    // convention as Bench); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // overlap independent dumps (guide §2.6): queries write disjoint
    // directories and share nothing, so a small pool lets the next
    // query's plan/build fill the tail of the previous one's write —
    // results are byte-identical (each query is its own deterministic
    // sorted dump), only the gate's wall drops. Pool stays small: enough
    // to back-fill stragglers, not enough to thrash executor memory.
    val nThreads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def dump(name: String, df: => DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed.add(name)
      }
    // the queries that reach StarLoad.run run alone, after the pool drains:
    // its dim phase toggles session-global AQE and shuffle.partitions, which
    // a query planning concurrently on the pool would silently pick up
    val starLoads = Set("q44_star_load", "q49_incremental_load", "q198_auction_star")
    val (serial, pooled) = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .partition { case (n, _) => starLoads(n) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = pooled.map { case (name, fn) =>
      scala.concurrent.Future(dump(name, fn(spark, sfDir))) }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    serial.foreach { case (name, fn) => dump(name, fn(spark, sfDir)) }
    import scala.jdk.CollectionConverters._
    val failures = failed.asScala.toSeq.sorted
    println(s"[verify] ${failures.size} failed: ${failures.mkString(", ")}")
    Files.write(Paths.get(s"$outDir/failures.txt"), failures.asJava)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
