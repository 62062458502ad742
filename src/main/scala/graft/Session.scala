package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every entry point runs under, so a query
  * profiled, demoed or verified is planned exactly as `Bench` times it.
  * One-off A/B overrides go through Spark's own `-Dspark.*` system
  * properties (the way build.sbt sets UI and timezone), not through code. */
object Session {

  /** The conf list, master included. Measured and left out (r19): a 16k
    * AQE coalesce floor in place of Spark's 1 MB default sped up the demux
    * stages but slowed the action-latency-bound composed loads more (q44
    * 5.9 -> 7.9 s, q198 4.6 -> 6.0 s), so demux parallelism comes from
    * explicit repartitions (WebQueries.groupedBlobs) instead; and Kryo was
    * inside noise on the RDD loop tier. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // static: the default 100-entry generated-class cache thrashes on a
    // 100+-query run (a single composed load emits >100 codegen units, so
    // even its own second attempt recompiled everything)
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** A local session over [[conf]] at `SPARK_GRAFT_CPUS` cores (default 4),
    * logging at WARN. */
  def local(appName: String): SparkSession =
    build(appName, conf(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt))

  private[graft] def build(appName: String, conf: Seq[(String, String)]): SparkSession = {
    val spark = conf
      .foldLeft(SparkSession.builder().appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
