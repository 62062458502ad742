package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory reproduces the conf `Bench` built by hand before
  * it existed. Checked on the list, not on a second session: `getOrCreate`
  * would hand back, and mutate, the shared [[TestSpark]] session. */
class SessionSpec extends AnyFunSuite {

  test("conf list equals the hand-built Bench conf, core count threaded through") {
    // Bench's builder entry for entry, less its explicit
    // coalescePartitions.minPartitionSize=1m (Spark's default; next test).
    // Verify's builder was the same less the codegen cache size.
    def bench(cpus: Int) = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "5000")
    for (cpus <- Seq(4, 8)) {
      val conf = Session.conf(cpus)
      assert(conf.map(_._1).distinct.size == conf.size, "a key is set twice")
      assert(conf.toMap == bench(cpus))
    }
  }

  test("effective AQE coalesce floor on a factory conf is 1 MiB") {
    val c = new SQLConf
    Session.conf(4).foreach { case (k, v) => c.setConfString(k, v) }
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) == 1024L * 1024L)
  }
}
