package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (forked by sbt): the entry
  * points' conf, pinned at 4 cores, with a temporary warehouse. */
object TestSpark {
  lazy val spark: SparkSession = Session.build("graft-tests", Session.conf(4) :+
    ("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_tests").toString))
}
