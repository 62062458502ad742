package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Profile of one query, planned and written exactly as `Bench` times it.
  * Each iteration is one noop write tagged `name#i`; it prints the wall, the
  * HotSpot JIT millis and the Janino compiles it cost. A nonzero Janino
  * count on a repeat iteration means the generated source changed (the
  * class cache is keyed on source text). Then one untimed row count, and
  * the last iteration's jobs (wall, tasks, innermost `graft.*` call-site
  * frame and its caller) and stages (tasks, run, cpu, shuffle read/write, spill).
  *
  * Usage: runMain graft.Profile <query> [sfDir] [iters]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = Session.local("graft-profile")
    // Spark cuts call sites at this many frames, and the graft.* frames sit
    // below deep SQL stacks. Read per call site; set after the session is
    // built so it stays out of the session conf.
    System.setProperty("spark.callstack.depth", "400")
    val sc = spark.sparkContext
    val jobs = new JobLog(s"$name#$iters", s"$name#rows")
    sc.addSparkListener(jobs)
    val query = SparkEntry.queries(name)
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def janino = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (i <- 1 to iters) {
      sc.setJobDescription(s"$name#$i")
      val (j0, c0, t0) = (jitMs, janino, System.nanoTime())
      query(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[iter] $name#$i wall=${(System.nanoTime() - t0) / 1e9}%.2fs " +
        f"jit=${jitMs - j0}ms janino=${janino - c0}")
    }
    sc.setJobDescription(s"$name#rows")
    println(s"[rows] $name rows=${query(spark, sfDir).count()}")
    jobs.report()
    spark.stop()
  }

  /** The jobs and stages whose job description is `tag`. [[report]] prints
    * them once a job tagged `after` has ended: the listener bus delivers in
    * order, so every event of the tagged jobs has arrived by then. */
  private final class JobLog(tag: String, after: String) extends SparkListener {
    private final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
        val frame: String) {
      var end = start
    }
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val stages = mutable.Map.empty[Int, StageInfo]
    private val execSites = mutable.Map.empty[Long, String]
    private val afterIds = mutable.Set.empty[Int]
    private val drained = new CountDownLatch(1)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(execSites(s.executionId) = s.details)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description")
      if (desc.contains(after)) afterIds += e.jobId
      if (desc.contains(tag)) {
        // the job's own call site first; a job started on a broadcast or AQE
        // thread has no user frames there, so its SQL execution's follows
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details) ++
          prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
        val frames = site.flatMap(_.split('\n')).map(_.trim).filter(_.startsWith("graft."))
        // the innermost graft.* frame, then its first caller in another
        // class: a Warehouse read or append shows which load step it served
        def cls(f: String) = f.takeWhile(_ != '(').split('.').init.mkString(".").stripSuffix("$")
        val frame = frames.headOption
          .map(f => (f +: frames.find(cls(_) != cls(f)).toSeq).mkString(" < ")).getOrElse("-")
        jobs += new Job(e.jobId, e.time, e.stageIds, frame)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      if (afterIds(e.jobId)) drained.countDown()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      if (jobs.exists(_.stageIds.contains(i.stageId))) stages(i.stageId) = i
    }

    def report(): Unit = {
      if (!drained.await(5, TimeUnit.MINUTES))
        println("[profile] listener bus still busy; the lines below may be incomplete")
      synchronized {
        jobs.foreach { j =>
          val tasks = j.stageIds.flatMap(stages.get).map(_.numTasks).sum
          println(f"[job] ${j.id}%4d ${(j.end - j.start) / 1e3}%7.2fs tasks=$tasks%4d  ${j.frame}")
        }
        stages.toSeq.sortBy(_._1).foreach { case (id, i) =>
          val m = i.taskMetrics
          println(f"[stage] $id%4d tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
            f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB " +
            f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%8.2fMB  " +
            i.name.takeWhile(_ != '\n').take(80))
        }
      }
    }
  }
}
