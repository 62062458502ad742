package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** One benchmark-side call into a layer. Times are epoch milliseconds. */
final case class Span(name: String, parent: String, start: Long, end: Long) {
  def s: Double = (end - start) / 1000.0
}

/** One timed operation: a load, a batch or a query. */
final case class Op(name: String, seconds: Double, ok: Boolean)

final case class Job(id: Int, start: Long, var end: Long, layer: String)

final class StageAgg {
  var tasks, cpuNs, shuffleWrite, spill, inBytes, outBytes, outRecords = 0L
  def add(a: StageAgg): Unit = {
    tasks += a.tasks; cpuNs += a.cpuNs; shuffleWrite += a.shuffleWrite; spill += a.spill
    inBytes += a.inBytes; outBytes += a.outBytes; outRecords += a.outRecords
  }
}

/** Always registered: the high-water mark of RDD blocks held in storage
  * memory (the cache footprint), from block-update events. */
final class StorageListener extends SparkListener {
  private val blocks = mutable.Map.empty[(String, String), Long]
  private var current = 0L
  private var high = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val k = (i.blockManagerId.executorId, i.blockId.name)
      current -= blocks.remove(k).getOrElse(0L)
      if (i.memSize > 0) blocks(k) = i.memSize
      current += i.memSize
      high = math.max(high, current)
    }
  }

  def resetPeak(): Unit = synchronized { high = current }
  def peakBytes: Long = synchronized(high)
}

/** Layer of a job, from the `graft.*` frames of its call site, innermost
  * first. Warehouse frames other than the staging truncate-insert are
  * skipped, so a dim or fact write is charged to its caller. */
object Layers {
  def ofCallSite(site: String): Option[String] =
    site.split('\n').iterator.map(_.trim).flatMap(frame).nextOption()

  private def frame(f: String): Option[String] =
    if (!f.startsWith("graft.")) None
    else if (f.startsWith("graft.star.Warehouse"))
      if (f.contains("truncateInsert")) Some("star.staging") else None
    else if (f.startsWith("graft.star.Dims") || f.startsWith("graft.star.StateSeed")) Some("star.dims")
    else if (f.startsWith("graft.star.Facts"))
      Some(if (f.contains("AuctionFact") || f.contains("resolveFact")) "star.fact" else "star.vehicle")
    else if (f.startsWith("graft.star.")) Some("star.other")
    else if (f.startsWith("graft.etl.MergeWrite")) Some("mergewrite")
    else if (f.startsWith("graft.etl.") || f.startsWith("graft.sources.") ||
      f.startsWith("graft.expr.")) Some("etl")
    else if (f.startsWith("graft.stream.")) Some("stream")
    else None

  /** Layer of a SQL execution from its physical plan. A streaming query
    * pins every job of its thread to the call site of `start()`, so inside
    * `Incremental.runAvailableNow` the plan is what shows a job is the
    * merge's: it reads or writes the processed layer. */
  def ofPlan(plan: String): Option[String] =
    if (plan.contains("/processed")) Some("mergewrite") else None
}

/** Span recorder. The untraced form only runs the body. */
sealed trait Trace {
  def on: Boolean
  def span[A](name: String, parent: String = "")(f: => A): A
}

object NoTrace extends Trace {
  def on = false
  def span[A](name: String, parent: String)(f: => A): A = f
}

/** The traced form: a SparkListener that records every job with its layer
  * and every completed stage's task metrics, plus the benchmark's spans.
  *
  * A span sets the job group to `L:<layer>` (or `q:<query>` for a query), so
  * jobs run directly under it are charged to it. Jobs started inside
  * `Incremental.runAvailableNow` run on the stream thread under the stream's
  * own group, and `StarLoad.run` fans out to pool threads; those jobs are
  * charged by their call-site frames ([[Layers.ofCallSite]]), or, where the
  * stream has pinned the call site, by the plan ([[Layers.ofPlan]]). Spark's
  * call sites are cut at `spark.callstack.depth` frames, which the traced
  * run raises so the `graft.*` frames below deep SQL stacks are kept. */
final class Tracer(sc: SparkContext, familyOf: String => String) extends SparkListener with Trace {
  def on = true
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private val execSite = mutable.Map.empty[Long, (String, Option[String])]

  def span[A](name: String, parent: String)(f: => A): A = {
    val keys = Seq("spark.jobGroup.id", "spark.job.description")
    val was = keys.map(sc.getLocalProperty)
    val group = if (parent == "queries") s"q:$name" else s"L:$name"
    keys.foreach(sc.setLocalProperty(_, group))
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val t1 = System.currentTimeMillis()
      synchronized(spans += Span(name, parent, t0, t1))
      keys.zip(was).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execSite(s.executionId) = (s.details, Layers.ofPlan(s.physicalPlanDescription)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    // the job's own call site first; a job on a broadcast or AQE thread has
    // no user frames there, so its SQL execution's call site follows
    val exec = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("") + "\n" +
      exec.map(_._1).getOrElse("")
    val layer =
      if (group.startsWith("q:")) "queries." + familyOf(group.drop(2))
      else Layers.ofCallSite(site) match {
        case Some(l) if l != "stream" => l
        case framed => exec.flatMap(_._2).orElse(framed)
          .getOrElse(if (group.startsWith("L:")) group.drop(2) else "other")
      }
    val j = Job(e.jobId, e.time, e.time, layer)
    jobs += j
    jobById(e.jobId) = j
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stageAgg.getOrElseUpdate(i.stageId, new StageAgg)
    a.tasks += i.numTasks
    Option(i.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Everything recorded in [t0, t1]: the jobs started in it, the task
    * metrics of each such job's stages (keyed by job id, with the stage
    * count), and the spans inside it. */
  def window(t0: Long, t1: Long): (Seq[Job], Map[Int, (Int, StageAgg)], Seq[Span]) = synchronized {
    val js = jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
    val ids = js.map(_.id).toSet
    val byJob = mutable.Map.empty[Int, (Int, StageAgg)]
    stageJob.foreach { case (s, j) =>
      if (ids(j)) stageAgg.get(s).foreach { a =>
        val (n, t) = byJob.getOrElse(j, (0, new StageAgg))
        t.add(a)
        byJob(j) = (n + 1, t)
      }
    }
    (js, byJob.toMap, spans.filter(s => s.start >= t0 && s.end <= t1).toSeq)
  }
}

object Intervals {
  /** Total length (ms) of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
