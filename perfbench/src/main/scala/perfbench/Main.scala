package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Flatten, MergeWrite, Silver, Validate}
import graft.sources.TextSources
import graft.star.{StarLoad, Warehouse}
import graft.stream.Incremental

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. One process runs one workload: it builds the
  * session, runs its untimed warm-up rounds, runs timed rounds closed-loop
  * (one client: each op waits for the previous one) until `--seconds` have
  * passed, checks the last round's outputs and writes everything measured
  * to `--out` as JSON. `run.py` turns that file into the metrics.
  *
  * A round is a fixed amount of work, so rounds are comparable: the pipeline
  * round is one batch load plus the stream files landed one by one on its
  * result; the query_mix round is one pass over the query list.
  *
  * With `--trace 1` the first half of the timed window runs untraced, the
  * second half traced, and one more untraced round follows, so the traced
  * round wall minus the mean of the untraced ones around it is the tracing
  * overhead within one process. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")
    if (traced) System.setProperty("spark.callstack.depth", "400")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the session graft.Bench times the query surface with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)

    val w: Workload = workload match {
      case "pipeline" => new PipelineRounds(spark, opts("data"), work)
      case "query_mix" => new QueryMix(spark, opts("sf"), opts("queries"))
      case other => sys.error(s"unknown workload $other")
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def runRound(i: Int, t: Trace): Unit = {
      val r0 = System.currentTimeMillis()
      val ops = w.round(i, t)
      val r1 = System.currentTimeMillis()
      ops.filterNot(_.ok).foreach(o => failures += s"round $i: op ${o.name} threw")
      rounds += Map("round" -> i, "warmup" -> (i < w.warmupRounds), "traced" -> t.on,
        "wall_s" -> ops.map(_.seconds).sum,
        "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
        "window" -> Seq(r0, r1))
      w.endRound()
      // release what the round left behind before the next one starts, so
      // rounds do not inherit each other's garbage or cached blocks
      System.gc()
      Thread.sleep(300)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    }

    (0 until w.warmupRounds).foreach(runRound(_, NoTrace))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    storage.resetPeak()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = w.warmupRounds
    val untracedFor = if (traced) seconds / 2 else seconds
    while (i == w.warmupRounds || elapsed < untracedFor) { runRound(i, NoTrace); i += 1 }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val peak = storage.peakBytes

    var layers: Seq[Map[String, Double]] = Nil
    var jvm = Map.empty[String, Double]
    var spans: Seq[Map[String, Any]] = Nil
    var jobs: Seq[Map[String, Any]] = Nil
    if (traced) {
      val tr = new Tracer(spark.sparkContext, QueryMix.familyOf)
      spark.sparkContext.addSparkListener(tr)
      val from = elapsed
      val (jit0, gc0, first) = (jitSeconds, gcSeconds, i)
      while (i == first || elapsed - from < seconds - untracedFor) { runRound(i, tr); i += 1 }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val tracedRounds = rounds.filter(_("traced") == true)
      layers = tracedRounds.map { r =>
        val Seq(a, b) = r("window").asInstanceOf[Seq[Long]]
        Layering.metrics(tr, a, b, r("wall_s").asInstanceOf[Double], cores, w)
      }.toSeq
      jvm = Map("gc_s" -> (gcSeconds - gc0) / tracedRounds.size,
        "jit_s" -> (jitSeconds - jit0) / tracedRounds.size)
      spans = tr.spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
        "start" -> s.start, "end" -> s.end)).toSeq
      jobs = tr.jobs.map(j => Map("id" -> j.id, "layer" -> j.layer,
        "start" -> j.start, "end" -> j.end)).toSeq
      // the JVM is still compiling, so a later round is faster: one more
      // untraced round puts untraced rounds on both sides of the traced ones
      spark.sparkContext.removeSparkListener(tr)
      runRound(i, NoTrace)
    }

    w.lastRoundChecks(failures)
    Files.writeString(Paths.get(opts("out")), Json(Map(
      "workload" -> workload, "setup_s" -> setupS, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_storage_mb" -> peak / 1048576.0, "failures" -> failures.toSeq,
      "digests" -> w.digests.toMap, "rounds" -> rounds.toSeq, "layers" -> layers,
      "jvm" -> jvm, "spans" -> spans, "jobs" -> jobs)))
    spark.stop()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Time one op; a throw is recorded as a failed op, never rethrown. */
  def timeOp(name: String)(f: => Unit): Op = {
    val n0 = System.nanoTime()
    val ok = try { f; true } catch {
      case e: Throwable =>
        System.err.println(s"op $name failed: $e")
        false
    }
    Op(name, (System.nanoTime() - n0) / 1e9, ok)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** One workload: fixed-size rounds and their output checks. */
trait Workload {
  /** Untimed rounds before the first timed one. */
  def warmupRounds: Int = 1
  def round(i: Int, t: Trace): Seq[Op]
  def endRound(): Unit = ()
  /** Checks on the last round's outputs, outside the timed window. */
  def lastRoundChecks(failures: scala.collection.mutable.Buffer[String]): Unit = ()
  /** Order-insensitive output digests, compared by run.py. */
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** Raw records landed per round, the base of mergewrite.write_amp. */
  def recordsPerRound: Long = 0L
  /** The (processed, warehouse) directories of the last round. */
  def outputDirs: Option[(String, String)] = None
}

object Files2 {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }
  /** Modification time (epoch ms) of the newest data file under p. */
  def newest(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(Files.getLastModifiedTime(_).toMillis).maxOption.getOrElse(0L)
  /** (bytes, files) of the data files under p, and the files modified at
    * or after `since` (epoch ms). */
  def stats(p: Path, since: Long = Long.MaxValue): (Long, Long, Long) =
    if (!Files.exists(p)) (0L, 0L, 0L) else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
        .toSeq
      (fs.map(Files.size).sum, fs.size.toLong,
        fs.count(f => Files.getLastModifiedTime(f).toMillis >= since).toLong)
    }
}

/** The batch job: raw files -> bronze -> rescrape list + silver -> merge into
  * an empty processed layer -> star load into an empty warehouse. A traced
  * run times the same calls on the same uncached frames, and adds one
  * boundary write per lazy etl step (see [[Boundary]]). */
object Pipeline {
  def load(spark: SparkSession, raw: String, dir: String, t: Trace): Unit = {
    if (t.on) Boundary.measure(spark, raw, t)
    val bronze = Flatten.bronze(spark, raw)
    t.span("etl.rescrape", "etl") {
      TextSources.writeUrlList(Validate.rescrapeUrls(bronze), s"$dir/rescrape")
    }
    t.span("mergewrite", "")(MergeWrite.mergeWrite(spark, s"$dir/processed", Silver.run(bronze)))
    t.span("star", "")(StarLoad.run(new Warehouse(spark, s"$dir/warehouse"),
      MergeWrite.readProcessed(spark, s"$dir/processed").drop(MergeWrite.PartitionCol)))
  }
}

/** The etl layer is lazy: its parse and clean run inside the jobs of the
  * writers that consume it. A traced load therefore first writes
  * `Flatten.bronze` and then `Silver.run` over the cached bronze to a `noop`
  * sink, so parse and clean are timed apart; the frames are dropped again
  * before the timed program runs. The row counts at the boundaries are
  * benchmark jobs, charged to no layer. */
object Boundary {
  @volatile var counts: (Long, Long, Long) = (0L, 0L, 0L)

  def measure(spark: SparkSession, raw: String, t: Trace): Unit = {
    val bronze = t.span("etl.parse", "etl") {
      val b = Flatten.bronze(spark, raw).cache()
      b.write.format("noop").mode("overwrite").save()
      b
    }
    val silver = t.span("etl.clean", "etl") {
      val s = Silver.run(bronze).cache()
      s.write.format("noop").mode("overwrite").save()
      s
    }
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "L:bench")
    try counts = (bronze.count(), Validate.valid(bronze).count(), silver.count())
    finally sc.setLocalProperty("spark.jobGroup.id", null)
    silver.unpersist(blocking = true)
    bronze.unpersist(blocking = true)
  }
}

/** One round: the batch job over the base files into fresh directories
  * (op `load`), then each stream file landed alone and merged into the
  * processed layer the load left by one `Incremental.runAvailableNow` call
  * (op `batch:<file>`). The calls run without a warehouse: a star load per
  * call doubles the round and its cold warm-up, which the run budget of the
  * benchmark does not allow; the star load is timed in the `load` op. */
final class PipelineRounds(spark: SparkSession, data: String, work: String) extends Workload {
  private val streamFiles = Files.list(Paths.get(s"$data/stream")).iterator().asScala
    .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.getFileName.toString)
  private var last: String = ""
  override lazy val recordsPerRound: Long = Manifest.records(spark, data)
  override def outputDirs: Option[(String, String)] = Some((s"$last/processed", s"$last/warehouse"))

  def round(i: Int, t: Trace): Seq[Op] = {
    Files2.delete(Paths.get(s"$work/pipeline"))
    last = s"$work/pipeline/r$i"
    val load = Main.timeOp("load")(Pipeline.load(spark, s"$data/base", last, t))
    val rawDir = Paths.get(s"$last/raw")
    Files.createDirectories(rawDir)
    load +: streamFiles.map { f =>
      val name = f.getFileName.toString
      val tmp = rawDir.resolve("." + name)
      Files.copy(f, tmp)
      Files.move(tmp, rawDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      Main.timeOp(s"batch:$name")(t.span(name, "stream") {
        Incremental.runAvailableNow(spark, rawDir.toString, s"$last/processed",
          s"$last/checkpoint")
      })
    }
  }

  override def endRound(): Unit = spark.catalog.clearCache()

  override def lastRoundChecks(failures: scala.collection.mutable.Buffer[String]): Unit =
    Checks.pipeline(spark, last, Manifest.invalidUrls(spark, data),
      Manifest.validIds(spark, data, Seq("base")), Manifest.validIds(spark, data, Seq("base", "stream")),
      failures, digests)
}

/** The generator's manifest, read with Spark. */
object Manifest {
  private def files(spark: SparkSession, data: String): DataFrame =
    spark.read.option("multiLine", "true").json(s"$data/manifest.json")
      .select(explode(col("files")).as("f")).select("f.*")

  def records(spark: SparkSession, data: String): Long =
    files(spark, data).agg(sum("records")).head().getLong(0)

  def validIds(spark: SparkSession, data: String, parts: Seq[String]): DataFrame =
    files(spark, data).filter(col("part").isin(parts: _*))
      .select(explode(col("new_valid_ids")).as("auction_id"))

  def invalidUrls(spark: SparkSession, data: String): DataFrame =
    files(spark, data).filter(col("part") === "base")
      .select(explode(col("invalid_urls")).as("value"))
}

/** Output checks for a pipeline round: digests of every output table, and
  * invariants that hold for every seed. */
object Checks {
  val Tables = Seq("auction_status_dim", "reserve_status_dim", "body_style_dim",
    "seller_type_dim", "drivetrain_dim", "transmission_dim", "state_dim", "city_dim",
    "vehicle_make_dim", "vehicle_model_dim", "vehicle_dim", "auction_fact", "staging")

  def pipeline(spark: SparkSession, dir: String, invalidUrls: DataFrame, loadedIds: DataFrame,
               mergedIds: DataFrame, failures: scala.collection.mutable.Buffer[String],
               digests: scala.collection.mutable.Map[String, String]): Unit = {
    def check(name: String)(ok: => Boolean): Unit =
      try { if (!ok) failures += s"check failed: $name" }
      catch { case e: Throwable => failures += s"check threw: $name: $e" }
    val wh = new Warehouse(spark, s"$dir/warehouse")
    val processed = spark.read.parquet(s"$dir/processed")
    val rescrape = spark.read.text(s"$dir/rescrape")
    digests ++= digestAll(Tables.map(t => t -> wh.read(t)) ++
      Seq("processed" -> processed, "rescrape" -> rescrape))
    val fact = wh.read("auction_fact")
    /** Keys whose multiplicity differs between two single-column frames. */
    def multisetDiff(a: DataFrame, b: DataFrame): DataFrame = {
      def counted(df: DataFrame, n: String) = df.toDF("k").groupBy("k").agg(count(lit(1)).as(n))
      counted(a, "na").join(counted(b, "nb"), Seq("k"), "full_outer")
        .filter(coalesce(col("na"), lit(0L)) =!= coalesce(col("nb"), lit(0L)))
    }
    check("one fact row per valid auction_id of the loaded files") {
      multisetDiff(fact.select("auction_id"), loadedIds.distinct()).isEmpty
    }
    check("every fact foreign key resolves") {
      Seq("vehicle_id" -> ("vehicle_dim", "vehicle_id"), "auction_status" -> ("auction_status_dim", "id"),
        "reserve_status" -> ("reserve_status_dim", "id"), "auction_state" -> ("state_dim", "id"),
        "auction_city" -> ("city_dim", "id"), "seller_type" -> ("seller_type_dim", "id"))
        .map { case (fk, (dim, key)) =>
          fact.filter(col(fk).isNotNull).select(lit(fk).as("fk"), col(fk).as("k"))
            .join(wh.read(dim).select(col(key).as("k")), Seq("k"), "left_anti")
        }.reduce(_ unionByName _).isEmpty
    }
    check("one processed row per valid auction_id of the loaded and merged files") {
      multisetDiff(processed.select("auction_id"), mergedIds.distinct()).isEmpty
    }
    check("rescrape list equals the base files' invalid-status URLs") {
      multisetDiff(rescrape, invalidUrls).isEmpty
    }
  }

  /** Order-insensitive digests of several frames in one job: per frame, the
    * row count and the sum of 64-bit row hashes. Floating-point values are
    * rounded first, so a different summation order inside the program does
    * not change a digest. */
  def digestAll(frames: Seq[(String, DataFrame)]): Seq[(String, String)] =
    frames.map { case (n, df) => rowHashes(df).select(lit(n).as("t"), col("h")) }
      .reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)).as("n"), sum("h").as("s"))
      .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getDecimal(2)}").toSeq

  /** [[digestAll]] of one frame; an empty frame is "0:0". */
  def digest(name: String, df: DataFrame): String =
    digestAll(Seq(name -> df)).headOption.map(_._2).getOrElse("0:0")

  private def rowHashes(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => round(c.cast("double"), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
      case MapType(_, _, _) => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toIndexedSeq
    df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
  }
}

/** A fixed list of `SparkEntry.queries` over the sf tables, one pass per
  * round, each written to a noop sink. The first warm-up pass digests every
  * output instead, so a second one runs the noop writes once before they
  * are timed. */
final class QueryMix(spark: SparkSession, sf: String, listFile: String) extends Workload {
  private val list = Files.readAllLines(Paths.get(listFile)).asScala.map(_.trim)
    .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  private val queries = SparkEntry.queries
  override def warmupRounds: Int = 2

  def round(i: Int, t: Trace): Seq[Op] = list.map { q =>
    Main.timeOp(q)(t.span(q, "queries") {
      val df = queries(q)(spark, sf)
      if (i == 0) digests(q) = Checks.digest(q, df)
      else df.write.format("noop").mode("overwrite").save()
    })
  }
}

object QueryMix {
  import graft.queries._
  private lazy val families: Map[String, String] = Seq(
    "Relational" -> RelationalQueries.defs, "Expr" -> ExprQueries.defs,
    "Dedup" -> DedupQueries.defs, "Text" -> TextQueries.defs,
    "Similarity" -> SimilarityQueries.defs, "Multimodal" -> MultimodalQueries.defs,
    "AdvancedJoin" -> AdvancedJoinQueries.defs, "Curation" -> CurationQueries.defs,
    "StarLoad" -> StarLoadQueries.defs, "Profiling" -> ProfilingQueries.defs,
    "Warehouse" -> WarehouseQueries.defs, "Event" -> EventQueries.defs,
    "Auction" -> AuctionQueries.defs, "Web" -> WebQueries.defs)
    .flatMap { case (f, defs) => defs.keys.map(_ -> f) }.toMap
  def familyOf(q: String): String = families.getOrElse(q, "other")
}

/** Per-layer numbers of one traced round.
  *
  * A layer the benchmark calls directly (the etl steps, MergeWrite and
  * StarLoad in the batch load, each query) is timed by its span. Inside a
  * `runAvailableNow` call the merge and the star load have no span of their
  * own; there a layer's time is the envelope of its jobs within the call,
  * from the first job's start to the last job's end. */
object Layering {
  private val Families = Seq("Relational", "Expr", "Dedup", "Text", "Similarity", "Multimodal",
    "AdvancedJoin", "Curation", "Profiling", "Warehouse", "Event", "Web")

  def metrics(tr: Tracer, t0: Long, t1: Long, roundWall: Double, cores: Int,
              w: Workload): Map[String, Double] = {
    val (jobs, stages, spans) = tr.window(t0, t1)
    val calls = spans.filter(_.parent == "stream")
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def sec(ms: Long) = ms / 1000.0
    def under(l: String, p: String) = l == p || l.startsWith(p + ".")
    def jobsOf(p: String, in: Span = null) = jobs.filter(j => under(j.layer, p) &&
      (in == null || (j.start >= in.start && j.start <= in.end)))
    def agg(p: String): (Int, StageAgg) = jobsOf(p).flatMap(j => stages.get(j.id))
      .foldLeft((0, new StageAgg)) { case ((n, t), (k, a)) => t.add(a); (n + k, t) }
    def union(js: Seq[Job]) = sec(Intervals.union(js.map(j => (j.start, j.end))))
    def envelope(js: Seq[Job]) = if (js.isEmpty) 0.0 else sec(js.map(_.end).max - js.map(_.start).min)
    def spansNamed(n: String) = spans.filter(_.name == n)
    /** (wall, union of job intervals) of layer p: its spans plus, inside each
      * runAvailableNow call, the envelope of its jobs. */
    def layer(p: String): (Double, Double) = {
      val direct = spansNamed(p).map(sp => (sp.s, union(jobsOf(p, sp))))
      val inCalls = calls.map { c => val js = jobsOf(p, c); (envelope(js), union(js)) }
      val all = direct ++ inCalls
      (all.map(_._1).sum, all.map(_._2).sum)
    }

    val etlWall = Seq("etl.parse", "etl.rescrape", "etl.clean").flatMap(spansNamed).map(_.s).sum
    val (_, etl) = agg("etl")
    val (bronzeN, validN, silverN) = if (etlWall > 0) Boundary.counts else (0L, 0L, 0L)
    m("etl.parse_s") = spansNamed("etl.parse").map(_.s).sum
    m("etl.clean_s") = spansNamed("etl.clean").map(_.s).sum
    m("etl.tasks") = etl.tasks.toDouble
    m("etl.cpu_util") = if (etlWall > 0) etl.cpuNs / 1e9 / (etlWall * cores) else 0.0
    m("etl.valid_ratio") = if (bronzeN > 0) validN.toDouble / bronzeN else 0.0
    m("etl.dedup_ratio") = if (validN > 0) silverN.toDouble / validN else 0.0

    val (_, mw) = agg("mergewrite")
    val (mergeS, _) = layer("mergewrite")
    m("mergewrite.s") = mergeS
    m("mergewrite.jobs") = jobsOf("mergewrite").size.toDouble
    w.outputDirs match {
      case Some((processed, _)) =>
        val dirs = Files.list(Paths.get(processed)).iterator().asScala.filter(Files.isDirectory(_)).toSeq
        // a partition whose newest file was written during a stream call was
        // read back and rewritten by that call's merge
        m("mergewrite.partitions_rewritten") = dirs.count { d =>
          val newest = Files2.newest(d)
          calls.exists(c => newest >= c.start && newest <= c.end)
        }.toDouble
        m("mergewrite.files") = Files2.stats(Paths.get(processed), t0)._3.toDouble
      case None =>
        m("mergewrite.partitions_rewritten") = 0.0
        m("mergewrite.files") = 0.0
    }
    m("mergewrite.bytes_read") = mw.inBytes.toDouble
    m("mergewrite.bytes_written") = mw.outBytes.toDouble
    m("mergewrite.write_amp") =
      if (w.recordsPerRound > 0) mw.outRecords.toDouble / w.recordsPerRound else 0.0

    val (starStages, st) = agg("star")
    val (starS, starBusy) = layer("star")
    val (whBytes, whFiles, _) = w.outputDirs.map(d => Files2.stats(Paths.get(d._2))).getOrElse((0L, 0L, 0L))
    m("star.s") = starS
    m("star.jobs") = jobsOf("star").size.toDouble
    m("star.stages") = starStages.toDouble
    m("star.tasks") = st.tasks.toDouble
    m("star.shuffle_bytes") = st.shuffleWrite.toDouble
    m("star.spill_bytes") = st.spill.toDouble
    m("star.driver_gap_s") = math.max(0.0, starS - starBusy)
    Seq("dims", "vehicle", "fact", "staging").foreach(k => m(s"star.${k}_s") = union(jobsOf(s"star.$k")))
    m("star.warehouse_bytes") = whBytes.toDouble
    m("star.warehouse_files") = whFiles.toDouble

    val inCallsMergeStar = calls.map { c =>
      envelope(jobsOf("mergewrite", c)) + envelope(jobsOf("star", c)) }.sum
    m("stream.batch_overhead_s") = calls.map(_.s).sum - inCallsMergeStar

    val querySpans = spans.filter(_.parent == "queries")
    Families.foreach { f =>
      val (_, a) = agg(s"queries.$f")
      m(s"queries.$f.s") = querySpans.filter(q => QueryMix.familyOf(q.name) == f).map(_.s).sum
      m(s"queries.$f.jobs") = jobsOf(s"queries.$f").size.toDouble
      m(s"queries.$f.shuffle_bytes") = a.shuffleWrite.toDouble
      m(s"queries.$f.spill_bytes") = a.spill.toDouble
    }
    m("queries.driver_gap_s") = querySpans.map { q =>
      math.max(0.0, q.s - union(jobs.filter(j => j.start >= q.start && j.start <= q.end)))
    }.sum

    m("share.etl") = etlWall / roundWall
    m("share.mergewrite") = mergeS / roundWall
    m("share.star") = starS / roundWall
    m("share.stream") = m("stream.batch_overhead_s") / roundWall
    m("share.queries") = querySpans.map(_.s).sum / roundWall
    m.toMap
  }
}
