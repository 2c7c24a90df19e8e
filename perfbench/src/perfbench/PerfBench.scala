package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one JVM: set the session up once, then run the
  * workload's queries in `--passes` closed-loop passes — one client, one
  * query at a time. Every pass starts from an empty session cache and an
  * empty Spark cache,
  * so each pass pays its shared builds, and runs the queries in an order
  * drawn from `--seed`. Each query is forced once, as `graft.Force` does,
  * and the same pass computes its output digest.
  *
  * With `--trace 1` half the passes after the first (cold) one are
  * traced: a listener attributes Spark jobs, stages, tasks and streaming
  * batches to the running query, and the spans are written to
  * `--trace-out` when the run ends. The untraced passes in between give
  * the overhead of tracing.
  *
  * The raw record of the run goes to `--out` as JSON; `perfbench/run.py`
  * turns it into metrics and checks the digests.
  */
object PerfBench {

  final case class QueryRun(name: String, wallS: Double, rows: Long, hash: Long,
      error: Option[String], exchanges: Int)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = opts("queries").split(",").toSeq
    val seed = opts("seed").toLong
    val passCount = opts("passes").toInt
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val nbaProbe = opts.get("nba-probe").contains("1")

    redirectScratch(opts("scratch"))
    val byName = graft.Registry.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // set-up, from JVM start: class loading, session build, input staging
    // and warm-up, up to the point where the first query can be submitted
    val spark = buildSession(cores)
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = graft.Bench.stageInput(opts("data"))
    warmUp(spark, sfDir)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    drainBuilds(sfDir); drainEvents()

    val cpuMopsStart = graft.Bench.cpuCalibrationMops(calibrationIters)
    val rng = new scala.util.Random(seed)
    val passes = mutable.ArrayBuffer[String]()
    val spans = new Spans
    val runSpan = spans.open("run", s"seed=$seed", -1)
    // after the cold first pass, untraced (U) and traced (T) passes follow
    // as U T T U, so the JIT still warming up favours neither side
    for (p <- 0 until passCount) {
      val traced = trace && p > 0 && Set(1, 2).contains((p - 1) % 4)
      val order = rng.shuffle(names)
      // a fresh session per pass: an empty SessionCache (keyed by session)
      // and an empty CacheManager, so every pass pays its shared builds
      spark.catalog.clearCache()
      val session = spark.newSession()
      drainBuilds(sfDir); drainEvents()
      val rec = if (traced) Some(new Recorder(spans)) else None
      rec.foreach(sc.addSparkListener)
      val passSpan = if (traced) spans.open("workload", opts("workload"), runSpan) else -1
      val hits0 = graft.SessionCache.hits
      val gc0 = gcSeconds()
      val cpu0 = processCpuSeconds()
      val w0 = System.nanoTime()
      val runs = order.map { name =>
        val qSpan = if (traced) spans.open("query", name, passSpan) else -1
        rec.foreach(_.current = (name, qSpan))
        val r = runQuery(session, byName(name), sfDir)
        val builds = drainBuilds(sfDir)
        val buildS = builds.map(_._2).sum
        rec.foreach { _ => PerfBenchBridge.drainListeners(sc) }
        if (traced) spans.close(qSpan, Seq("self_s" -> (r.wallS - buildS), "cache_build_s" -> buildS))
        (r, builds)
      }
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuS = processCpuSeconds() - cpu0
      val gcS = gcSeconds() - gc0
      val events = drainEvents()
      rec.foreach { r => PerfBenchBridge.drainListeners(sc); sc.removeSparkListener(r) }
      if (traced) spans.close(passSpan, Nil)
      passes += Json.obj(
        "traced" -> Json.bool(traced),
        "wall_s" -> Json.num(wallS),
        "cpu_s" -> Json.num(cpuS),
        "gc_s" -> Json.num(gcS),
        "cache_hits" -> Json.num(graft.SessionCache.hits - hits0),
        "cache_cleared" -> Json.num(events.count(_.startsWith("cleared "))),
        "builds" -> Json.arr(runs.flatMap(_._2).map { case (k, s) =>
          Json.arr(Seq(Json.str(k), Json.num(s))) }),
        "queries" -> Json.arr(runs.map { case (r, builds) =>
          Json.obj(
            "name" -> Json.str(r.name),
            "wall_s" -> Json.num(r.wallS),
            "build_s" -> Json.num(builds.map(_._2).sum),
            "rows" -> Json.num(r.rows),
            "hash" -> Json.num(r.hash),
            "exchanges" -> Json.num(r.exchanges),
            "error" -> r.error.fold("null")(Json.str))
        }),
        "exec" -> rec.fold("null")(_.execJson(wallS, cores)),
        "stream" -> rec.fold("null")(_.streamJson))
    }
    spans.close(runSpan, Nil)
    val probe = if (trace && nbaProbe) nbaPhases(spark, sfDir) else Nil
    val cpuMopsEnd = graft.Bench.cpuCalibrationMops(calibrationIters)
    val report = Json.obj(
      "context" -> Json.obj(
        "nproc" -> Json.num(cores),
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "cpu_mops_start" -> Json.num(cpuMopsStart),
        "cpu_mops_end" -> Json.num(cpuMopsEnd),
        "spark" -> Json.str(spark.version)),
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "passes" -> Json.arr(passes.toSeq),
      "nba_probe" -> Json.obj(probe.map { case (k, v) => k -> Json.num(v) }: _*))
    spark.stop()
    Files.write(Paths.get(opts("out")), report.getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(opts("trace-out")), spans.json.getBytes("UTF-8"))
  }

  private val calibrationIters = 100000000L

  /** The session `graft.Bench` builds, conf for conf, so the benchmark runs
    * the plans the oracle verified. */
  def buildSession(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.local.dir", graft.Scratch.root)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `graft.Bench`'s warm-up: codegen, the parquet reader and a shuffle. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(100)
      .groupBy((org.apache.spark.sql.functions.col("id") % 4).as("k"))
      .count().collect()
  }

  /** `graft.Scratch.root` is `/dev/shm` when that is writable; the
    * benchmark keeps every file it writes inside its own directory. */
  def redirectScratch(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val c = Class.forName("graft.Scratch$")
    val root = c.getDeclaredField("root")
    root.setAccessible(true)
    root.set(null, dir)
    val done = c.getDeclaredField("bitmap$0")
    done.setAccessible(true)
    done.setBoolean(null, true)
    require(graft.Scratch.root == dir, s"scratch root is ${graft.Scratch.root}, not $dir")
  }

  def runQuery(s: SparkSession, q: graft.Q, sfDir: String): QueryRun = {
    s.sparkContext.setJobGroup(q.name, q.name)
    val t0 = System.nanoTime()
    try {
      val df = q.run(s, sfDir)
      val (rows, hash) = digest(df)
      QueryRun(q.name, (System.nanoTime() - t0) / 1e9, rows, hash, None,
        exchanges(df.queryExecution.executedPlan))
    } catch {
      case e: Throwable =>
        QueryRun(q.name, (System.nanoTime() - t0) / 1e9, -1, 0, Some(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"), 0)
    } finally s.sparkContext.clearJobGroup()
  }

  /** Forces every output column as `graft.Force` does, and in the same pass
    * reduces the rows to an order-independent digest: the row count and
    * the sum of the `UnsafeRow` hashes. */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var proj: UnsafeProjection = null
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = r match {
          case u: UnsafeRow => u
          case o =>
            if (proj == null) proj = UnsafeProjection.create(schema)
            proj(o)
        }
        n += 1
        h += u.hashCode
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Shuffle exchanges in the final (post-AQE) physical plan; a reused
    * exchange is not counted again. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }

  /** Drains `SessionCache.builds`: (key with the input path removed, self
    * seconds). */
  def drainBuilds(sfDir: String): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    var b = graft.SessionCache.builds.poll()
    while (b != null) {
      out += (b._1.split('#').filterNot(_ == sfDir).mkString(".") -> b._2)
      b = graft.SessionCache.builds.poll()
    }
    out.result()
  }

  def drainEvents(): Seq[String] = {
    val out = Seq.newBuilder[String]
    var e = graft.SessionCache.events.poll()
    while (e != null) { out += e; e = graft.SessionCache.events.poll() }
    out.result()
  }

  /** The domain pipeline's public calls, each frame forced in pipeline
    * order in a fresh session; a frame's time includes filling the caches
    * it is the first to touch. */
  def nbaPhases(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.nba.{GameFeed, GamePipeline}
    spark.catalog.clearCache()
    val s = spark.newSession()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val pbp = GameFeed.pbp(s, sfDir)
    // the same cached plan GamePipeline.run caches, so the feed is
    // computed here once and the periods phase reads it from the cache
    val feed = timed(graft.Force(pbp.toDF().cache()))
    val gameTeams = GameFeed.gameTeams(s, sfDir).cache()
    val p = GamePipeline.run(s, pbp, GameFeed.starters(s, sfDir), gameTeams)
    val periods = timed(graft.Force(p.periods))
    val stints = timed { graft.Force(p.lineupStints); graft.Force(p.playerStints) }
    val attribution = timed(graft.Force(p.attributedEvents))
    val chain = timed(graft.Force(p.scoreChain))
    val pm = timed { graft.Force(p.stintPlusMinus); graft.Force(p.playerPlusMinus) }
    val pyg = timed {
      val (nodes, edges) = graft.graph.PyGExport.build(p, gameTeams)
      graft.Force(nodes); graft.Force(edges)
    }
    spark.catalog.clearCache()
    Seq("nba.feed_s" -> feed, "nba.periods_s" -> periods, "nba.stints_s" -> stints,
      "nba.attribution_s" -> attribution, "nba.score_chain_s" -> chain,
      "nba.plus_minus_s" -> pm, "graph.pyg_export_s" -> pyg)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Attributes Spark events to the query the harness is running: jobs by
    * their job group when it names that query, and otherwise (streaming
    * micro-batches run under their own group) to the current query. */
  final class Recorder(spans: Spans) extends SparkListener {
    @volatile var current: (String, Int) = ("", -1)
    private var jobs, stages, tasks = 0L
    private var taskS, shuffleRead, shuffleWrite, spill = 0.0
    private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
    private val jobSpan = mutable.Map[Int, Int]()
    private val stageSpan = mutable.Map[Int, Int]()
    private val stageParent = mutable.Map[Int, Int]()
    private var batches, inputRows = 0L
    private var batchS, addBatchS, commitS = 0.0
    private val stateRows = mutable.Map[String, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      val (name, qSpan) = current
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val id = spans.openAt("job", s"job ${e.jobId} group=$group", qSpan, e.time)
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
      if (group != null && group != name) spans.attr(id, "query", name)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach(id => spans.closeAt(id, e.time, Nil))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stageSpan(si.stageId) = spans.openAt("stage", s"stage ${si.stageId}",
        stageParent.getOrElse(si.stageId, current._2),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      stages += 1
      stageSpan.remove(si.stageId).foreach(id => spans.closeAt(id,
        si.completionTime.getOrElse(System.currentTimeMillis()),
        Seq("tasks" -> si.numTasks.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val d = e.taskInfo.duration / 1e3
      taskS += d
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += d
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => synchronized {
        val pr = p.progress
        val ms = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches += 1
        inputRows += pr.numInputRows
        batchS += ms.getOrElse("triggerExecution", 0L) / 1e3
        addBatchS += ms.getOrElse("addBatch", 0L) / 1e3
        commitS += (ms.getOrElse("walCommit", 0L) + ms.getOrElse("commitOffsets", 0L) +
          pr.stateOperators.map(_.commitTimeMs).sum) / 1e3
        stateRows(pr.runId.toString) = pr.stateOperators.map(_.numRowsTotal).sum
        val end = java.time.Instant.parse(pr.timestamp).toEpochMilli +
          ms.getOrElse("triggerExecution", 0L)
        val id = spans.openAt("batch", s"${pr.name} batch ${pr.batchId}", current._2,
          java.time.Instant.parse(pr.timestamp).toEpochMilli)
        spans.closeAt(id, end, Seq("input_rows" -> pr.numInputRows.toDouble))
      }
      case _ =>
    }

    def execJson(wallS: Double, cores: Int): String = synchronized {
      val skew = stageTasks.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2)
        if (med > 0) s.last / med else 1.0
      }
      Json.obj(
        "jobs" -> Json.num(jobs),
        "stages" -> Json.num(stages),
        "tasks" -> Json.num(tasks),
        "task_s" -> Json.num(taskS),
        "busy_frac" -> Json.num(taskS / (wallS * cores)),
        "shuffle_read_mb" -> Json.num(shuffleRead / 1048576),
        "shuffle_write_mb" -> Json.num(shuffleWrite / 1048576),
        "spill_mb" -> Json.num(spill / 1048576),
        "skew_max" -> Json.num(if (skew.isEmpty) 1.0 else skew.max))
    }

    def streamJson: String = synchronized {
      Json.obj(
        "batches" -> Json.num(batches),
        "input_rows" -> Json.num(inputRows),
        "rows_per_s" -> Json.num(if (batchS > 0) inputRows / batchS else 0.0),
        "add_batch_s" -> Json.num(addBatchS),
        "commit_s" -> Json.num(commitS),
        "state_rows" -> Json.num(stateRows.values.sum))
    }
  }

  /** Spans held in memory and written out when the run ends: run →
    * workload (one traced pass) → query → Spark job → stage, and
    * streaming batches under their query. Times are epoch milliseconds. */
  final class Spans {
    private val buf = mutable.ArrayBuffer[mutable.Map[String, String]]()
    def openAt(kind: String, name: String, parent: Int, startMs: Long): Int = synchronized {
      buf += mutable.LinkedHashMap("id" -> buf.size.toString, "parent" -> parent.toString,
        "kind" -> Json.str(kind), "name" -> Json.str(name), "start_ms" -> startMs.toString)
      buf.size - 1
    }
    def open(kind: String, name: String, parent: Int): Int =
      openAt(kind, name, parent, System.currentTimeMillis())
    def closeAt(id: Int, endMs: Long, attrs: Seq[(String, Double)]): Unit = synchronized {
      buf(id)("end_ms") = endMs.toString
      attrs.foreach { case (k, v) => buf(id)(k) = Json.num(v) }
    }
    def close(id: Int, attrs: Seq[(String, Double)]): Unit =
      closeAt(id, System.currentTimeMillis(), attrs)
    def attr(id: Int, k: String, v: String): Unit = synchronized { buf(id)(k) = Json.str(v) }
    def json: String = synchronized {
      Json.arr(buf.toSeq.map(m => Json.obj(m.toSeq: _*))) + "\n"
    }
  }

  /** Just enough JSON writing for the report: values are pre-rendered. */
  object Json {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    def num(l: Long): String = l.toString
    def bool(b: Boolean): String = b.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def obj(kvs: (String, String)*): String =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  }
}
