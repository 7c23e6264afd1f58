package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.engine.Fetcher

/** One Spark job as the listener saw it, with its tasks' totals. */
final class JobRec(val start: Long, val execId: Long,
    val stageSite: String) {
  var end: Long = start
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Call-site attribution of Spark jobs to the library function that
  * issued them.
  */
object Sites {
  /** `Object.method` of the innermost `graft.` frame in a long-form call
    * site (one frame per line), or "" when there is none. Lambda frames
    * (`$anonfun$run$12`) name their enclosing method.
    */
  def innermost(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val dot = qualified.lastIndexOf('.')
        val cls = qualified.substring(0, dot)
        val obj = cls.substring(cls.lastIndexOf('.') + 1).split('$')
          .find(_.nonEmpty).getOrElse(cls)
        val method = qualified.substring(dot + 1)
          .stripPrefix("$anonfun$").split('$').find(_.nonEmpty).getOrElse("")
        s"$obj.$method"
      }.getOrElse("")
}

/** Aggregates job, stage and task events. Events arrive on Spark's
  * listener-bus thread; readers call [[jobsSnapshot]] after draining the
  * bus.
  */
class BenchListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSite = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]
  private var stageEvents = 0L
  private var taskEvents = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.sortBy(_.stageId).headOption
      .map(s => Sites.innermost(s.details)).getOrElse("")
    jobs(e.jobId) = new JobRec(e.time, exec, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageEvents += 1
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskEvents += 1
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = Sites.innermost(s.details)
      s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
    }
    case _ =>
  }

  /** Site of a job: its SQL execution's call site (or that of the root
    * execution), else its first stage's call site, else "other".
    */
  def siteOf(j: JobRec): String = synchronized {
    val own = execSite.getOrElse(j.execId, "")
    val viaRoot = execRoot.get(j.execId).flatMap(execSite.get).getOrElse("")
    Seq(own, viaRoot, j.stageSite).find(_.nonEmpty).getOrElse("other")
  }

  def jobsSnapshot: Seq[JobRec] = synchronized(jobs.values.toVector)
  def stageEventCount: Long = synchronized(stageEvents)
  def taskEventCount: Long = synchronized(taskEvents)
}

/** One crawl round as seen from the fetcher boundary. `fetchNs` is -1 for
  * a round the engine skipped the fetch on (nothing scheduled).
  */
case class RoundWindow(startMs: Long, fetchMs: Long, endMs: Long,
    headNs: Long, tailNs: Long, checkpointNs: Long) {
  def empty: Boolean = fetchMs < 0
}

/** Delegating [[Fetcher]] that records each round's head window (round
  * start up to the fetch call) and tail window (fetch call up to
  * `endRound`). The engine calls `endRound` after the round's manifest
  * commit, so consecutive windows tile the crawl from [[begin]], called
  * right before `CrawlEngine.run`.
  */
class TracingFetcher(inner: Fetcher) extends Fetcher {
  @transient val rounds = mutable.ArrayBuffer.empty[RoundWindow]
  @transient private var headStartNs = 0L
  @transient private var headStartMs = 0L
  @transient private var fetchNs = -1L
  @transient private var fetchMs = -1L
  @transient private var checkpointNs = 0L

  def begin(): Unit = {
    headStartNs = System.nanoTime()
    headStartMs = System.currentTimeMillis()
  }

  def fetch(scheduled: DataFrame, scheduledCount: Long): DataFrame = {
    fetchNs = System.nanoTime()
    fetchMs = System.currentTimeMillis()
    inner.fetch(scheduled, scheduledCount)
  }

  override def checkpointScheduled(scheduled: DataFrame,
      path: String): Option[(DataFrame, Long)] = {
    val t0 = System.nanoTime()
    try inner.checkpointScheduled(scheduled, path)
    finally checkpointNs += System.nanoTime() - t0
  }

  override def endRound(): Unit = {
    inner.endRound()
    val endNs = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val (head, tail) =
      if (fetchNs < 0) (endNs - headStartNs, 0L)
      else (fetchNs - headStartNs, endNs - fetchNs)
    rounds += RoundWindow(headStartMs, fetchMs, endMs, head, tail,
      checkpointNs)
    headStartNs = endNs
    headStartMs = endMs
    fetchNs = -1L
    fetchMs = -1L
    checkpointNs = 0L
  }

  override def close(): Unit = inner.close()
}

/** Per-layer metrics of one traced crawl, from its fetcher windows, the
  * listener's jobs inside the crawl interval and the engine's own
  * RoundMetrics.
  */
object CrawlTrace {
  /** Sites reported by name; jobs from any other site count under
    * `site.other`.
    */
  val sites: Seq[String] = Seq(
    "TableIO.writeRound", "TableIO.writeRoundLite", "Seen.buildShardedBlooms",
    "CrawlEngine.run", "BucketedJoinFetcher.checkpointScheduled")

  def siteKey(s: String): String = if (sites.contains(s)) s else "other"

  /** Jobs started during the `CrawlEngine.run` call of `run`. */
  def crawlJobs(listener: BenchListener, run: CrawlRun): Seq[JobRec] =
    listener.jobsSnapshot.filter(j => j.start >= run.startMs &&
      j.start <= run.endMs)

  def metrics(listener: BenchListener, fetcher: TracingFetcher, run: CrawlRun,
      cores: Int): Map[String, Double] = {
    val jobs = crawlJobs(listener, run)
    val r = run.result
    val wallS = run.wallS
    val ws = fetcher.rounds.toVector
    def inHead(j: JobRec) = ws.exists(w => j.start >= w.startMs &&
      j.start < (if (w.empty) w.endMs else w.fetchMs))
    def inTail(j: JobRec) = ws.exists(w => !w.empty && j.start >= w.fetchMs &&
      j.start <= w.endMs)
    val head = jobs.filter(inHead)
    val tail = jobs.filter(j => !inHead(j) && inTail(j))
    val m = r.metrics
    val frontier = m.map(_.frontierRows).sum.toDouble
    val scheduled = m.map(_.scheduledRows).sum.toDouble
    val wallMsSum = m.map(_.wallMs).sum.toDouble
    val headMs = ws.map(_.headNs).sum / 1e6
    val tailMs = ws.map(_.tailNs).sum / 1e6
    val rounds = math.max(r.rounds, 1).toDouble
    val bySite = jobs.groupBy(j => siteKey(listener.siteOf(j)))
    val siteMetrics = (sites :+ "other").flatMap { s =>
      val js = bySite.getOrElse(s, Seq.empty)
      Seq(s"site.$s.task_ms" -> js.map(_.taskMs).sum.toDouble,
        s"site.$s.jobs" -> js.size.toDouble)
    }
    Map(
      "engine.head_ms" -> headMs,
      "engine.tail_ms" -> tailMs,
      "engine.checkpoint_ms" -> ws.map(_.checkpointNs).sum / 1e6,
      "engine.empty_rounds" -> ws.count(_.empty).toDouble,
      "engine.rounds" -> r.rounds.toDouble,
      "engine.frontier_rows" -> frontier,
      "engine.scheduled_rows" -> scheduled,
      "engine.sched_ratio" -> (if (frontier > 0) scheduled / frontier else 0.0),
      "engine.reconcile_pct" ->
        (if (wallMsSum > 0) 100.0 * (headMs + tailMs - wallMsSum) / wallMsSum
         else 0.0),
      "engine.window_rounds" -> ws.size.toDouble,
      "head.jobs" -> head.size.toDouble,
      "head.task_ms" -> head.map(_.taskMs).sum.toDouble,
      "tail.jobs" -> tail.size.toDouble,
      "tail.task_ms" -> tail.map(_.taskMs).sum.toDouble
    ) ++ sparkTotals(jobs, wallS, cores, rounds) ++ siteMetrics
  }

  /** Listener totals over `jobs`, which ran within `wallS` seconds on
    * `cores` cores; `steps` is the round (or query) count.
    */
  def sparkTotals(jobs: Seq[JobRec], wallS: Double, cores: Int,
      steps: Double): Map[String, Double] = {
    val taskMs = jobs.map(_.taskMs).sum.toDouble
    val busyMs = unionMs(jobs.map(j => (j.start, j.end)))
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.jobs_per_round" -> jobs.size / math.max(steps, 1.0),
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_ms" -> taskMs,
      "spark.cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.input).sum.toDouble,
      "spark.output_bytes" -> jobs.map(_.output).sum.toDouble,
      "spark.busy_ms" -> busyMs,
      "driver.idle_ms" -> math.max(0.0, wallS * 1000.0 - busyMs),
      "spark.core_util" ->
        (if (wallS > 0) taskMs / (wallS * 1000.0 * cores) else 0.0))
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
