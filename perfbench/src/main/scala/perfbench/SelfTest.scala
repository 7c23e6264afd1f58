package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.corpus.Corpus
import graft.model.CrawlConfig

/** Self-test of the benchmark's own aggregation: helper arithmetic, call-site
  * parsing, and one tiny traced crawl whose listener counts, head/tail
  * windows, bytes per URL and round count are checked against independent
  * figures. Run with `python3 perfbench/run.py --selftest`; exits non-zero
  * on any failed check.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
  }

  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    arithmetic(work)
    val spark = Main.session(Main.Args("selftest", 1L, 0.0, trace = true,
      work, "", "", 4, 0.0))
    try tinyCrawl(spark, work)
    finally spark.stop()
    println(if (failures == 0) "selftest: all checks passed"
      else s"selftest: $failures checks failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def arithmetic(work: String): Unit = {
    check("median odd", Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    check("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("geomean", math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    check("interval union",
      CrawlTrace.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L))) == 30.0)
    check("site of lambda frame", Sites.innermost(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.engine.CrawlEngine$.$anonfun$run$25(CrawlEngine.scala:880)\n" +
        "graft.engine.CrawlEngine$.run(CrawlEngine.scala:300)") ==
      "CrawlEngine.run")
    check("site of object method", Sites.innermost(
      "graft.engine.TableIO$.writeRoundLite(TableIO.scala:112)\n" +
        "scala.concurrent.Future$.$anonfun$apply$1(Future.scala:687)") ==
      "TableIO.writeRoundLite")
    check("site of class method", Sites.innermost(
      "graft.engine.BucketedJoinFetcher.checkpointScheduled(Fetcher.scala:229)")
      == "BucketedJoinFetcher.checkpointScheduled")
    check("no graft frame", Sites.innermost("java.lang.Thread.run(Thread.java:1)") == "")
    val dir = s"$work/sizes"
    Files.createDirectories(Paths.get(dir, "a", "b"))
    Files.write(Paths.get(dir, "x"), new Array[Byte](10))
    Files.write(Paths.get(dir, "a", "b", "y"), new Array[Byte](32))
    check("tree size", Stats.treeSize(dir) == ((42L, 2L)), s"${Stats.treeSize(dir)}")
    Stats.deleteTree(dir)
  }

  /** Independent byte count: java.io.File recursion, not Files.walk. */
  private def du(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  def tinyCrawl(spark: SparkSession, work: String): Unit = {
    val rng = new scala.util.Random(5)
    val spec = Corpus.Spec(nDocs = 400L, nHosts = 20, maxLinks = 6)
    // fused checkpoint from a frontier of 50 rows, so that path is traced
    val cfg = CrawlConfig(maxRounds = 3, maxDepth = 4, defaultHostBudget = 4,
      frontierPartitions = 4, lineageStats = false, trackPath = false,
      fusedCheckpointMin = 50L)
    val w = CrawlWorkload("selftest", spec,
      CrawlWorkload.seedList(rng, 20, spec),
      CrawlWorkload.rules(rng, spec, cfg.msPerRound), cfg, 4)
    val bench = new CrawlBench(spark, w, s"$work/crawls")
    bench.writeCorpus()
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val (run, m) =
      try bench.tracedCrawl(listener, 4, keepWork = true)
      finally spark.sparkContext.removeSparkListener(listener)
    val wallMs = run.wallS * 1000.0
    val r = run.result
    val ms = r.metrics

    check("crawl output matches the oracle", run.ok,
      s"order_match=${run.orderMatch} seen=${run.seenMatch}")
    // round-count statement behind step_ms: one RoundMetrics and one
    // fetcher window per round
    check("rounds stated", m("engine.rounds") == r.rounds &&
      ms.size == r.rounds && r.rounds == cfg.maxRounds,
      s"rounds=${r.rounds} metrics=${ms.size}")
    check("one window per round", m("engine.window_rounds") == r.rounds,
      s"${m("engine.window_rounds")}")
    // each round [t0, wallMs] lies inside its window, windows lie inside
    // the run call
    val headTail = m("engine.head_ms") + m("engine.tail_ms")
    check("windows cover the rounds", headTail >= ms.map(_.wallMs).sum,
      s"$headTail < ${ms.map(_.wallMs).sum}")
    check("windows inside the run", headTail <= wallMs,
      s"$headTail > $wallMs")
    check("fused checkpoint traced", m("engine.checkpoint_ms") > 0.0)
    // listener counts: every task and stage event lands on exactly one
    // job, and head/tail split the crawl's jobs without overlap
    val jobs = listener.jobsSnapshot
    check("tasks attributed", jobs.map(_.tasks).sum == listener.taskEventCount,
      s"${jobs.map(_.tasks).sum} vs ${listener.taskEventCount}")
    check("stages attributed",
      jobs.map(_.stages).sum.toLong == listener.stageEventCount,
      s"${jobs.map(_.stages).sum} vs ${listener.stageEventCount}")
    // the crawl's jobs are the listener's jobs minus the output checks
    // that run after the crawl returns
    val checkJobs = jobs.count(_.start > run.endMs)
    check("jobs counted", m("spark.jobs") == jobs.size - checkJobs &&
      m("spark.jobs") > 0, s"${m("spark.jobs")} vs ${jobs.size} - $checkJobs")
    check("head + tail jobs within the crawl's",
      m("head.jobs") + m("tail.jobs") <= m("spark.jobs") &&
        m("head.jobs") > 0 && m("tail.jobs") > 0,
      s"${m("head.jobs")} + ${m("tail.jobs")} vs ${m("spark.jobs")}")
    check("jobs per round", math.abs(m("spark.jobs_per_round") -
      m("spark.jobs") / r.rounds) < 1e-9)
    val siteJobs = (CrawlTrace.sites :+ "other")
      .map(s => m(s"site.$s.jobs")).sum
    check("every job has one site", siteJobs == m("spark.jobs"),
      s"$siteJobs vs ${m("spark.jobs")}")
    check("write sites named", m("site.TableIO.writeRound.jobs") > 0 &&
      m("site.TableIO.writeRoundLite.jobs") > 0)
    val bytes = du(new java.io.File(r.workDir))
    check("bytes per URL", math.abs(m("tableio.bytes_per_url") -
      bytes.toDouble / r.totalScheduled) < 1e-9,
      s"${m("tableio.bytes_per_url")} vs $bytes / ${r.totalScheduled}")
    val replay = bench.replay(run)
    check("replayed round schedules the engine's rows",
      replay("replay.match") == 1.0)
    Stats.deleteTree(r.workDir)
  }
}
