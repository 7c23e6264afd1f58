package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.tools.JvmControl

/** Benchmark JVM: sets up one workload, measures it for the requested
  * seconds, checks its outputs and writes one JSON result file. The
  * launcher (`perfbench/run.py`) builds this, prepares corpus_ops inputs,
  * runs the DuckDB oracle check and prints the final result line.
  *
  * Untraced runs (`--trace 0`) measure the end-to-end metrics with the
  * engine's default fetcher and no listener. Traced runs (`--trace 1`)
  * alternate untraced and traced units of work; the traced ones carry a
  * [[BenchListener]] and, for crawls, a [[TracingFetcher]].
  */
object Main {
  case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, out: String, cores: Int,
      inputSetupS: Double)

  /** Rows for the in-band hardware control (JvmControl.rate). */
  val controlRows = 200000L

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), kv.getOrElse("data", ""), get("out"),
      kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("input-setup-s", "0").toDouble)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Outcome of one workload run, before the launcher's own checks. */
  case class Outcome(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double], info: Map[String, Any])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val (spark, sessionS) = Stats.timed(session(a))
    // the hardware control runs in traced runs only, which report it
    val ctrlPre = if (a.trace) JvmControl.rate(a.cores, controlRows) else 0.0
    val o = a.workload match {
      case "crawl_polite" => crawl(spark, a, sessionS,
        CrawlWorkload.polite(a.seed, a.cores))
      case "corpus_ops" => ops(spark, a, sessionS)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    val control = if (!a.trace) Map.empty[String, Double] else Map(
      "control.rate_pre" -> ctrlPre,
      "control.rate_post" -> JvmControl.rate(a.cores, controlRows),
      "host.nproc" -> Runtime.getRuntime.availableProcessors.toDouble)
    val metrics = o.metrics ++ control + ("peak_rss_mb" -> Stats.peakRssMb())
    spark.stop()
    Files.writeString(Paths.get(a.out), Stats.json(Map(
      "correct" -> o.correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> metrics,
      "info" -> (o.info ++ control ++ Map("cores" -> a.cores)))) + "\n")
  }

  /** Repeats `unit` until `seconds` have passed (at least once). */
  def repeatFor[T](seconds: Double)(unit: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[T]
    var i = 0
    while (i == 0 || Stats.secondsSince(t0) < seconds) {
      out += unit(i)
      i += 1
    }
    out.result()
  }

  def crawl(spark: SparkSession, a: Args, sessionS: Double,
      w: CrawlWorkload): Outcome = {
    val bench = new CrawlBench(spark, w, s"${a.work}/crawls")
    val writes = (1 to 3).map(_ => Stats.timed(bench.writeCorpus())._2)
    bench.expected // the sequential oracle runs once, outside every timing
    val warmS = Stats.timed(bench.warmup())._2
    val setupS = sessionS + Stats.median(writes) + warmS
    val info = Map[String, Any](
      "setup.session_s" -> sessionS,
      "setup.corpus_write_s" -> Stats.median(writes),
      "setup.warmup_s" -> warmS,
      "oracle_rows" -> bench.expected.size)
    def urlsPerS(r: CrawlRun) = r.result.totalScheduled / r.wallS
    if (!a.trace) {
      val runs = repeatFor(a.seconds)(_ => bench.crawl())
      val rounds = runs.flatMap(_.result.metrics.map(_.wallMs.toDouble))
      Outcome(runs.forall(_.ok), runs.size, runs.count(!_.ok), Map(
        "run_s" -> Stats.median(runs.map(_.wallS)),
        "items_per_s" -> Stats.median(runs.map(urlsPerS)),
        "step_ms" -> Stats.median(rounds),
        "setup_s" -> setupS),
        info ++ Map("crawls" -> runs.size,
          "rounds_per_crawl" -> runs.head.result.rounds,
          "round_samples" -> rounds.size,
          "urls_per_crawl" -> runs.head.result.totalScheduled,
          "work_bytes_per_url" -> Stats.median(runs.map(r =>
            r.workBytes.toDouble / math.max(r.result.totalScheduled, 1L))),
          "order_match" -> runs.map(_.orderMatch).min,
          "rounds" -> runs.map(roundsInfo).mkString(" | ")))
    } else {
      // one untraced crawl follows the traced ones; the JVM is still
      // warming up, so the overhead estimate errs high, not low
      val listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      val traced =
        try repeatFor(a.seconds)(i =>
          bench.tracedCrawl(listener, a.cores, keepWork = i == 0))
        finally spark.sparkContext.removeSparkListener(listener)
      val plain = bench.crawl()
      val kept = traced.head._1
      val replay = bench.replay(kept)
      Stats.deleteTree(kept.result.workDir)
      val all = plain +: traced.map(_._1)
      val replayOk = replay("replay.match") == 1.0
      Outcome(all.forall(_.ok) && replayOk, all.size + 1,
        all.count(!_.ok) + (if (replayOk) 0 else 1),
        Stats.medianMaps(traced.map(_._2)) ++ replay ++
          overhead(Stats.median(traced.map(_._1.wallS)), plain.wallS),
        info ++ Map("traced_crawls" -> traced.size,
          "rounds" -> roundsInfo(kept)))
    }
  }

  /** frontier/scheduled/wall per round, for the run's log. */
  def roundsInfo(r: CrawlRun): String = r.result.metrics.map(m =>
    s"${m.frontierRows}/${m.scheduledRows}/${m.wallMs}ms").mkString(" ")

  def overhead(tracedS: Double, untracedS: Double): Map[String, Double] =
    Map("trace.overhead_s" -> (tracedS - untracedS),
      "trace.overhead_pct" -> 100.0 * (tracedS - untracedS) / untracedS)

  def ops(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val qs = Ops.names
    val check = s"${a.work}/check"
    // warm-up pass: every query's result is written for the oracle check
    val warm = qs.map { q =>
      q -> scala.util.Try(Ops.runToParquet(spark, a.data, q, check))
    }
    val warmS = warm.flatMap(_._2.toOption).sum
    writeOracleSql(qs, s"$check/oracle_sql.json")
    val setupS = sessionS + a.inputSetupS + warmS
    var failed = warm.count(_._2.isFailure).toLong
    var attempted = qs.size.toLong
    /** One pass over every query: (query -> seconds) for the ones that ran. */
    def pass(): Map[String, Double] = {
      spark.catalog.clearCache()
      qs.flatMap { q =>
        attempted += 1
        scala.util.Try(Ops.runNoop(spark, a.data, q)) match {
          case scala.util.Success(s) => Some(q -> s)
          case scala.util.Failure(e) =>
            failed += 1
            System.err.println(s"[perfbench] $q failed: $e")
            None
        }
      }.toMap
    }
    val info = Map[String, Any]("queries" -> qs.size,
      "setup.session_s" -> sessionS, "setup.input_s" -> a.inputSetupS,
      "setup.warmup_s" -> warmS,
      "warm_q" -> warm.map { case (q, t) =>
        f"$q=${t.getOrElse(-1.0)}%.2f" }.mkString(" "),
      "failed_queries" -> warm.filter(_._2.isFailure).map(_._1).mkString(","))
    if (!a.trace) {
      val passes = repeatFor(a.seconds)(_ => pass())
      val totals = passes.map(_.values.sum)
      Outcome(failed == 0, attempted, failed, Map(
        "run_s" -> Stats.median(totals),
        "items_per_s" -> Stats.median(passes.zip(totals).map { case (p, t) =>
          p.size / t }),
        // queries differ in cost by 10x, so their median jumps between
        // neighbours; the geometric mean weighs every query's change alike
        "step_ms" -> Stats.geomean(passes.flatMap(_.values).map(_ * 1000.0)),
        "setup_s" -> setupS), info ++ Map("passes" -> passes.size))
    } else {
      // events still queued when a listener is removed never reach it:
      // each pass drains the bus while the listener is registered
      val listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      val traced = try repeatFor(a.seconds) { _ =>
        val startMs = System.currentTimeMillis()
        val (times, wallS) = Stats.timed(pass())
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val jobs = listener.jobsSnapshot.filter(_.start >= startMs)
        val layer = CrawlTrace.sparkTotals(jobs, wallS, a.cores, qs.size) ++
          Ops.modules.map(m => s"ops.${m}_s" ->
            times.filter(q => Ops.module(q._1) == m).values.sum) ++
          times.map { case (q, s) => s"q.${q}_s" -> s }
        (times.values.sum, layer)
      } finally spark.sparkContext.removeSparkListener(listener)
      val plain = pass().values.sum
      Outcome(failed == 0, attempted, failed,
        Stats.medianMaps(traced.map(_._2)) ++
          overhead(Stats.median(traced.map(_._1)), plain),
        info ++ Map("traced_passes" -> traced.size))
    }
  }

  /** The DuckDB oracle SQL of the given queries, for the launcher. */
  def writeOracleSql(qs: Seq[String], path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      Stats.json(qs.flatMap(q =>
        SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }
}
