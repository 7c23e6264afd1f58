package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.corpus.Corpus
import graft.dedup.Seen
import graft.engine.{CrawlEngine, Fetcher, TableIO}
import graft.model.{CrawlConfig, RobotsRule, Seed}
import graft.oracle.Oracle
import graft.politeness.Politeness
import graft.router.{Handler, Router}

/** One crawl workload: the corpus shape, the seed list, the robots rules
  * and the engine configuration, all derived from the benchmark seed.
  */
case class CrawlWorkload(name: String, spec: Corpus.Spec, seeds: Seq[Seed],
    robots: Seq[RobotsRule], cfg: CrawlConfig, corpusBuckets: Int)

object CrawlWorkload {
  private[perfbench] def seedList(rng: scala.util.Random, n: Int,
      spec: Corpus.Spec): Seq[Seed] =
    rng.shuffle((0L until spec.nDocs).toVector).take(n).zipWithIndex
      .map { case (doc, j) => Seed(Corpus.url(doc, spec), "page", j) }

  /** Robots rules for every host, drawn from `rng`: a `/page/1` disallow on
    * one host in 5, a two-round crawl delay on one host in 10, and a
    * budget of 4 URLs per round everywhere.
    */
  private[perfbench] def rules(rng: scala.util.Random, spec: Corpus.Spec,
      msPerRound: Long): Seq[RobotsRule] =
    (0L until spec.nHosts).map { h =>
      val dis = if (rng.nextInt(5) == 0) Seq("/page/1") else Nil
      val delay = if (rng.nextInt(10) == 0) 2 * msPerRound else 0L
      RobotsRule(Corpus.hostName(h), dis, crawlDelayMs = delay, hostBudget = 4)
    }

  /** Politeness-bound crawl: a 4-per-host budget over 1000 hosts caps
    * each round at about 2.9k URLs while the over-budget backlog in the
    * frontier grows every round, so the per-round fixed cost and the
    * re-ranking of a mostly unscheduled backlog dominate; the fetch join
    * still scans the corpus every round. Rounds whose frontier reaches
    * 10k rows take the fused scheduled checkpoint (the engine default
    * threshold, 500k, is scaled with the corpus).
    */
  def polite(seed: Long, cores: Int): CrawlWorkload = {
    val rng = new scala.util.Random(seed)
    val spec = Corpus.Spec(nDocs = 20000L, nHosts = 1000, maxLinks = 10,
      hotHostPct = 20)
    val seeds = seedList(rng, 1000, spec)
    val cfg = CrawlConfig(maxRounds = 3, maxDepth = 4,
      defaultHostBudget = 4, frontierPartitions = cores * 2,
      bloomShards = 8, lineageStats = false, trackPath = false,
      fusedCheckpointMin = 10000L)
    CrawlWorkload("crawl_polite", spec, seeds, rules(rng, spec, cfg.msPerRound),
      cfg, cores * 4)
  }
}

/** Result of one crawl: wall time, the engine's own result, and the output
  * check against the sequential oracle.
  */
case class CrawlRun(startMs: Long, endMs: Long, wallS: Double,
    result: CrawlEngine.RunResult,
    orderMatch: Double, seenMatch: Boolean, workBytes: Long, workFiles: Long,
    tableBytes: Map[String, Long]) {
  def ok: Boolean = orderMatch == 1.0 && seenMatch
}

class CrawlBench(spark: SparkSession, w: CrawlWorkload, workBase: String) {
  import spark.implicits._

  val corpusTable = "bench_corpus"
  val router: Router = Router(Map("page" -> Handler.linkFollower()),
    fallback = Handler.linkFollower())
  private var crawlN = 0

  /** Writes the corpus as a catalog table bucketed on doc_id (the layout
    * the engine's default fetcher joins against without a corpus shuffle).
    */
  def writeCorpus(): Unit =
    Corpus.docs(spark, w.spec)
      .repartition(w.corpusBuckets, col("doc_id"))
      .write.mode("overwrite")
      .bucketBy(w.corpusBuckets, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(corpusTable)

  def docs: DataFrame = spark.table(corpusTable)

  /** The engine-mode oracle trace: (seq, canonical, depth) rows. */
  lazy val expected: Seq[(Long, String, Int)] = {
    val docsMap = Corpus.docsLocal(w.spec).iterator
      .map(d => d.doc_id -> d.spans).toMap
    Oracle.crawlEngineMode(docsMap, w.seeds, w.robots, w.cfg.maxDepth,
      w.cfg.maxRounds, w.cfg.defaultHostBudget, dedup = true,
      msPerRound = w.cfg.msPerRound)
      .map(t => (t.seq, t.url, t.depth))
  }

  private def nextWorkDir(): String = {
    crawlN += 1
    s"$workBase/crawl-$crawlN"
  }

  /** Untimed warm-up: the first round of the workload's crawl, so the
    * measured crawls do not pay first-use class loading, code generation
    * and JIT compilation of the round pipeline. (A second warm-up round
    * did not make the measured crawl faster on a 4-core host.)
    */
  def warmup(): Unit = {
    val work = nextWorkDir()
    CrawlEngine.run(spark, docs, w.seeds, w.robots.toDS(), router,
      w.cfg.copy(maxRounds = 1), work)
    Stats.deleteTree(work)
  }

  /** One full crawl; `fetcher` is the traced wrapper or None for the
    * engine's default. The work dir is measured, checked and deleted.
    */
  def crawl(fetcher: Option[TracingFetcher] = None,
      keepWork: Boolean = false): CrawlRun = {
    val work = nextWorkDir()
    val robotsDs = w.robots.toDS()
    val startMs = System.currentTimeMillis()
    val (r, wall) = Stats.timed {
      fetcher.foreach(_.begin())
      CrawlEngine.run(spark, docs, w.seeds, robotsDs, router, w.cfg, work,
        fetcher = fetcher)
    }
    val endMs = System.currentTimeMillis()
    fetcher.foreach(_.close())
    val got = r.trace(spark).select(col("seq"), col("canonical"), col("depth"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val exp = expected
    val same = got.zip(exp).count { case (a, b) => a == b }
    val orderMatch = same.toDouble / math.max(got.size, exp.size).max(1)
    val seenGot = TableIO.readDeltas(spark, work, "seen", r.rounds - 1)
      .select(col("canonical")).as[String].collect().toSet
    val seenMatch = seenGot == exp.map(_._2).toSet
    val tables = Seq("frontier", "seen", "trace", "records", "scheduled",
      "hostledger", "_manifests")
    val tableBytes = tables.map(t => t -> Stats.treeSize(s"$work/$t")._1).toMap
    val (bytes, files) = Stats.treeSize(work)
    val run = CrawlRun(startMs, endMs, wall, r, orderMatch, seenMatch, bytes,
      files, tableBytes)
    if (!keepWork) Stats.deleteTree(work)
    run
  }

  /** A traced crawl: the listener must already be registered. */
  def tracedCrawl(listener: BenchListener, cores: Int,
      keepWork: Boolean): (CrawlRun, Map[String, Double]) = {
    val tf = new TracingFetcher(
      Fetcher.auto(docs, autoBuckets = w.cfg.frontierPartitions))
    val run = crawl(Some(tf), keepWork)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val m = CrawlTrace.metrics(listener, tf, run, cores)
    val urls = math.max(run.result.totalScheduled, 1L).toDouble
    val tio = run.tableBytes.map { case (t, b) =>
      s"tableio.bytes.${t.stripPrefix("_").stripSuffix("s")}" -> b.toDouble }
    (run, m ++ tio ++ Map(
      "tableio.files" -> run.workFiles.toDouble,
      "tableio.bytes_per_url" -> run.workBytes / urls,
      "check.order_match" -> run.orderMatch))
  }

  /** Re-runs the head of the crawl's largest-frontier round (round >= 1)
    * from its checkpointed inputs, through the public calls the engine
    * makes, each timed to a materialized result. Returns the replay
    * metrics; `replay.match` is 1 when the replayed schedule equals the
    * engine's trace rows for that round.
    */
  def replay(run: CrawlRun): Map[String, Double] = {
    val work = run.result.workDir
    val cfg = w.cfg
    val ms = run.result.metrics
    val k = ms.filter(_.round >= 1).maxBy(_.frontierRows).round
    val nextSeq = ms.filter(_.round < k).map(_.scheduledRows).sum
    val frontierCount = ms(k).frontierRows
    def pin(df: DataFrame): (DataFrame, Long, Double) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val (n, s) = Stats.timed(p.count())
      (p, n, s * 1000.0)
    }
    val frontier0 = TableIO.readRound(spark, work, "frontier", k - 1)
    val seen = TableIO.readDeltas(spark, work, "seen", k - 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    seen.count()
    val (frontier, inRows, _) = pin(
      if (cfg.singlePartitionMax > 0 && frontierCount < cfg.singlePartitionMax &&
          nextSeq < cfg.singlePartitionMax) frontier0.coalesce(1)
      else frontier0)
    val bloom = spark.sparkContext.broadcast(Seen.buildShardedBlooms(seen,
      cfg.bloomShards, math.max(nextSeq / cfg.bloomShards, 1000L),
      cfg.bloomFpp))

    // dedup: bloom prefilter, exact anti-join, in-batch first occurrence
    val (deduped, dedupRows, dedupMs) = pin {
      val (defNew, maybe) =
        Seen.bloomPrefilterMulti(frontier, Seq(bloom), cfg.bloomShards)
      Seen.firstOccurrence(defNew.unionByName(Seen.exactAntiJoin(maybe, seen)),
        struct(col("parentSeq"), col("emissionIdx")))
    }

    // politeness: robots, crawl-delay ledger of the previous round, budget
    val robots = w.robots.toDS()
    val notBefore = TableIO.readLedgers(work, k - 1)._2
    val blockedHosts = notBefore.filter(_._2 > k).keys.toSeq
    val budgetUnbounded = cfg.defaultHostBudget == Int.MaxValue &&
      w.robots.forall(_.hostBudget >= Int.MaxValue / 2)
    val (polite, politeRows, politeMs) = pin {
      val allowed0 = Politeness.robotsFilter(deduped, robots)
      val allowed =
        if (blockedHosts.isEmpty) allowed0
        else allowed0.filter(!col("host").isin(blockedHosts: _*))
      val under =
        if (budgetUnbounded) allowed.drop("_hostBudget")
        else Politeness.budgetRank(allowed, cfg.defaultHostBudget)._1
      under.filter(col("depth") <= cfg.maxDepth)
    }

    val (scheduled, schedRows, seqMs) =
      pin(CrawlEngine.assignSeq(polite, nextSeq))
    val engineRows = TableIO.readRound(spark, work, "trace", k)
      .select(col("seq"), col("canonical"), col("depth"))
    val mine = scheduled.select(col("seq"), col("canonical"), col("depth"))
    val matches = schedRows == ms(k).scheduledRows &&
      mine.exceptAll(engineRows).isEmpty && engineRows.exceptAll(mine).isEmpty

    // fetch through the engine's default fetcher; the fused checkpoint is
    // taken when the engine took it for this round
    val fetcher = Fetcher.auto(docs, autoBuckets = cfg.frontierPartitions)
    val fused = cfg.fusedCheckpointMin >= 0 && !cfg.lineageStats &&
      frontierCount >= cfg.fusedCheckpointMin
    val ((schedBack, schedN), ckMs) = {
      val (r, s) = Stats.timed(
        if (fused) fetcher.checkpointScheduled(scheduled,
          s"$workBase/replay/scheduled").getOrElse((scheduled, schedRows))
        else (scheduled, schedRows))
      (r, s * 1000.0)
    }
    val (fetched, _, fetchMs) = pin(fetcher.fetch(schedBack, schedN))
    val routed = router(fetched)
    val (_, routeS) = Stats.timed(routed.write.format("noop")
      .mode("overwrite").save())
    val traceRows = routed.select(col("seq"), col("url"), col("canonical"),
      col("urlHash"), col("host"), col("tag"), col("depth"), col("status"),
      size(col("children")).as("n_children"))
    val (_, writeS) = Stats.timed(TableIO.writeRound(traceRows,
      s"$workBase/replay", "trace", k, "urlHash",
      math.max(1, (schedN / math.max(cfg.rowsPerBucket, 1L)).toInt + 1)
        .min(cfg.frontierPartitions), withStats = false))
    fetcher.endRound()
    fetcher.close()
    Seq(frontier, seen, deduped, polite, scheduled, fetched)
      .foreach(_.unpersist(blocking = true))
    bloom.destroy()
    Stats.deleteTree(s"$workBase/replay")
    Map(
      "replay.round" -> k.toDouble,
      "replay.frontier_rows" -> inRows.toDouble,
      "dedup.replay_ms" -> dedupMs,
      "dedup.keep_ratio" -> dedupRows.toDouble / math.max(inRows, 1L),
      "politeness.replay_ms" -> politeMs,
      "politeness.keep_ratio" -> politeRows.toDouble / math.max(dedupRows, 1L),
      "engine.seq_replay_ms" -> seqMs,
      "engine.checkpoint_replay_ms" -> ckMs,
      "fetch.replay_ms" -> fetchMs,
      "router.replay_ms" -> routeS * 1000.0,
      "tableio.write_replay_ms" -> writeS * 1000.0,
      "replay.match" -> (if (matches) 1.0 else 0.0))
  }
}
