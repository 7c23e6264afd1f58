package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The corpus-pipeline operator queries the benchmark measures, each with
  * the module that does its work.
  *
  * One query per module, the one where the module does the most work. A
  * pass over all declared operator queries does not fit the benchmark's
  * per-run time on a 4-core host: the first, cold pass alone takes over a
  * minute.
  */
object Ops {
  val queries: Seq[(String, String)] = Seq(
    "q_pipeline_corpus" -> "text",
    "q_simhash_pairs" -> "dedup",
    "q_embed_neardup" -> "sim",
    "q_cc_labels" -> "graph",
    "q_media_features" -> "multimodal",
    "q_canon_host" -> "canon",
    "q_robots_wildcard" -> "politeness",
    "q_recrawl" -> "engine")

  val names: Seq[String] = queries.map(_._1)
  val modules: Seq[String] = queries.map(_._2).distinct
  def module(q: String): String = queries.toMap.apply(q)

  /** Runs query `q`, sending its full result to the noop sink; returns
    * the wall seconds.
    */
  def runNoop(spark: SparkSession, dir: String, q: String): Double =
    Stats.timed(SparkEntry.queries(q)(spark, dir).write.format("noop")
      .mode("overwrite").save())._2

  /** Runs query `q` and writes its result for the oracle check. */
  def runToParquet(spark: SparkSession, dir: String, q: String,
      out: String): Double =
    Stats.timed(SparkEntry.queries(q)(spark, dir).coalesce(1).write
      .mode("overwrite").parquet(s"$out/$q"))._2
}
