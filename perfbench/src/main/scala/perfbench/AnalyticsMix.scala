package perfbench

import graft.SparkEntry
import graft.analytics.{DedupQueries, SimilarityQueries, TextQueries}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** `analytics_mix`: a fixed set of registry queries over seeded tables,
  * plus store ingest → search pairs, run as whole passes in a
  * seed-shuffled order. One operation is one query or one store phase;
  * the row count of each query and store search is recorded for the
  * oracle check. */
final class AnalyticsMix(spark: SparkSession, tracer: Tracer, res: Result,
    dir: Path, seed: Long, halves: Boolean) extends Workload {
  import AnalyticsMix._
  private val tables = dir.resolve("tables").toString
  private val warehouse = dir.resolve("warehouse")

  private val stores = Seq(
    Store("text", "documents", TextQueries.bm25StoredIngest(_, _),
      (s, _) => TextQueries.bm25StoredSearch(s), "q_text_bm25_stored"),
    Store("sig", "documents", DedupQueries.storedIngest(_, _),
      DedupQueries.storedScreen(_, _), "q_dedup_incremental_stored"),
    Store("vec", "embeddings", SimilarityQueries.storedIngest(_, _),
      SimilarityQueries.storedSearch(_, _), "q_sim_ivfpq_stored"),
    Store("emb", "embeddings", DedupQueries.embStoredIngest(_, _),
      DedupQueries.embStoredPairs(_, _), "q_dedup_embedding_lsh_stored"),
    Store("vec_rr", "embeddings",
      SimilarityQueries.storedIngest(_, _, "graft_vecindex_rr"),
      SimilarityQueries.storedRerank(_, _), "q_sim_ivfpq_rerank"))

  /** Oracle SQL of every registry query; a result is checked under the
    * same key as its operation. */
  private val oracles = SparkEntry.oracleSql

  private val order: Seq[Step] =
    new scala.util.Random(seed).shuffle(Queries.map(Query.tupled) ++ stores)

  def setup(): Unit = {
    res.tablesDir = Path.of(tables).toAbsolutePath.toString
    TableGen.write(spark, tables, seed, Scale)
    graft.analytics.Tables(spark, tables, "lineitem").count()
  }

  def warm(): Unit = pass(None)

  /** Whole passes until `seconds` have passed, and at least two (one
    * per half of a traced run), so every run has the same number of
    * latency samples whatever the speed of the host. */
  private val minPasses = if (halves) 1 else 2

  def measure(seconds: Double, phase: String): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var passes = 0
    while (passes < minPasses || System.nanoTime() < end) {
      // Settle the heap between passes, outside the timed operations,
      // so one pass's garbage is not collected inside the next.
      System.gc()
      pass(Some(phase))
      passes += 1
    }
  }

  /** Runs one operation; with `oracleOf`, its row count is recorded
    * for the check against that query's oracle SQL. Every operation
    * counts in throughput; latency samples are registry queries only
    * (see [[Queries]]). */
  private def timed(name: String, phase: Option[String],
      oracleOf: Option[String], latency: Boolean)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val ok = res.attempt(name) {
      val rows = tracer.span(name)(f)
      oracleOf.foreach { q =>
        res.oracle(name) = oracles(q)
        res.rows.getOrElseUpdate(name, collection.mutable.ArrayBuffer()) += rows
      }
      true
    }
    val sec = (System.nanoTime() - t0) / 1e9
    phase.foreach { p =>
      if (ok) {
        res.work(p) += 1
        res.busyS(p) += sec
        if (latency) res.latencyMs(p) += sec * 1e3
      }
    }
  }

  /** Build (DataFrame construction plus physical planning) and run
    * (the count action) as two child spans of the query's span. */
  private def countOf(df: => DataFrame): Long = {
    val d = tracer.span("build") { val d = df; d.queryExecution.executedPlan; d }
    tracer.span("run")(d.count())
  }

  private def pass(phase: Option[String]): Unit = order.foreach {
    case Query(module, name) =>
      res.family(s"q:$name") = module
      val fn = SparkEntry.queries(name)
      timed(s"q:$name", phase, Some(name), latency = true)(
        countOf(fn(spark, tables)))
      spark.catalog.clearCache()
    case st: Store =>
      val before = if (tracer.enabled) files() else Map.empty[String, Long]
      timed(s"store:${st.name}:write", phase, None, latency = false) {
        st.ingest(spark, tables); 0L
      }
      if (tracer.enabled) {
        val written = files().filter { case (p, _) => !before.contains(p) }
        res.add(s"store.${st.name}.files_written", written.size.toDouble)
        res.add(s"store.${st.name}.bytes_written", written.values.sum.toDouble)
        res.add(s"store.${st.name}.input_bytes",
          files(Path.of(tables, s"${st.input}.parquet")).values.sum.toDouble)
      }
      timed(s"store:${st.name}:read", phase, Some(st.oracleOf),
          latency = false)(countOf(st.search(spark, tables)))
      spark.catalog.clearCache()
  }

  private def files(root: Path = warehouse): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def close(): Unit = ()
}

object AnalyticsMix {
  /** A unit of the pass: one query, or one store's ingest then search. */
  sealed trait Step
  final case class Query(module: String, name: String) extends Step
  final case class Store(name: String, input: String,
      ingest: (SparkSession, String) => Unit,
      search: (SparkSession, String) => DataFrame, oracleOf: String) extends Step

  /** Table scale: 0.01 is the size the repository's oracle gate uses. */
  val Scale = 0.01

  /** (registry module, query). First the heavy queries the analytics
    * work is bound by (iteration, self-join fan-out, shuffle, the store
    * lifecycle). Then, for every module, the query with an oracle and a
    * non-empty result whose time is nearest the module's median in one
    * timed pass of all 294 registry queries over these tables (registry
    * median 0.29 s per query on a 4-core host), so per-query fixed cost
    * (planning, job scheduling, small writes) weighs as in the registry.
    * Latency is sampled over these queries only: store phases, the most
    * host-sensitive operations, sat at the rank the tail percentile
    * reads and flipped it between runs. */
  val Queries: Seq[(String, String)] = Seq(
    "graph" -> "q_graph_pagerank", "dedup" -> "q_dedup_ngram_jaccard",
    "pipeline" -> "q_dns_pipeline_full", "relational" -> "q_join_interval",
    "relational" -> "q_agg_basket", "text" -> "q_text_bm25_reingested",
    "relational" -> "q_grouping_sets", "text" -> "q_text_zipf",
    "scalar" -> "q_scalar_math", "window" -> "q_window_interval_pack",
    "event" -> "q_events_funnel", "prep" -> "q_prep_rendezvous",
    "cdc" -> "q_cdc_apply", "scd2" -> "q_scd2_orders", "ts" -> "q_ts_xcorr",
    "stats" -> "q_stats_sprt", "rankstats" -> "q_stats_conformal",
    "multimodal" -> "q_multimodal_entropy", "similarity" -> "q_sim_ivfpq_topk")
}
