package perfbench

import graft.queries.{Oracles, TestdataQueries}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `driver_queries`: a fixed list of driver queries over generated tables,
  * run in repeated passes with shared stages off (each query builds its
  * whole plan, as the oracle check runs it). One op is one query: the
  * call that builds the DataFrame, then a `count()` action. The untimed
  * warm-up is a pass that writes every result as parquet, then
  * [[WarmupPasses]] passes of `count()`s; after the run, DuckDB runs each
  * query's oracle SQL over the same parquet tables and the launcher
  * compares (see oracle.py). */
final class DriverQueries(r: Runner) extends Workload {

  /** Spans the operator families: scans, filters, top-k, joins, anti and
    * semi joins, windows, rollups and cubes, pivots, distinct and salted
    * aggregates, the as-of and range joins (native plan), the funnel and
    * sessionize operators over events, and the text operators (token
    * stats, MinHash) and per-group quantiles (a rankStatistics query). */
  val Queries: Seq[String] = Seq(
    "q01_scan_project", "q03_topk", "q06_agg_multi", "q07_date_trend",
    "q09_anti_join", "q12_join_revenue", "q13_semi_join", "q14_row_number",
    "q22_sessionize", "q23_rollup", "q24_distinct_agg", "q25_salted_agg",
    "q26_asof_join", "q27_range_join", "q42_token_stats",
    "q44_minhash_portable", "q50_analytic_windows", "q51_pivot", "q57_cube",
    "q107_funnel", "q144_group_quantiles")

  val Sf = 0.01
  val WarmupPasses = 4

  private val dataDir = r.args.runDir.resolve("data")
  private val oracleDir = r.args.runDir.resolve("oracle")
  private val fns = Queries.map(q => q -> TestdataQueries.all(q))
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private var rows: Map[String, Long] = Map.empty

  def roundSeconds: Double = 2.7
  def storeRoot: Path = dataDir

  override def context: Map[String, Any] = Map("sf" -> Sf, "queries" -> Queries,
    "warmup_passes" -> WarmupPasses,
    "table_rows" -> rows, "data_dir" -> dataDir.toString)

  def setup(): Unit = {
    rows = TestdataGen.write(r.spark, dataDir.toString, Sf, r.args.seed)
    // untimed warm-up: one pass writing every result (the outputs the
    // oracle checks), then passes of the timed action until the JIT has
    // compiled the planning and scheduling paths; with one pass, the
    // timed passes still got faster one after another
    fns.foreach { case (q, fn) =>
      fn(r.spark, dataDir.toString).write.mode("overwrite")
        .parquet(oracleDir.resolve("results").resolve(q).toString)
      r.spark.catalog.clearCache()
    }
    (1 to WarmupPasses).foreach { _ =>
      fns.foreach { case (_, fn) =>
        fn(r.spark, dataDir.toString).count()
        r.spark.catalog.clearCache()
      }
    }
  }

  def round(n: Int): Unit = fns.foreach { case (q, fn) =>
    r.op("query") {
      val t0 = System.nanoTime()
      val df = fn(r.spark, dataDir.toString)
      val t1 = System.nanoTime()
      val c = df.count()
      r.sample("queries.build_ms", (t1 - t0) / 1e6)
      r.sample("queries.action_ms", (System.nanoTime() - t1) / 1e6)
      c
    }(_ => 1L).foreach(c => counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += c)
    r.spark.catalog.clearCache()
  }

  /** Writes what the launcher's oracle check reads; the comparison
    * itself runs in DuckDB after this JVM exits. */
  def check(): Unit = {
    val sql = Queries.map(q => q -> Oracles.all.getOrElse(q,
      throw new IllegalStateException(s"$q has no oracle SQL"))).toMap
    Files.createDirectories(oracleDir)
    Files.write(oracleDir.resolve("oracle_sql.json"), Stats.json(sql).getBytes(UTF_8))
    Files.write(oracleDir.resolve("counts.json"),
      Stats.json(counts.map { case (q, cs) => q -> cs.toList }).getBytes(UTF_8))
  }
}
