package perfbench

import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Command-line settings of one benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, runDir: Path, out: Path, cpus: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", Paths.get(req("run-dir")).toAbsolutePath,
      Paths.get(req("out")).toAbsolutePath, req("cpus").toInt)
  }
}

/** One workload: untimed set-up, whole rounds of timed operations run
  * through [[Runner.op]], then checks against independently computed
  * expectations. */
trait Workload {
  /** Untimed: inputs, preload, warm-up. */
  def setup(): Unit
  /** One whole round of timed operations. */
  def round(r: Int): Unit
  /** After the timed region: compare outputs with the expectations and
    * report each wrong operation through [[Runner.fail]]. */
  def check(): Unit
  /** Planned length of one round on the reference host (4 cores). A run
    * of `--seconds` makes ceil(seconds / roundSeconds) rounds: a fixed
    * amount of work, so a faster or slower host changes the timings but
    * never how many (and how warm) the timed operations are. */
  def roundSeconds: Double
  /** Directory whose bytes on disk `store_mb` reports. */
  def storeRoot: Path
  /** Extra context recorded with the result (input sizes, scale). */
  def context: Map[String, Any] = Map.empty
}

/** The timed loop and every metric it reports. */
final class Runner(val spark: SparkSession, val args: Args) {
  val trace: Option[Trace] = if (args.trace) Some(new Trace(spark)) else None

  private var timing = false
  private var firstOpAtMs = 0L
  private val opMs = mutable.ArrayBuffer.empty[Double]
  private val opLog = mutable.ArrayBuffer.empty[String]
  private var units = 0L
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Per-layer samples, keyed by metric name. */
  val layer: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def sample(name: String, v: Double): Unit =
    if (timing) layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  private def add(name: String, v: Double): Unit = sums(name) += v

  /** Record a wrong outcome found by a check. */
  def fail(what: String): Unit = { failed += 1; failures += what }

  /** Run one operation. Timed (and counted as attempted) only inside the
    * timed region; warm-up calls go through the same path untimed. An
    * exception counts the operation as failed. `walk` names the
    * warehouse root a traced run diffs around the operation. */
  def op[T](kind: String, walk: Option[Path] = None)(body: => T)
           (units: T => Long): Option[T] = {
    val traced = timing && trace.isDefined
    val before = if (traced) trace.map(_.snap()) else None
    val listing = if (traced) walk.map(WarehouseWalk.list) else None
    if (timing && firstOpAtMs == 0L) firstOpAtMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timing) {
      attempted += 1
      res match {
        case Some(v) => opMs += ms; this.units += units(v); opLog += f"$kind%s:$ms%.0f"
        case None => failed += 1; failures += s"$kind threw"
      }
      sample(s"kind.$kind.ms", ms)
      for (tr <- trace; b <- before) {
        val a = tr.snap()
        add("spark.jobs", a.jobs - b.jobs)
        add("spark.stages", a.stages - b.stages)
        add("spark.tasks", a.tasks - b.tasks)
        add("spark.shuffle_bytes", a.shuffleBytes - b.shuffleBytes)
        add("spark.spill_bytes", a.spillBytes - b.spillBytes)
        add("spark.task_run_ms", a.taskRunMs - b.taskRunMs)
        add("spark.task_cpu_ms", (a.taskCpuNs - b.taskCpuNs) / 1e6)
        add("spark.job_wall_ms", a.jobWallMs - b.jobWallMs)
        add("spark.driver_gap_ms", ms - (a.jobWallMs - b.jobWallMs))
        add("catalyst.analysis_ms", a.analysisMs - b.analysisMs)
        add("catalyst.optimization_ms", a.optimizationMs - b.optimizationMs)
        add("catalyst.planning_ms", a.planningMs - b.planningMs)
        add(s"scan.rows.$kind", a.scanRows - b.scanRows)
        add(s"scan.files.$kind", a.scanFiles - b.scanFiles)
        tr.progressSince(b.nProgress).foreach { p =>
          def d(k: String) = p.durationMs.getOrElse(k, 0L).toDouble
          sample("stream.add_batch_ms", d("addBatch"))
          sample("stream.get_batch_ms", d("getBatch"))
          sample("stream.query_planning_ms", d("queryPlanning"))
          sample("stream.wal_commit_ms", d("walCommit"))
          sample("stream.trigger_ms", d("triggerExecution"))
          sample("stream.rows_per_batch", p.rows.toDouble)
        }
        for (l0 <- listing; root <- walk) {
          val dlt = WarehouseWalk.delta(l0, WarehouseWalk.list(root))
          add("warehouse.commits", dlt.commits)
          add("warehouse.files_written", dlt.filesWritten)
          add("warehouse.bytes_written", dlt.bytesWritten)
          add("warehouse.files_linked", dlt.filesLinked)
        }
      }
    }
    res
  }

  /** Count a result row total for the `scan.rows_per_result` ratio. */
  def resultRows(kind: String, n: Long): Unit = if (timing) add(s"result.rows.$kind", n)

  /** Seconds since the JVM started at each phase boundary, in the JVM log
    * and in the result's context, so a stall shows where it happened. */
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private def phase(name: String): Unit = {
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    phases(name) = s
    System.err.println(f"[perfbench] $name%s at $s%.1f s")
  }

  def run(w: Workload): Map[String, Any] = {
    phase("session ready")
    w.setup()
    phase("setup done")
    timing = true
    val mx = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum
    val gc0 = gcMs
    // per round: wall seconds, units per second of op latency, process
    // CPU ms per op; the reported figures are medians over rounds, so a
    // host stall inside one round moves none of them
    val roundS, roundRate, roundCpu = mutable.ArrayBuffer.empty[Double]
    val r = math.max(1, math.ceil(args.seconds / w.roundSeconds).toInt)
    (0 until r).foreach { n =>
      val (ops0, units0, cpu0) = (opMs.size, units, mx.getProcessCpuTime)
      val rs = System.nanoTime()
      w.round(n)
      roundS += (System.nanoTime() - rs) / 1e9
      val ops = opMs.size - ops0
      val opS = opMs.view.drop(ops0).sum / 1000.0
      roundRate += (if (opS > 0) (units - units0) / opS else 0.0)
      roundCpu += (mx.getProcessCpuTime - cpu0) / 1e6 / math.max(1, ops)
    }
    val gcDelta = (gcMs - gc0).toDouble
    timing = false
    val heapMb = liveHeapMb()
    val storeMb = WarehouseWalk.bytes(w.storeRoot) / 1048576.0
    trace.foreach(_.close())
    phase("timed region done")
    w.check()
    phase("checks done")

    val ops = math.max(1L, opMs.size.toLong)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> ((firstOpAtMs - jvmStart) / 1000.0, "s"),
      "op_ms.p50" -> (Stats.median(opMs.toSeq), "ms"),
      "op_ms.p90" -> (Stats.quantile(opMs.toSeq, 0.9), "ms"),
      "units_per_s" -> (Stats.median(roundRate.toSeq), "1/s"),
      "round_s" -> (Stats.median(roundS.toSeq), "s"),
      "cpu_ms_per_op" -> (Stats.median(roundCpu.toSeq), "ms"),
      "live_heap_mb" -> (heapMb, "MB"),
      "store_mb" -> (storeMb, "MB"))
    val metrics =
      if (!args.trace) endToEnd
      else perLayer(ops, gcDelta)
    Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failures" -> failures.take(20).toList,
      "rounds" -> r,
      "ops" -> opMs.size,
      "op_log" -> opLog.toList,
      "phases_s" -> phases.toMap,
      "units" -> units)
  }

  /** Heap in use after a full collection: the post-GC usage of every
    * heap pool, read after two collections with a pause between them so
    * finalizers and Spark's context cleaner can release what they hold. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def p50(name: String) = Stats.median(layer.get(name).map(_.toSeq).getOrElse(Nil))

  /** Every per-layer metric. A layer this workload does not exercise
    * reads 0. */
  private def perLayer(ops: Long, gcMs: Double): Map[String, (Double, String)] = {
    def perOp(k: String) = sums(k) / ops
    def kinds(prefix: String) = sums.keys.filter(_.startsWith(prefix))
    val resultRows = kinds("result.rows.").map(sums).sum
    val readKinds = kinds("result.rows.").map(_.stripPrefix("result.rows.")).toSet
    val scanRows = readKinds.toSeq.map(k => sums(s"scan.rows.$k")).sum
    val scanFiles = readKinds.toSeq.map(k => sums(s"scan.files.$k")).sum
    val reads = readKinds.toSeq.map(k => layer.get(s"kind.$k.ms").map(_.size).getOrElse(0)).sum
    Map(
      "etl.status_ms" -> (p50("etl.status_ms"), "ms"),
      "etl.ingest_ms" -> (p50("etl.ingest_ms"), "ms"),
      "etl.staging_ms" -> (p50("etl.staging_ms"), "ms"),
      "etl.dims_ms" -> (p50("etl.dims_ms"), "ms"),
      "etl.transform_ms" -> (p50("etl.transform_ms"), "ms"),
      "etl.quality_ms" -> (p50("etl.quality_ms"), "ms"),
      "etl.aggregate_ms" -> (p50("etl.aggregate_ms"), "ms"),
      "warehouse.commits_per_op" -> (perOp("warehouse.commits"), "count"),
      "warehouse.files_written_per_op" -> (perOp("warehouse.files_written"), "count"),
      "warehouse.bytes_written_per_op" -> (perOp("warehouse.bytes_written"), "bytes"),
      "warehouse.files_linked_per_op" -> (perOp("warehouse.files_linked"), "count"),
      "warehouse.read_resolve_ms" -> (p50("warehouse.read_resolve_ms"), "ms"),
      "api.data_ms.p50" -> (p50("kind.data.ms"), "ms"),
      "api.view_ms.p50" -> (p50("kind.view.ms"), "ms"),
      "api.status_ms.p50" -> (p50("kind.status.ms"), "ms"),
      "sql.catalog_ms.p50" -> (p50("kind.sql.ms"), "ms"),
      "scan.rows_per_result" -> (if (resultRows > 0) scanRows / resultRows else 0.0, "ratio"),
      "scan.files_per_read" -> (if (reads > 0) scanFiles / reads else 0.0, "count"),
      "queries.build_ms" -> (p50("queries.build_ms"), "ms"),
      "queries.action_ms" -> (p50("queries.action_ms"), "ms"),
      "spark.jobs_per_op" -> (perOp("spark.jobs"), "count"),
      "spark.stages_per_op" -> (perOp("spark.stages"), "count"),
      "spark.tasks_per_op" -> (perOp("spark.tasks"), "count"),
      "spark.shuffle_bytes_per_op" -> (perOp("spark.shuffle_bytes"), "bytes"),
      "spark.spill_bytes_per_op" -> (perOp("spark.spill_bytes"), "bytes"),
      "spark.task_run_ms_per_op" -> (perOp("spark.task_run_ms"), "ms"),
      "spark.task_cpu_ms_per_op" -> (perOp("spark.task_cpu_ms"), "ms"),
      "spark.job_wall_ms_per_op" -> (perOp("spark.job_wall_ms"), "ms"),
      "spark.driver_gap_ms_per_op" -> (perOp("spark.driver_gap_ms"), "ms"),
      "catalyst.analysis_ms_per_op" -> (perOp("catalyst.analysis_ms"), "ms"),
      "catalyst.optimization_ms_per_op" -> (perOp("catalyst.optimization_ms"), "ms"),
      "catalyst.planning_ms_per_op" -> (perOp("catalyst.planning_ms"), "ms"),
      "stream.add_batch_ms.p50" -> (p50("stream.add_batch_ms"), "ms"),
      "stream.get_batch_ms.p50" -> (p50("stream.get_batch_ms"), "ms"),
      "stream.query_planning_ms.p50" -> (p50("stream.query_planning_ms"), "ms"),
      "stream.wal_commit_ms.p50" -> (p50("stream.wal_commit_ms"), "ms"),
      "stream.trigger_ms.p50" -> (p50("stream.trigger_ms"), "ms"),
      "stream.rows_per_batch" -> (p50("stream.rows_per_batch"), "count"),
      "jvm.gc_ms_per_op" -> (gcMs / ops, "ms"))
  }
}

object Main {
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "40")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.runDir.resolve("spark-warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, r: Runner): Workload = name match {
    case "clinical_jobs" => new ClinicalJobs(r)
    case "clinical_api" => new ClinicalApi(r)
    case "driver_queries" => new DriverQueries(r)
    case "stream_sinks" => new StreamSinks(r)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.runDir)
    val spark = session(a)
    val code = try {
      val r = new Runner(spark, a)
      val w = workload(a.workload, r)
      val res = r.run(w)
      val ctx = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "cpus" -> a.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark" -> spark.version) ++ w.context
      Files.write(a.out, Stats.json(res + ("context" -> ctx)).getBytes(UTF_8))
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }
}
