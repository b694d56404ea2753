package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, LinkOption, Path}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer accounting for a traced run: Spark listeners registered by
  * the benchmark itself, counters read as differences around each timed
  * operation. Every counter is a running total; an operation's share is
  * `after - before`, read once the listener bus has drained, so the
  * single-threaded closed loop attributes every job to the operation
  * that ran it. Untraced runs construct none of this. */
final class Trace(spark: SparkSession) {
  import Trace._
  private val sc = spark.sparkContext

  /** Running totals, all touched only on the listener thread. */
  final class Totals {
    var jobs, stages, tasks = 0L
    var shuffleBytes, spillBytes = 0L
    var taskRunMs, taskCpuNs = 0L
    var jobWallMs = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var scanRows, scanFiles = 0L
    val progress = mutable.ArrayBuffer.empty[Progress]
  }

  private val t = new Totals
  private var activeJobs = 0
  private var wallStart = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = t.synchronized {
      t.jobs += 1
      if (activeJobs == 0) wallStart = e.time
      activeJobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = t.synchronized {
      activeJobs -= 1
      if (activeJobs == 0) t.jobWallMs += e.time - wallStart
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      t.synchronized { t.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val found = scans(qe.executedPlan)
      t.synchronized {
        t.analysisMs += ms("analysis")
        t.optimizationMs += ms("optimization")
        t.planningMs += ms("planning")
        found.foreach { s =>
          t.scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          t.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      t.synchronized { t.progress += Progress(d, p.numInputRows) }
    }
  }

  /** File scans of a finished plan, through adaptive stages and reuse. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case s: FileSourceScanExec => Seq(s)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def snap(): Snap = {
    org.apache.spark.perfbench.Bus.drain(sc)
    t.synchronized {
      Snap(t.jobs, t.stages, t.tasks, t.shuffleBytes, t.spillBytes,
        t.taskRunMs, t.taskCpuNs, t.jobWallMs, t.analysisMs,
        t.optimizationMs, t.planningMs, t.scanRows, t.scanFiles,
        t.progress.size)
    }
  }

  def progressSince(n: Int): Seq[Progress] =
    t.synchronized { t.progress.drop(n).toList }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** One streaming progress event: phase durations and input rows. */
  final case class Progress(durationMs: Map[String, Long], rows: Long)

  /** Counter values at one instant, after the bus has caught up. */
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
                        shuffleBytes: Long, spillBytes: Long,
                        taskRunMs: Long, taskCpuNs: Long, jobWallMs: Long,
                        analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, scanRows: Long, scanFiles: Long,
                        nProgress: Int)
}

/** Directory walks of a warehouse root: what one operation committed,
  * wrote and carried over by hard link. */
object WarehouseWalk {

  /** One regular file: its identity on disk (inode) and size. */
  final case class FileEntry(key: AnyRef, size: Long)
  final case class Listing(files: Map[Path, FileEntry], dirs: Set[Path])

  def list(root: Path): Listing = {
    val files = mutable.Map.empty[Path, FileEntry]
    val dirs = mutable.Set.empty[Path]
    if (Files.isDirectory(root)) {
      val s = Files.walk(root)
      // a running stream may commit (and delete superseded generations)
      // while the walk runs: a path that vanished is skipped, and a
      // directory that vanished mid-walk ends the walk early
      try s.iterator().asScala.foreach { p =>
        try {
          val a = Files.readAttributes(p, classOf[BasicFileAttributes],
            LinkOption.NOFOLLOW_LINKS)
          if (a.isDirectory) dirs += p
          else if (a.isRegularFile) files(p) = FileEntry(a.fileKey(), a.size())
        } catch { case _: java.nio.file.NoSuchFileException => () }
      } catch { case _: java.io.UncheckedIOException => ()
      } finally s.close()
    }
    Listing(files.toMap, dirs.toSet)
  }

  /** Bytes on disk under `root`, each inode counted once. */
  def bytes(root: Path): Long =
    list(root).files.values.map(f => f.key -> f.size).toMap.values.sum

  final case class Delta(commits: Long, filesWritten: Long,
                         bytesWritten: Long, filesLinked: Long)

  private val GenDir = "g\\d{9}".r
  private val CatalogVersion = "v\\d+".r

  def delta(before: Listing, after: Listing): Delta = {
    val oldKeys = before.files.values.map(_.key).toSet
    val newFiles = after.files.filter { case (p, _) => !before.files.contains(p) }
    val (linked, written) = newFiles.partition { case (_, f) => oldKeys(f.key) }
    val newGens = (after.dirs -- before.dirs).count(d =>
      GenDir.matches(d.getFileName.toString))
    val newVersions = newFiles.keys.count(p =>
      p.getParent.getFileName.toString == "_catalog" &&
        CatalogVersion.matches(p.getFileName.toString))
    Delta(newGens + newVersions, written.size,
      written.values.map(_.size).sum, linked.size)
  }
}
