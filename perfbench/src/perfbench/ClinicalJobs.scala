package perfbench

import graft.etl.{Pipeline, Warehouse}
import graft.schema.Schemas
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.UUID
import scala.collection.mutable

/** Shared by both clinical workloads: write a job sequence as CSV files
  * and push it through `Pipeline.processJob`. */
object ClinicalIo {

  def writeJobs(dir: Path, jobs: Seq[Clinical.Job]): Seq[Path] = {
    Files.createDirectories(dir)
    jobs.map { j =>
      val p = dir.resolve(j.file)
      Files.write(p, Clinical.csv(j).getBytes(UTF_8))
      p
    }
  }

  def jobId(seed: Long, tag: String, i: Int): String =
    UUID.nameUUIDFromBytes(s"$seed/$tag/$i".getBytes(UTF_8)).toString

  /** The stage boundaries `Pipeline.onProgress` reports, in order, and
    * the per-layer metric each gap feeds. */
  val Stages: Seq[(Int, String)] = Seq(10 -> "etl.status_ms", 30 -> "etl.ingest_ms",
    45 -> "etl.staging_ms", 65 -> "etl.dims_ms", 75 -> "etl.transform_ms",
    90 -> "etl.quality_ms", 100 -> "etl.aggregate_ms")
}

/** `clinical_jobs`: a seeded sequence of CSV jobs, many small files and a
  * few large ones, run through `Pipeline.processJob` into one fresh
  * warehouse per round. Every round runs the same files, so every round
  * does the same work. */
final class ClinicalJobs(r: Runner) extends Workload {
  import ClinicalIo._

  /** Rows per job file in one round. An assumption: the repository holds
    * no sample of real upload sizes, only the reference's 1-12-row test
    * fixtures (FIXTURES.md). Four small files, where the per-job fixed
    * cost dominates, and one 2000-row file, where the data path shows. */
  val Sizes: Seq[Int] = Seq(60, 2000, 40, 150, 90)
  val WarmupSizes: Seq[Int] = Seq(300)

  private val seed = r.args.seed
  private val base = r.args.runDir
  private val jobs = Clinical.jobs(seed, Sizes, "upload_")
  private val expected = Clinical.expected(jobs)
  private var files: Seq[Path] = Nil
  /** (round, job index, result) of every timed job. */
  private val results = mutable.ArrayBuffer.empty[(Int, Int, Pipeline.JobResult)]
  private val roundRoots = mutable.ArrayBuffer.empty[Path]

  def roundSeconds: Double = 14.5
  def storeRoot: Path = roundRoots.last

  override def context: Map[String, Any] = Map(
    "job_rows" -> Sizes, "rows_per_round" -> Sizes.sum,
    "processed_rows_per_round" -> expected.processed.size)

  private val marks = mutable.ArrayBuffer.empty[(Int, Long)]
  private def pipeline(wh: Warehouse) = new Pipeline(r.spark, wh,
    onProgress = if (r.trace.isEmpty) (_, _, _) => ()
    else (_, pct, _) => marks += (pct -> System.nanoTime()))

  def setup(): Unit = {
    files = writeJobs(base.resolve("input"), jobs)
    // untimed warm-up: the same code path on a smaller sequence, into a
    // throwaway warehouse (codegen, JIT, file-source and commit paths)
    val warm = Clinical.jobs(seed + 1, WarmupSizes, "warmup_")
    val warmFiles = writeJobs(base.resolve("warmup-input"), warm)
    val p = pipeline(new Warehouse(r.spark, base.resolve("wh-warmup").toString))
    warmFiles.zipWithIndex.foreach { case (f, i) =>
      r.op("job")(p.processJob(jobId(seed, "warm", i), f.toString))(_ => 0L)
    }
  }

  def round(n: Int): Unit = {
    val root = base.resolve(s"wh-round$n")
    roundRoots += root
    val p = pipeline(new Warehouse(r.spark, root.toString))
    files.zipWithIndex.foreach { case (f, i) =>
      val res = r.op("job", walk = Some(root)) {
        marks.clear()
        val t0 = System.nanoTime()
        val out = p.processJob(jobId(seed, s"r$n", i), f.toString)
        var prev = t0
        Stages.foreach { case (pct, name) =>
          marks.find(_._1 == pct).foreach { case (_, t) =>
            r.sample(name, (t - prev) / 1e6); prev = t }
        }
        out
      }(res => if (res.status == "completed") jobs(i).rows.size.toLong else 0L)
      res.foreach(x => results += ((n, i, x)))
    }
  }

  def check(): Unit = {
    results.foreach { case (n, i, res) =>
      if (res.status != "completed")
        r.fail(s"round $n job $i: ${res.status} ${res.message.getOrElse("")}")
      else if (res.stagedRows != expected.staged(i) || res.processedRows != expected.landed(i))
        r.fail(s"round $n job $i: staged ${res.stagedRows} landed ${res.processedRows}, " +
          s"expected ${expected.staged(i)} / ${expected.landed(i)}")
    }
    roundRoots.zipWithIndex.foreach { case (root, n) =>
      val wh = new Warehouse(r.spark, root.toString)
      ClinicalChecks.warehouse(r.spark, wh, expected,
        (0 until jobs.size).map(i => jobId(seed, s"r$n", i))).foreach(m => r.fail(s"round $n: $m"))
    }
  }
}

/** Warehouse-content checks shared by the clinical workloads. Each
  * returns the list of mismatches it found. */
object ClinicalChecks {
  import org.apache.spark.sql.SparkSession

  def warehouse(spark: SparkSession, wh: Warehouse, e: Clinical.Expected,
                jobIds: IndexedSeq[String]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val staged = wh.read("staging_clinical_measurements", Schemas.staging).count()
    if (staged != e.stagingRows.size)
      out += s"staging rows $staged, expected ${e.stagingRows.size}"
    val processed = wh.read("processed_measurements", Schemas.processed).count()
    if (processed != e.processed.size)
      out += s"processed rows $processed, expected ${e.processed.size}"
    val reports = wh.read("data_quality_reports", Schemas.qualityReports).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    out ++= Checks.qualityReports(reports, jobIds, e.rules)
    val aggs = wh.read("measurement_aggregations", Schemas.aggregations)
      .select(col("study_id"), col("participant_id"), col("site_id"),
        col("measurement_type"), col("cnt"), col("avg_num"), col("min_num"), col("max_num"))
      .collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ->
          Clinical.Agg(r.getLong(4), BigDecimal(r.getDecimal(5)),
            BigDecimal(r.getDecimal(6)), BigDecimal(r.getDecimal(7)))
      }.toMap
    out ++= Checks.aggregates(aggs, e.aggregates)
    val jobs = wh.read("etl_jobs", Schemas.etlJobs).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    jobIds.foreach { id =>
      if (!jobs.get(id).contains("completed")) out += s"etl_jobs $id: ${jobs.get(id)}"
    }
    out.toSeq
  }
}
