package perfbench

import graft.etl.{Pipeline, Warehouse}
import graft.query.Measurements
import graft.schema.Schemas
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The benchmark's own tests: every check passes on the program's real
  * output and reports a mismatch once that output is corrupted in one
  * place. Run through `python3 perfbench/test_checks.py`. */
object CheckTests {
  private var failures = 0

  private def expect(name: String, mismatches: Seq[String], wantMismatch: Boolean): Unit = {
    val ok = mismatches.nonEmpty == wantMismatch
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name" +
      (if (mismatches.nonEmpty) s" — ${mismatches.head}" else ""))
  }

  def main(argv: Array[String]): Unit = {
    val dir = Files.createTempDirectory(Path.of(argv.headOption.getOrElse(".")).toAbsolutePath, "checktests")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      warehouseChecks(spark, dir)
      streamChecks(spark, dir)
    } finally spark.stop()
    println(if (failures == 0) "all check tests passed" else s"$failures check tests FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** Clinical jobs through the real pipeline; then the warehouse, quality
    * report, `/api/data` and view checks on the true output, and on
    * outputs corrupted in one place. */
  private def warehouseChecks(spark: SparkSession, dir: Path): Unit = {
    val jobs = Clinical.jobs(5L, Seq(120, 80), "t_")
    val expected = Clinical.expected(jobs)
    val files = ClinicalIo.writeJobs(dir.resolve("input"), jobs)
    val wh = new Warehouse(spark, dir.resolve("wh").toString)
    val p = new Pipeline(spark, wh)
    val ids = jobs.indices.map(i => ClinicalIo.jobId(5L, "t", i))
    files.zip(ids).foreach { case (f, id) => p.processJob(id, f.toString) }
    def check() = ClinicalChecks.warehouse(spark, wh, expected, ids)
    expect("clinical warehouse matches the model", check(), wantMismatch = false)

    val reports = wh.read("data_quality_reports", Schemas.qualityReports).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    expect("a wrong rule count is noticed", Checks.qualityReports(
      reports.updated(reports.keys.min, reports(reports.keys.min) + 1), ids, expected.rules),
      wantMismatch = true)

    val staging = wh.read("staging_clinical_measurements", Schemas.staging)
    val f = Clinical.Filter(Some("STUDY001"), None, None, None, None)
    val top = ClinicalApi.data(staging, f)
    val wantTop = Clinical.topK(expected.stagingRows, f, Measurements.ResultCap)
    expect("an /api/data top-k matches", Checks.topK(top, wantTop).toSeq, wantMismatch = false)
    expect("an unordered top-k is noticed", Checks.topK(top.reverse, wantTop).toSeq, wantMismatch = true)
    expect("a top-k missing a row is noticed", Checks.topK(top.tail, wantTop).toSeq, wantMismatch = true)

    val wantViews = Clinical.views(expected)
    val views = wantViews.keys.toSeq.sorted.map { name =>
      name -> ClinicalApi.viewFrame(name, (t, s) => wh.read(t, s)).collect() }.toMap
    expect("the six views match", views.toSeq.flatMap { case (name, rows) =>
      Checks.view(name, ClinicalApi.summarize(name, rows), wantViews(name)) }, wantMismatch = false)
    expect("a view missing a row is noticed", Checks.view("low_quality",
      ClinicalApi.summarize("low_quality", views("low_quality").tail), wantViews("low_quality")).toSeq,
      wantMismatch = true)

    val processed = wh.read("processed_measurements", Schemas.processed).cache()
    val victim = processed.orderBy("id").limit(1)
    wh.replace("processed_measurements",
      processed.join(victim.select("id"), Seq("id"), "left_anti")
        .select(Schemas.processed.fieldNames.toSeq.map(col): _*),
      partitionBy = Seq("study_id"))
    expect("one dropped processed row is noticed", check(), wantMismatch = true)
    wh.replace("processed_measurements", processed, partitionBy = Seq("study_id"))
    processed.unpersist()

    val aggs = wh.read("measurement_aggregations", Schemas.aggregations).cache()
    aggs.count()
    val first = aggs.orderBy("study_id", "participant_id", "site_id", "measurement_type")
      .select("study_id", "participant_id", "site_id", "measurement_type").head()
    val hit = (0 until 4).map(i => col(first.schema.fieldNames(i)) === first.getString(i)).reduce(_ && _)
    wh.replace("measurement_aggregations",
      aggs.withColumn("min_num", when(hit, col("min_num") - lit(1)).otherwise(col("min_num"))
        .cast(Schemas.ValueDecimal)).select(Schemas.aggregations.fieldNames.toSeq.map(col): _*),
      partitionBy = Seq("study_id"))
    expect("one wrong aggregate min is noticed", check(), wantMismatch = true)
  }

  /** One wave through the three real streaming sinks (the workload's
    * warm-up wave); then the stream checks on what they committed, and
    * on that output corrupted in one place. */
  private def streamChecks(spark: SparkSession, dir: Path): Unit = {
    val runDir = dir.resolve("stream-run")
    val r = new Runner(spark, Args("stream_sinks", 9L, 1, trace = false, runDir,
      runDir.resolve("result.json"), 2))
    val sinks = new StreamSinks(r)
    sinks.setup()
    val out = sinks.finish()
    val docs = sinks.deliveredDocs
    def verify(o: StreamSinks.Outputs) = StreamSinks.verify(o, docs, sinks.GapMs)
    val planted = docs.flatMap(d => d.copyOf.map(d.id -> _)).toMap
    val copy = planted.keys.min

    expect("stream sinks' output passes", verify(out), wantMismatch = false)
    expect("one duplicated routed doc is noticed",
      verify(out.copy(routed = out.routed :+ out.routed.head)), wantMismatch = true)
    expect("a near-duplicate outside its original's split is noticed",
      verify(out.copy(routed = out.routed.map { case (d, s) =>
        d -> (if (d != copy) s else if (s == "test") "train" else "test") })), wantMismatch = true)
    expect("a kept near-duplicate is noticed",
      verify(out.copy(kept = out.kept :+ copy)), wantMismatch = true)
    expect("a dropped original is noticed",
      verify(out.copy(kept = out.kept.filterNot(_ == planted(copy)))), wantMismatch = true)
    expect("a lost session event is noticed", verify(out.copy(sessions =
      out.sessions.updated(0, out.sessions.head.copy(_4 = out.sessions.head._4 - 1)))),
      wantMismatch = true)
  }
}
