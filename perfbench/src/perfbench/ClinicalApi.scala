package perfbench

import graft.etl.{Pipeline, Warehouse}
import graft.query.{Measurements, Views}
import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType
import java.nio.file.Path
import java.sql.Timestamp
import scala.collection.mutable

/** `clinical_api`: a warehouse preloaded during set-up, then a seeded
  * closed loop of reads and no writes — `/api/data` reads
  * (`Measurements.query` + `toDto`), the six `Views`, `Pipeline.jobStatus`
  * lookups, and the `/api/data` filters sent as SQL through the graft
  * catalog. One round is [[OpsPerRound]] reads; every round repeats the
  * same list, so every round does the same work. */
final class ClinicalApi(r: Runner) extends Workload {
  import ClinicalApi._
  import ClinicalIo._

  /** Rows preloaded, as one job. An assumption: the repository holds no
    * size of a real study's warehouse. 8000 rows make the reads scan real
    * data (more than one file) and keep the preload near 7 s. */
  val PreloadSizes: Seq[Int] = Seq(8000)
  val OpsPerRound = 24
  /** Untimed rounds before timing. The timed rounds of a run still get
    * slowly faster after six, and after twelve; twelve did not narrow the
    * spread between runs, which the host's speed sets, so it stays six. */
  val WarmupRounds = 6

  private val seed = r.args.seed
  private val root = r.args.runDir.resolve("wh-api")
  private val jobs = Clinical.jobs(seed, PreloadSizes, "preload_")
  private val expected = Clinical.expected(jobs)
  private val expectedViews = Clinical.views(expected)
  private val jobIds = jobs.indices.map(i => jobId(seed, "preload", i))
  /** A well-formed id of no job: the status lookup's not-found path. */
  private val unknownId = jobId(seed, "unknown", 0)
  private lazy val wh = new Warehouse(r.spark, root.toString)
  private lazy val pipeline = new Pipeline(r.spark, wh)

  def roundSeconds: Double = 1.25
  def storeRoot: Path = root

  override def context: Map[String, Any] = Map(
    "preload_job_rows" -> PreloadSizes, "ops_per_round" -> OpsPerRound,
    "warmup_rounds" -> WarmupRounds,
    "staging_rows" -> expected.stagingRows.size,
    "processed_rows" -> expected.processed.size)

  /** The read list of one round. Its make-up is fixed — half
    * `/api/data` reads cycling through eight filter shapes, a quarter
    * views cycling through all six, the rest job-status lookups and SQL
    * reads cycling through the same shapes; status lookups alternate a
    * known job and an unknown one — and the seed draws only the
    * filter values (study, participant, type, time window).
    *
    * The shares are an assumption, not a measured mix: the repository
    * holds no request log of the service. `/api/data`, the API's one
    * general read, gets the largest share; each other read path gets
    * enough reads per run for its own median in a traced run. */
  private val reads: IndexedSeq[Read] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val studies = (1 to Clinical.Studies).map(s => f"STUDY$s%03d")
    def some[T](xs: Seq[T]) = Some(xs(rnd.nextInt(xs.size)))
    def window(days: Int) = {
      val start = Clinical.Base + rnd.nextInt((Clinical.SpanDays - days).toInt) * 86400L
      (Some(start), Some(start + days * 86400L))
    }
    def filter(shape: Int): Clinical.Filter = {
      val p = some((1 to Clinical.ParticipantsPerStudy).map(i => f"P$i%03d"))
      val t = some(Clinical.Types)
      shape % 8 match {
        case 0 => Clinical.Filter(some(studies), None, None, None, None)
        case 1 => Clinical.Filter(some(studies), None, t, None, None)
        case 2 => Clinical.Filter(some(studies), p, None, None, None)
        case 3 => val (a, b) = window(20); Clinical.Filter(None, None, t, a, b)
        case 4 => val (a, b) = window(10); Clinical.Filter(some(studies), None, None, a, b)
        case 5 => Clinical.Filter(None, None, None, None, None)
        case 6 => Clinical.Filter(some(studies), p, t, None, None)
        case _ => val (a, b) = window(3); Clinical.Filter(None, None, None, a, b)
      }
    }
    val viewNames = Seq("study_quality", "glucose_trend", "counts_by_site",
      "low_quality", "recent_30d", "participants_per_study")
    (0 until OpsPerRound).map { i =>
      i % 8 match {
        case 0 | 2 | 4 | 6 => Data(filter(i / 2))
        case 1 | 5 => View(viewNames((i / 4) % viewNames.size))
        case 3 => Status(if ((i / 8) % 2 == 0) jobIds((i / 16) % jobIds.size) else unknownId)
        case _ => Sql(filter(i / 8 + 3))
      }
    }
  }

  private def table(name: String, schema: StructType): DataFrame = {
    val t0 = System.nanoTime()
    val df = wh.read(name, schema)
    r.sample("warehouse.read_resolve_ms", (System.nanoTime() - t0) / 1e6)
    df
  }

  private def sqlText(f: Clinical.Filter): String = {
    def iso(s: Long) = new Timestamp(s * 1000L).toInstant.toString
    val conds = Seq(
      f.study.map(s => s"study_id = '$s'"),
      f.participant.map(p => s"participant_id = '$p'"),
      f.mtype.map(t => s"measurement_type = '$t'"),
      f.start.map(s => s"timestamp >= TIMESTAMP '${iso(s)}'"),
      f.end.map(e => s"timestamp <= TIMESTAMP '${iso(e)}'")).flatten
    val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    "SELECT id, study_id AS studyId, participant_id AS participantId, " +
      "measurement_type AS measurementType, value, unit, timestamp, " +
      "site_id AS siteId, quality_score AS qualityScore " +
      s"FROM graft.staging_clinical_measurements$where ORDER BY timestamp DESC LIMIT 1000"
  }

  /** Outcome of each timed read, checked after the timed region. */
  private val outcomes = mutable.ArrayBuffer.empty[(Read, Any)]

  private def runRead(read: Read): Unit = {
    val kind = read match {
      case _: Data => "data"; case _: Sql => "sql"
      case _: View => "view"; case _: Status => "status"
    }
    r.op(kind) {
      read match {
        case Data(f) => data(table("staging_clinical_measurements", Schemas.staging), f)
        case Sql(f) => r.spark.sql(sqlText(f)).collect().map(ts(_, 6)).toSeq
        case View(name) => summarize(name, viewFrame(name, table).collect())
        case Status(id) =>
          pipeline.jobStatus(id).map(_.collect().map(_.getString(3)).toSeq).getOrElse(Nil)
      }
    } { res =>
      res match {
        case xs: Seq[_] => r.resultRows(kind, xs.size.toLong)
        case v: Clinical.ViewSummary => r.resultRows(kind, v.rows)
        case _ => ()
      }
      1L
    }.foreach(res => outcomes += (read -> res))
  }

  def setup(): Unit = {
    val files = writeJobs(r.args.runDir.resolve("input"), jobs)
    files.zipWithIndex.foreach { case (f, i) =>
      val res = pipeline.processJob(jobIds(i), f.toString)
      require(res.status == "completed", s"preload job $i: $res")
    }
    r.spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    r.spark.conf.set("spark.sql.catalog.graft.root", root.toString)
    // untimed warm-up: whole rounds of the read list
    (1 to WarmupRounds).foreach(_ => reads.foreach(runRead))
    outcomes.clear()
  }

  def round(n: Int): Unit = reads.foreach(runRead)

  def check(): Unit = {
    val topK = mutable.Map.empty[Clinical.Filter, Seq[Long]]
    def want(f: Clinical.Filter) =
      topK.getOrElseUpdate(f, Clinical.topK(expected.stagingRows, f, Measurements.ResultCap))
    outcomes.foreach {
      case (Data(f), got: Seq[_]) =>
        Checks.topK(got.asInstanceOf[Seq[Long]], want(f)).foreach(m => r.fail(s"data $f: $m"))
      case (Sql(f), got: Seq[_]) =>
        Checks.topK(got.asInstanceOf[Seq[Long]], want(f)).foreach(m => r.fail(s"sql $f: $m"))
      case (View(name), got: Clinical.ViewSummary) =>
        Checks.view(name, got, expectedViews(name)).foreach(r.fail)
      case (Status(id), got: Seq[_]) =>
        val want = if (id == unknownId) Nil else Seq("completed")
        if (got != want) r.fail(s"status $id: $got, expected $want")
      case (read, got) => r.fail(s"$read: unexpected outcome $got")
    }
    ClinicalChecks.warehouse(r.spark, wh, expected, jobIds).foreach(m => r.fail(s"preload: $m"))
  }
}

object ClinicalApi {
  sealed trait Read
  final case class Data(f: Clinical.Filter) extends Read
  final case class Sql(f: Clinical.Filter) extends Read
  final case class View(name: String) extends Read
  final case class Status(id: String) extends Read

  /** Epoch seconds of a timestamp column. */
  def ts(row: Row, i: Int): Long = row.getTimestamp(i).getTime / 1000L

  def toFilters(f: Clinical.Filter): Measurements.Filters = Measurements.Filters(
    f.study, f.participant, f.mtype,
    f.start.map(s => new Timestamp(s * 1000L)), f.end.map(e => new Timestamp(e * 1000L)))

  /** One `/api/data` read: the timestamps of the rows the API returns. */
  def data(staging: DataFrame, f: Clinical.Filter): Seq[Long] =
    Measurements.toDto(Measurements.query(staging, toFilters(f))).collect().map(ts(_, 6)).toSeq

  /** One of the six views, over the tables `table` resolves. */
  def viewFrame(name: String, table: (String, StructType) => DataFrame): DataFrame = {
    lazy val processed = table("processed_measurements", Schemas.processed)
    name match {
      case "study_quality" => Views.studyQuality(processed)
      case "glucose_trend" => Views.glucoseTrend(processed)
      case "counts_by_site" => Views.countsBySite(processed)
      case "low_quality" => Views.lowQuality(processed)
      case "recent_30d" =>
        Views.recent30d(processed, lit(new Timestamp(Clinical.Now * 1000L)))
      case _ => Views.participantsPerStudy(table("participants", Schemas.participants))
    }
  }

  /** A view's rows reduced to the same summary the model computes. */
  def summarize(name: String, rows: Array[Row]): Clinical.ViewSummary = {
    def dbl(row: Row, field: String): Double = {
      val v = row.get(row.fieldIndex(field))
      if (v == null) 0.0 else v match {
        case d: java.math.BigDecimal => d.doubleValue
        case n: Number => n.doubleValue
      }
    }
    val digest = name match {
      case "study_quality" => rows.map(dbl(_, "avg_quality")).sum
      case "glucose_trend" => rows.map(dbl(_, "avg_glucose")).sum
      case "counts_by_site" => rows.map(dbl(_, "n")).sum
      case "low_quality" => rows.map(dbl(_, "quality_score")).sum
      case "recent_30d" => rows.map(dbl(_, "value_num")).sum
      case _ => rows.map(dbl(_, "n_participants")).sum
    }
    Clinical.ViewSummary(rows.length, digest)
  }
}
