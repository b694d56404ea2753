package perfbench

import java.time.Instant
import scala.collection.mutable

/** The clinical CSV input generator and a plain-Scala model of what the
  * pipeline must make of it. The model is written from the pipeline's
  * documented contract (the reference ETL's rules), not from its code:
  * it shares no function with `graft.etl`.
  *
  * Make-up of every job file (all shares fixed, content drawn from the
  * seed): 3 studies x 40 participants, each participant pinned to one of
  * 4 sites; six measurement types drawn uniformly; every fresh row has its
  * own timestamp, so observation keys are unique unless a row repeats.
  * Row slots fix the rule violations: row i with i % 20 == 3 has a blank
  * unit on a unit-required type (5 %), i % 25 == 7 an out-of-range
  * value (4 %), i % 30 == 11 a malformed blood pressure `S-D` (3.3 %),
  * i % 16 == 9 a literal "null" quality score (6.25 %), i % 16 == 13 a
  * blank one. From the second job on, rows with i % 10 == 0 (10 %) copy a
  * row of an earlier job verbatim, so the warehouse's cross-job dedup has
  * work to do.
  */
object Clinical {

  final case class Row(study: String, participant: String, mtype: String,
                       value: String, unit: String, ts: Long, site: String,
                       quality: String)
  final case class Job(file: String, rows: IndexedSeq[Row])

  val Types: IndexedSeq[String] = IndexedSeq("glucose", "cholesterol",
    "weight", "height", "heart_rate", "blood_pressure")
  val UnitOf: Map[String, String] = Map("glucose" -> "mg/dL",
    "cholesterol" -> "mg/dL", "weight" -> "kg", "height" -> "cm",
    "heart_rate" -> "bpm", "blood_pressure" -> "mmHg")
  val UnitRequired: Set[String] =
    Set("glucose", "cholesterol", "weight", "height", "blood_pressure")
  val Ranges: Map[String, (BigDecimal, BigDecimal)] = Map(
    "glucose" -> (BigDecimal(40), BigDecimal(400)),
    "cholesterol" -> (BigDecimal(50), BigDecimal(400)),
    "weight" -> (BigDecimal(1), BigDecimal(400)),
    "height" -> (BigDecimal(30), BigDecimal(300)),
    "heart_rate" -> (BigDecimal(20), BigDecimal(240)))
  val Studies = 3
  val ParticipantsPerStudy = 40
  /** Timestamps start here and span [[SpanDays]] days. */
  val Base: Long = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  val SpanDays = 90L
  /** The pinned "now" of the 30-day view: the end of the span. */
  val Now: Long = Base + SpanDays * 86400L

  def participantSite(p: Int): String = s"SITE_${('A' + p % 4).toChar}"

  /** The job sequence for `sizes` (rows per file), drawn from `seed`. */
  def jobs(seed: Long, sizes: Seq[Int], prefix: String): IndexedSeq[Job] = {
    val rnd = new scala.util.Random(seed)
    val total = sizes.sum.toLong
    val spacing = math.max(1L, SpanDays * 86400L / total)
    var fresh = 0L
    val out = mutable.ArrayBuffer.empty[Job]
    sizes.zipWithIndex.foreach { case (n, j) =>
      val earlier = out.flatMap(_.rows)
      val copies = rnd.shuffle(earlier.indices.toList).iterator
      val rows = (0 until n).map { i =>
        if (j > 0 && i % 10 == 0 && copies.hasNext) earlier(copies.next())
        else {
          val s = rnd.nextInt(Studies)
          val p = rnd.nextInt(ParticipantsPerStudy)
          var mtype = Types(rnd.nextInt(Types.size))
          if (i % 20 == 3 && !UnitRequired(mtype)) mtype = "glucose"
          if (i % 25 == 7 && mtype == "blood_pressure") mtype = "weight"
          if (i % 30 == 11) mtype = "blood_pressure"
          val value =
            if (i % 30 == 11) s"${110 + rnd.nextInt(40)}-${70 + rnd.nextInt(20)}"
            else if (i % 25 == 7) "999.5"
            else mtype match {
              case "blood_pressure" => s"${95 + rnd.nextInt(60)}/${60 + rnd.nextInt(35)}"
              case "heart_rate" => (50 + rnd.nextInt(70)).toString
              case "glucose" => f"${70 + rnd.nextInt(120)}.${rnd.nextInt(10)}"
              case "cholesterol" => f"${120 + rnd.nextInt(150)}.${rnd.nextInt(10)}"
              case "weight" => f"${45 + rnd.nextInt(70)}.${rnd.nextInt(10)}"
              case _ => f"${150 + rnd.nextInt(45)}.${rnd.nextInt(10)}"
            }
          val unit = if (i % 20 == 3) "" else UnitOf(mtype)
          val quality =
            if (i % 16 == 9) "null"
            else if (i % 16 == 13) ""
            else f"0.${80 + rnd.nextInt(20)}%02d"
          val ts = Base + fresh * spacing
          fresh += 1
          Row(f"STUDY${s + 1}%03d", f"P${p + 1}%03d", mtype, value, unit, ts,
            participantSite(p), quality)
        }
      }
      out += Job(f"$prefix${j + 1}%03d.csv", rows)
    }
    out.toIndexedSeq
  }

  def csv(job: Job): String = {
    val sb = new StringBuilder(
      "study_id,participant_id,measurement_type,value,unit,timestamp,site_id,quality_score\n")
    job.rows.foreach { r =>
      sb ++= r.study += ',' ++= r.participant += ',' ++= r.mtype += ',' ++=
        r.value += ',' ++= r.unit += ',' ++= Instant.ofEpochSecond(r.ts).toString +=
        ',' ++= r.site += ',' ++= r.quality += '\n'
    }
    sb.toString
  }

  // ----------------------------------------------------------------- model

  /** One processed observation as the contract defines it. */
  final case class Obs(study: String, participant: String, site: String,
                       mtype: String, ts: Long, num: Option[BigDecimal],
                       text: Option[String], unit: Option[String],
                       quality: Option[Double])

  private def parseBp(v: String): Option[(Int, Int)] = v.split("/", -1) match {
    case Array(a, b) if a.trim.matches("[+-]?\\d+") && b.trim.matches("[+-]?\\d+") =>
      val (s, d) = (a.trim.toInt, b.trim.toInt)
      if (s >= 50 && s <= 250 && d >= 30 && d <= 200) Some((s, d)) else None
    case _ => None
  }

  private def num(v: String): Option[BigDecimal] =
    scala.util.Try(BigDecimal(v.trim)).toOption.map(_.setScale(4))

  private def quality(q: String): Option[Double] =
    if (q == "" || q == "null") None else Some(q.toDouble)

  /** A staged row becomes two observations (valid blood pressure), one
    * numeric observation, or one text observation. */
  def observations(r: Row): Seq[Obs] = {
    val unit = if (r.unit.trim.isEmpty) None else Some(r.unit.trim)
    val q = quality(r.quality)
    def o(t: String, n: Option[BigDecimal], x: Option[String], u: Option[String]) =
      Obs(r.study, r.participant, r.site, t, r.ts, n, x, u, q)
    if (r.mtype == "blood_pressure") parseBp(r.value) match {
      case Some((s, d)) => Seq(
        o("blood_pressure_systolic", Some(BigDecimal(s).setScale(4)), None, Some("mmHg")),
        o("blood_pressure_diastolic", Some(BigDecimal(d).setScale(4)), None, Some("mmHg")))
      case None => Seq(o(r.mtype, num(r.value), if (num(r.value).isEmpty) Some(r.value) else None, unit))
    } else num(r.value) match {
      case Some(n) => Seq(o(r.mtype, Some(n), None, unit))
      case None => Seq(o(r.mtype, None, Some(r.value), unit))
    }
  }

  def obsKey(o: Obs): (String, String, String, Long, String) =
    (o.study, o.participant, o.mtype, o.ts, o.site)

  /** Rule counts of one job, only rules with a positive count. */
  def ruleCounts(job: Job): Map[String, Long] = {
    val rows = job.rows
    val missingUnit = rows.count(r => UnitRequired(r.mtype) && r.unit.trim.isEmpty)
    val malformed = rows.count(r => r.mtype == "blood_pressure" && parseBp(r.value).isEmpty)
    val outOfRange = rows.count(r => Ranges.get(r.mtype).exists { case (lo, hi) =>
      num(r.value).exists(n => n < lo || n > hi) })
    Map("missing_unit_required" -> missingUnit.toLong,
      "malformed_blood_pressure" -> malformed.toLong,
      "numeric_out_of_range" -> outOfRange.toLong).filter(_._2 > 0)
  }

  final case class Agg(cnt: Long, avg: BigDecimal, min: BigDecimal, max: BigDecimal)
  type AggKey = (String, String, String, String) // study, participant, site, type

  /** A job's own rollup: numeric observations of its rows, before dedup. */
  def jobAggregates(job: Job): Map[AggKey, Agg] =
    job.rows.flatMap(observations).filter(_.num.isDefined)
      .groupBy(o => (o.study, o.participant, o.site, o.mtype))
      .map { case (k, os) =>
        val ns = os.map(_.num.get)
        // avg of DECIMAL(14,4) is DECIMAL(18,8), then cast to (14,4):
        // two HALF_UP roundings, in that order
        val avg = (ns.sum / ns.size).setScale(8, BigDecimal.RoundingMode.HALF_UP)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        k -> Agg(ns.size.toLong, avg, ns.min, ns.max)
      }

  /** Everything a sequence of completed jobs leaves in the warehouse. */
  final case class Expected(staged: IndexedSeq[Long], landed: IndexedSeq[Long],
                            rules: IndexedSeq[Map[String, Long]],
                            processed: IndexedSeq[Obs],
                            aggregates: Map[AggKey, Agg],
                            participants: Map[(String, String), String],
                            stagingRows: IndexedSeq[Row])

  def expected(jobs: Seq[Job]): Expected = {
    val seen = mutable.Set.empty[(String, String, String, Long, String)]
    val processed = mutable.ArrayBuffer.empty[Obs]
    val landed = jobs.map { job =>
      val before = processed.size
      job.rows.flatMap(observations).foreach { o =>
        if (seen.add(obsKey(o))) processed += o
      }
      (processed.size - before).toLong
    }
    val aggs = mutable.Map.empty[AggKey, Agg]
    jobs.foreach { job =>
      jobAggregates(job).foreach { case (k, a) =>
        aggs(k) = aggs.get(k) match {
          case None => a
          // cnt/avg from the latest job, min/max merged across jobs
          case Some(old) => Agg(a.cnt, a.avg, old.min.min(a.min), old.max.max(a.max))
        }
      }
    }
    val participants = jobs.flatMap(_.rows)
      .map(r => (r.study, r.participant) -> r.site).toMap
    Expected(jobs.map(_.rows.size.toLong).toIndexedSeq, landed.toIndexedSeq,
      jobs.map(ruleCounts).toIndexedSeq, processed.toIndexedSeq, aggs.toMap,
      participants, jobs.flatMap(_.rows).toIndexedSeq)
  }

  // ------------------------------------------------- /api/data and views

  final case class Filter(study: Option[String], participant: Option[String],
                          mtype: Option[String], start: Option[Long],
                          end: Option[Long])

  /** Timestamps (epoch seconds, descending) of the top-`cap` staging rows
    * a filter selects. */
  def topK(staging: Seq[Row], f: Filter, cap: Int): Seq[Long] =
    staging.filter(r => f.study.forall(_ == r.study) &&
        f.participant.forall(_ == r.participant) && f.mtype.forall(_ == r.mtype) &&
        f.start.forall(r.ts >= _) && f.end.forall(r.ts <= _))
      .map(_.ts).sorted(Ordering[Long].reverse).take(cap)

  /** Each view reduced to a small comparable fingerprint: row count plus
    * one order-free numeric digest. */
  final case class ViewSummary(rows: Long, digest: Double)

  def views(e: Expected): Map[String, ViewSummary] = {
    val p = e.processed
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val studyQuality = p.groupBy(_.study).map { case (_, os) =>
      val q = os.flatMap(_.quality); if (q.isEmpty) 0.0 else mean(q) }
    val glucose = p.filter(o => o.mtype == "glucose" && o.num.isDefined)
      .groupBy(o => (o.study, o.participant, o.ts / 86400L))
      .map { case (_, os) => mean(os.map(_.num.get.toDouble)) }
    val bySite = p.groupBy(o => (o.study, o.site, o.mtype)).map(_._2.size.toDouble)
    val low = p.filter(_.quality.exists(_ < 0.95))
    val recent = p.filter(_.ts >= Now - 30L * 86400L)
    val perStudy = e.participants.keys.groupBy(_._1).map(_._2.size.toDouble)
    Map(
      "study_quality" -> ViewSummary(studyQuality.size, studyQuality.sum),
      "glucose_trend" -> ViewSummary(glucose.size, glucose.sum),
      "counts_by_site" -> ViewSummary(bySite.size, bySite.sum),
      "low_quality" -> ViewSummary(low.size, low.flatMap(_.quality).sum),
      "recent_30d" -> ViewSummary(recent.size, recent.flatMap(_.num).map(_.toDouble).sum),
      "participants_per_study" -> ViewSummary(perStudy.size, perStudy.sum))
  }
}
