package perfbench

import graft.etl.Warehouse
import graft.stream.{StreamingCorpusDedup, StreamingSessionize, StreamingSplitRouter}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable

/** `stream_sinks`: waves of a synthetic corpus delivered by rename into
  * three running streaming sinks — `StreamingCorpusDedup` and
  * `StreamingSplitRouter` (the two users of the MinHash family) and
  * `StreamingSessionize` (one event per document). Each sink runs as one
  * long-lived query over its own warehouse. One op is one wave into one
  * sink: rename the wave's file into the landing dir, then
  * `processAllAvailable()` — the micro-batch that picks it up, committed
  * through `Warehouse.transact`. A round is [[WavesPerRound]] waves into
  * each sink. */
final class StreamSinks(r: Runner) extends Workload {
  import StreamSinks._

  val DocsPerWave = 200
  val WavesPerRound = 2
  val WarmupDocs = 100
  /** More waves than any run delivers; the corpus is generated up front. */
  val MaxWaves = 40
  val GapMs = 60000L

  private val dir = r.args.runDir.resolve("stream")
  private val corpus = StreamSinks.corpus(r.args.seed, WarmupDocs + MaxWaves * DocsPerWave)
  private var delivered = 0
  private var queries: Seq[(String, Path, StreamingQuery)] = Nil

  def roundSeconds: Double = 11.0
  def storeRoot: Path = dir.resolve("wh")

  override def context: Map[String, Any] = Map("docs_per_wave" -> DocsPerWave,
    "waves_per_round" -> WavesPerRound,
    "warmup_docs" -> WarmupDocs, "near_duplicate_every" -> 20, "gap_ms" -> GapMs)

  private def landing(sink: String) = dir.resolve("landing").resolve(sink)

  /** Stage one wave's JSON-lines file per sink (untimed), named so the
    * file source sees each as new. */
  private def stage(docs: Seq[Doc], events: Seq[(Long, Long)], tag: String): Map[String, Path] = {
    val docLines = docs.map(x => s"""{"doc_id":${x.id},"text":"${x.text}"}""")
    val evLines = events.map { case (u, t) =>
      s"""{"user_id":$u,"ts":"${Instant.ofEpochMilli(t)}"}""" }
    Seq("dedup" -> docLines, "split" -> docLines, "sessions" -> evLines)
      .filter(_._2.nonEmpty).map { case (sink, lines) =>
        val f = dir.resolve("stage").resolve(sink).resolve(s"$tag.json")
        Files.createDirectories(f.getParent)
        Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
        sink -> f
      }.toMap
  }

  /** Deliver the staged files sink by sink, one op per sink. */
  private def wave(files: Map[String, Path], units: Long): Unit =
    queries.foreach { case (sink, root, q) =>
      files.get(sink).foreach { f =>
        Files.move(f, landing(sink).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        r.op("wave", walk = Some(root))(q.processAllAvailable())(_ => units)
      }
    }

  private def deliver(n: Int, tag: String): Unit = {
    val docs = corpus.slice(delivered, delivered + n)
    delivered += n
    wave(stage(docs, docs.map(d => d.user -> d.ts), tag), n.toLong)
  }

  def setup(): Unit = {
    def wh(sink: String) = {
      Files.createDirectories(landing(sink))
      val root = storeRoot.resolve(sink)
      (new Warehouse(r.spark, root.toString), root, landing(sink).toString,
        dir.resolve("ckpt").resolve(sink).toString)
    }
    val (dWh, dRoot, dLand, dCk) = wh("dedup")
    val (sWh, sRoot, sLand, sCk) = wh("split")
    val (eWh, eRoot, eLand, eCk) = wh("sessions")
    queries = Seq(
      ("dedup", dRoot, new StreamingCorpusDedup(r.spark, dWh, dLand, dCk).start()),
      ("split", sRoot, new StreamingSplitRouter(r.spark, sWh, sLand, sCk,
        cuts = Seq("train" -> 80, "validation" -> 90), lastSplit = "test").start()),
      ("sessions", eRoot,
        new StreamingSessionize(r.spark, eWh, eLand, eCk, gapMillis = GapMs).start()))
    // untimed warm-up wave into each sink: the store-absent path runs
    // here, every timed wave takes the incremental one
    deliver(WarmupDocs, "warmup")
  }

  def round(n: Int): Unit = (0 until WavesPerRound).foreach { w =>
    require(delivered + DocsPerWave <= corpus.size, "corpus exhausted")
    deliver(DocsPerWave, s"wave$n-$w")
  }

  /** The docs delivered so far, warm-up included. */
  def deliveredDocs: IndexedSeq[Doc] = corpus.take(delivered)

  /** Close every session, stop the three queries and read what the
    * sinks committed. */
  def finish(): Outputs = {
    // two closing events far past the last one: the first moves the
    // watermark beyond every session, the batch of the second applies it
    val last = corpus(delivered - 1).ts
    Seq(1, 2).foreach { i =>
      wave(stage(Nil, Seq(Sentinel -> (last + i * 100 * GapMs)), s"closing$i"), 0L)
    }
    queries.foreach(_._3.stop())
    def wh(sink: String) = new Warehouse(r.spark, storeRoot.resolve(sink).toString)
    Outputs(
      kept = wh("dedup").read("corpus", DocSchema).select("doc_id").collect().map(_.getLong(0)).toSeq,
      routed = wh("split").read("split_assign", AssignSchema).select("doc_id", "split")
        .collect().map(x => x.getLong(0) -> x.getString(1)).toSeq,
      sessions = wh("sessions").read("sessions", SessionSchema).collect()
        .map(x => (x.getLong(0), x.getTimestamp(1).getTime, x.getTimestamp(2).getTime, x.getLong(3)))
        .filter(_._1 != Sentinel).toSeq)
  }

  def check(): Unit = verify(finish(), deliveredDocs, GapMs).foreach(r.fail)
}

object StreamSinks {
  /** A document and the event it also stands for. `copyOf` names the
    * original of a planted near-duplicate. */
  final case class Doc(id: Long, text: String, user: Long, ts: Long, copyOf: Option[Long])

  /** User of the closing event, far in the future, that moves the
    * watermark past every other session so all of them close. */
  val Sentinel: Long = 999999L

  /** What the three sinks committed: the doc ids the dedup corpus kept,
    * the split of each routed doc, and the closed sessions as
    * (user, start ms, end ms, events). */
  final case class Outputs(kept: Seq[Long], routed: Seq[(Long, String)],
                           sessions: Seq[(Long, Long, Long, Long)])

  /** The stream checks of the sinks' outputs for the delivered docs. */
  def verify(out: Outputs, docs: Seq[Doc], gapMs: Long): Seq[String] = {
    val ids = docs.map(_.id).toSet
    val planted = docs.flatMap(d => d.copyOf.map(d.id -> _)).toMap
    Checks.dedup(out.kept, ids, planted.keySet).map("dedup: " + _) ++
      Checks.routing(out.routed, ids, planted).map("split: " + _) ++
      Checks.sessions(out.sessions, Checks.sessionize(docs.map(d => d.user -> d.ts), gapMs))
        .map("sessions: " + _)
  }

  val DocSchema: StructType = StructType.fromDDL("doc_id BIGINT, text STRING")
  val AssignSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, cluster_id BIGINT, split STRING, inherited BOOLEAN, " +
      "n_store_splits BIGINT, conflicted BOOLEAN")
  val SessionSchema: StructType = StructType.fromDDL(
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, n_events BIGINT")

  /** The corpus: 50 tokens per doc from a 9973-word vocabulary; every
    * 20th doc (ids 19, 39, ...) is a near-duplicate of a random earlier
    * original — the same tokens with the first one upper-cased and one
    * doubled space, which tokenization folds away, so its shingle set
    * equals the original's. One event per doc: a user out of 50, a
    * timestamp 20 s per doc apart plus jitter. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed * 7919 + 3)
    val t0 = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val out = mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { i =>
      val user = rnd.nextInt(50).toLong
      val ts = t0 + i * 20000L + rnd.nextInt(20000)
      if (i % 20 == 19) {
        val originals = out.filter(_.copyOf.isEmpty)
        val o = originals(rnd.nextInt(originals.size))
        val toks = o.text.split(" ")
        val text = (toks.head.toUpperCase +: toks.tail).patch(10, Seq(toks(10) + " "), 1)
          .mkString(" ")
        out += Doc(i, text, user, ts, Some(o.id))
      } else {
        out += Doc(i, Seq.fill(50)(s"w${rnd.nextInt(9973)}").mkString(" "), user, ts, None)
      }
    }
    out.toIndexedSeq
  }
}
