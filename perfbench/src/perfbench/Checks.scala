package perfbench

/** Pure comparisons of program output against independently computed
  * expectations. Each returns its mismatches; empty means the output is
  * right. `CheckTests` feeds each one a corrupted output to show it
  * notices. */
object Checks {

  /** Per-job quality report rows: exactly the positive rule counts. */
  def qualityReports(got: Map[(String, String), Long], jobIds: IndexedSeq[String],
                     expected: IndexedSeq[Map[String, Long]]): Seq[String] = {
    val want = jobIds.zip(expected).flatMap { case (id, rules) =>
      rules.map { case (rule, n) => (id, rule) -> n }
    }.toMap
    val ours = got.filter { case ((id, _), _) => jobIds.contains(id) }
    (want.keySet ++ ours.keySet).toSeq.sorted.flatMap { k =>
      if (want.get(k) == ours.get(k)) None
      else Some(s"quality report $k: ${ours.get(k)}, expected ${want.get(k)}")
    }
  }

  /** Merged rollups: cnt, min and max exact; avg within one unit of its
    * last decimal place (the engine rounds it more than once). */
  def aggregates(got: Map[Clinical.AggKey, Clinical.Agg],
                 want: Map[Clinical.AggKey, Clinical.Agg]): Seq[String] = {
    val tol = BigDecimal("0.0001")
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      (got.get(k), want.get(k)) match {
        case (Some(g), Some(w)) if g.cnt == w.cnt && g.min == w.min &&
            g.max == w.max && (g.avg - w.avg).abs <= tol => None
        case (g, w) => Some(s"aggregate $k: $g, expected $w")
      }
    }.take(5)
  }

  /** One `/api/data` read: the top-k timestamps, descending, exactly. */
  def topK(got: Seq[Long], want: Seq[Long]): Option[String] =
    if (got == want) None
    else if (got.size != want.size) Some(s"top-k size ${got.size}, expected ${want.size}")
    else if (got != got.sorted(Ordering[Long].reverse)) Some("top-k not in descending time order")
    else Some("top-k timestamps differ")

  /** One view: row count exact, digest within a relative 1e-9. */
  def view(name: String, got: Clinical.ViewSummary,
           want: Clinical.ViewSummary): Option[String] =
    if (got.rows == want.rows &&
        math.abs(got.digest - want.digest) <= 1e-9 * math.max(1.0, math.abs(want.digest))) None
    else Some(s"view $name: $got, expected $want")

  /** Split routing: every delivered doc routed exactly once, each planted
    * near-duplicate in its original's split. */
  def routing(routed: Seq[(Long, String)], delivered: Set[Long],
              planted: Map[Long, Long]): Seq[String] = {
    val byDoc = routed.groupBy(_._1)
    val dup = byDoc.collect { case (d, rs) if rs.size > 1 => s"doc $d routed ${rs.size} times" }
    val missing = (delivered -- byDoc.keySet).toSeq.sorted.take(3).map(d => s"doc $d not routed")
    val extra = (byDoc.keySet -- delivered).toSeq.sorted.take(3).map(d => s"doc $d routed, never delivered")
    val inherit = planted.toSeq.sorted.flatMap { case (copy, orig) =>
      (byDoc.get(copy), byDoc.get(orig)) match {
        case (Some(c), Some(o)) if c.head._2 != o.head._2 =>
          Some(s"near-duplicate $copy in ${c.head._2}, original $orig in ${o.head._2}")
        case _ => None
      }
    }.take(3)
    dup.toSeq.sorted.take(3) ++ missing ++ extra ++ inherit
  }

  /** Near-duplicate dedup: every planted copy dropped, every other doc
    * kept exactly once. */
  def dedup(kept: Seq[Long], delivered: Set[Long], planted: Set[Long]): Seq[String] = {
    val counts = kept.groupBy(identity).map { case (d, xs) => d -> xs.size }
    val notDropped = planted.filter(counts.contains).toSeq.sorted.take(3)
      .map(d => s"near-duplicate $d kept")
    val lost = (delivered -- planted -- counts.keySet).toSeq.sorted.take(3)
      .map(d => s"doc $d dropped")
    val twice = counts.filter(_._2 > 1).keys.toSeq.sorted.take(3).map(d => s"doc $d kept twice")
    notDropped ++ lost ++ twice
  }

  /** Sessionization: the closed sessions equal the gap-merge of the
    * events, so event counts are conserved per user. */
  def sessions(got: Seq[(Long, Long, Long, Long)],
               want: Seq[(Long, Long, Long, Long)]): Seq[String] = {
    val g = got.sorted
    val w = want.sorted
    val out = Seq.newBuilder[String]
    if (g.map(_._4).sum != w.map(_._4).sum)
      out += s"session events ${g.map(_._4).sum}, expected ${w.map(_._4).sum}"
    if (g != w) out += s"sessions differ: ${g.size} rows, expected ${w.size}; first " +
      s"${g.diff(w).headOption} vs ${w.diff(g).headOption}"
    out.result()
  }

  /** Gap-merge of (user, epoch-ms) events into (user, start, end, n). */
  def sessionize(events: Seq[(Long, Long)], gapMs: Long): Seq[(Long, Long, Long, Long)] =
    events.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ts = es.map(_._2).sorted
      val out = Seq.newBuilder[(Long, Long, Long, Long)]
      var (start, last, n) = (ts.head, ts.head, 1L)
      ts.tail.foreach { t =>
        if (t - last <= gapMs) { last = t; n += 1 }
        else { out += ((u, start, last, n)); start = t; last = t; n = 1 }
      }
      out += ((u, start, last, n))
      out.result()
    }
}
