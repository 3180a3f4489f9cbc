package finbench

import java.time.LocalDate

/** One processed-table row as read back: key, close and the indicator
  * columns in `Oracle.cols` order.
  */
final case class OutRow(symbol: String, date: LocalDate, key: String, close: Double,
    ind: IndexedSeq[Option[Double]])

/** Output checks. Each returns the list of failures (empty = pass) so a
  * test can plant a wrong answer and see it caught.
  */
object Checks {

  private def firstFew(fs: Seq[String]): Seq[String] = fs.take(5)

  /** Engine indicator rows for `truth`'s symbols against the plain-Scala
    * recomputation, within `Oracle.relTol`.
    */
  def indicators(truth: Map[String, Array[Bar]], got: Seq[OutRow]): Seq[String] = {
    val bySym = got.groupBy(_.symbol)
    firstFew(truth.toSeq.sortBy(_._1).flatMap { case (sym, bars) =>
      val rows = bySym.getOrElse(sym, Nil).sortBy(_.date.toEpochDay)
      if (rows.length != bars.length) Seq(s"$sym: ${rows.length} rows, expected ${bars.length}")
      else {
        val want = Oracle.compute(bars)
        rows.indices.flatMap { i =>
          val r = rows(i)
          val b = bars(i)
          val keyErr =
            if (r.date != b.date || r.key != s"${sym}_${b.dateStr}" || r.close != b.close)
              Seq(s"$sym row $i: (${r.key}, ${r.close}) expected (${sym}_${b.dateStr}, ${b.close})")
            else Nil
          keyErr ++ Oracle.cols.indices.collect {
            case c if !Oracle.close(r.ind(c), want(i)(c)) =>
              s"$sym ${b.dateStr} ${Oracle.cols(c)} = ${r.ind(c)}, expected ${want(i)(c)}"
          }
        }
      }
    })
  }

  /** Key uniqueness over a whole table. */
  def uniqueKeys(keys: Seq[String]): Seq[String] =
    firstFew(keys.groupBy(identity).collect { case (k, v) if v.size > 1 => s"duplicate key $k x${v.size}" }.toSeq.sorted)

  /** OverlapReload's exactness: every row the increments wrote equals the
    * batch backfill's row for the same key, bit for bit, except `obv`,
    * whose running sum restarts at each increment's warm-up by the
    * engine's documented semantics. The increments wrote exactly the
    * expected keys, and no late row (older than the watermark when it
    * landed) reached the table.
    */
  def incrementsMatchBackfill(increments: Seq[OutRow], backfill: Seq[OutRow],
      expectedKeys: Set[String], late: Seq[Bar], table: Seq[OutRow]): Seq[String] = {
    val obv = Oracle.cols.indexOf("obv")
    val want = backfill.map(r => r.key -> r).toMap
    val keys = increments.map(_.key)
    val keyErr =
      if (keys.toSet != expectedKeys)
        Seq(s"increment keys: ${(keys.toSet -- expectedKeys).take(3)} unexpected, " +
          s"${(expectedKeys -- keys.toSet).take(3)} missing")
      else Nil
    val valueErr = increments.flatMap { r =>
      want.get(r.key) match {
        case None => Seq(s"${r.key}: not in backfill")
        case Some(w) =>
          (if (r.close != w.close) Seq(s"${r.key} close ${r.close} != ${w.close}") else Nil) ++
            Oracle.cols.indices.collect {
              case c if c != obv && r.ind(c) != w.ind(c) =>
                s"${r.key} ${Oracle.cols(c)} = ${r.ind(c)}, backfill ${w.ind(c)}"
            }
      }
    }
    val byKey = table.groupBy(_.key)
    val lateErr = late.flatMap { b =>
      byKey.getOrElse(s"${b.symbol}_${b.dateStr}", Nil).filter(_.close == b.close)
        .map(_ => s"late row ${b.symbol}_${b.dateStr} close ${b.close} was written")
    }
    firstFew(keyErr ++ uniqueKeys(table.map(_.key)) ++ valueErr ++ lateErr)
  }

  /** `symbol_history`: the symbol's bars in [from, to], sorted by date. */
  def history(bars: Array[Bar], from: LocalDate, to: LocalDate,
      got: Seq[(LocalDate, Double)]): Seq[String] = {
    val want = bars.filter(b => !b.date.isBefore(from) && !b.date.isAfter(to)).map(b => (b.date, b.close)).toSeq
    if (got == want) Nil
    else Seq(s"history ${bars.head.symbol} $from..$to: ${got.length} rows, expected ${want.length}" +
      got.zip(want).find(p => p._1 != p._2).fold("")(p => s"; first mismatch ${p._1} vs ${p._2}"))
  }

  /** `latest_snapshot`: each symbol's last date and close. */
  def latest(truth: Map[String, Array[Bar]], got: Seq[(String, LocalDate, Double)]): Seq[String] = {
    val want = truth.toSeq.map { case (s, bars) => (s, bars.last.date, bars.last.close) }.sortBy(_._1)
    val g = got.sortBy(_._1)
    if (g == want) Nil
    else firstFew(Seq(s"latest: ${g.length} rows, expected ${want.length}") ++
      g.zip(want).collect { case (a, b) if a != b => s"latest $a expected $b" })
  }

  /** Day change in percent of every symbol trading on `date` that has a
    * previous bar, as the engine defines `day_change_pct`.
    */
  def dayChanges(truth: Map[String, Array[Bar]], date: LocalDate): Seq[(String, Double)] =
    truth.toSeq.flatMap { case (s, bars) =>
      val i = bars.indexWhere(_.date == date)
      if (i > 0) Some(s -> (bars(i).close - bars(i - 1).close) / bars(i - 1).close * 100) else None
    }

  /** `top_movers`: the 10 largest day changes on `date`, largest first. */
  def topMovers(truth: Map[String, Array[Bar]], date: LocalDate,
      got: Seq[(String, Double)]): Seq[String] = {
    val want = dayChanges(truth, date).sortBy(p => (-p._2, p._1)).take(10)
    val ok = got.length == want.length &&
      got.map(_._1).toSet == want.map(_._1).toSet &&
      got.zip(want).forall { case (a, b) => Oracle.close(Some(a._2), Some(b._2)) }
    if (ok) Nil else Seq(s"top_movers $date: $got expected $want")
  }

  /** `symbols_list`: every symbol once, sorted. */
  def symbols(truth: Map[String, Array[Bar]], got: Seq[String]): Seq[String] =
    if (got == truth.keys.toSeq.sorted) Nil
    else Seq(s"symbols: ${got.length} returned, expected ${truth.size}")

  /** Stream sink: one row per distinct generated (ticker, date), no
    * duplicate `es_id`, and the close of the first delivery.
    */
  def streamOutput(distinct: collection.Map[(String, String), Bar],
      got: Seq[(String, String, String, Double)]): Seq[String] = {
    val dup = uniqueKeys(got.map(_._1))
    val keys = got.map(r => (r._2, r._3)).toSet
    val missing = distinct.keySet.toSet -- keys
    val extra = keys -- distinct.keySet
    val wrong = got.collect {
      case (id, t, d, c) if distinct.get((t, d)).exists(_.close != c) => s"$id close $c != ${distinct((t, d)).close}"
      case (id, t, d, _) if id != s"${t}_$d" => s"es_id $id for ($t, $d)"
    }
    firstFew(dup ++ missing.take(3).map(k => s"missing $k") ++ extra.take(3).map(k => s"unexpected $k") ++ wrong)
  }
}
