package graft.loadbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Measures a sink table with the same per-column statistics the
  * [[Ledger]] books, and lists every difference from what the ledger
  * expects. A load passes its check only when the list is empty.
  */
object Checker {
  import Wire._

  /** One aggregate over `df`: row count, then per column the non-null
    * count and the typed sum the ledger keeps for that column's kind.
    * Timestamps are summed as microseconds after the start of `date`.
    */
  def measure(df: DataFrame, date: java.time.LocalDate): TableStats = {
    val base = date.toEpochDay * 86_400_000_000L
    val aggs: Seq[Column] = count(lit(1)) +: names.zip(kinds).flatMap { case (n, k) =>
      val c = col(n)
      val sum0: Column = k match {
        case IntK => sum(c)
        case FloatK => sum(c)
        case BoolK => lit(0L)
        case TsK => sum(unix_micros(c) - base)
        case DateK => sum(unix_date(c).cast("long"))
        case StrK => sum(length(c).cast("long"))
      }
      Seq(count(c), sum0)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val s = new TableStats(rows = r.getLong(0))
    var i = 0
    while (i < Width) {
      s.nonNull(i) = r.getLong(1 + 2 * i)
      val v = r.get(2 + 2 * i)
      kinds(i) match {
        case FloatK => s.sumD(i) = if (v == null) 0.0 else v.asInstanceOf[Double]
        case _ => s.sumL(i) = if (v == null) 0L else v.asInstanceOf[Number].longValue
      }
      i += 1
    }
    s
  }

  /** Every way `actual` differs from `expected`, labelled with `what`.
    * Counts and integer sums must match exactly; double sums to a
    * relative 1e-9, which is far below what one row changes.
    */
  def compare(what: String, expected: TableStats, actual: TableStats): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (expected.rows != actual.rows)
      out += s"$what: rows ${actual.rows} != expected ${expected.rows}"
    var i = 0
    while (i < Width) {
      val n = names(i)
      if (expected.nonNull(i) != actual.nonNull(i))
        out += s"$what.$n: non-null ${actual.nonNull(i)} != expected ${expected.nonNull(i)}"
      if (expected.sumL(i) != actual.sumL(i))
        out += s"$what.$n: sum ${actual.sumL(i)} != expected ${expected.sumL(i)}"
      val (e, a) = (expected.sumD(i), actual.sumD(i))
      if (math.abs(e - a) > 1e-9 * math.max(1.0, math.abs(e)))
        out += s"$what.$n: sum $a != expected $e"
      i += 1
    }
    out.result()
  }

  /** Differences between two per-table row-count maps. */
  def compareCounts(what: String, expected: Map[String, Long],
      actual: Map[String, Long]): Seq[String] =
    (expected.keySet ++ actual.keySet).toSeq.sorted.flatMap { t =>
      val (e, a) = (expected.getOrElse(t, 0L), actual.getOrElse(t, 0L))
      if (e != a) Some(s"$what.$t: $a != expected $e") else None
    }
}
