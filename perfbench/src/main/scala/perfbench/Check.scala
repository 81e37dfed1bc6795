package perfbench

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}

/** Order- and type-insensitive comparison of a result against an oracle
  * answer, with the tolerance `tools/check_oracle.py` uses: columns
  * matched by name, rows sorted after rounding floats to 6 decimals,
  * integral values compared exactly, floating ones to 1e-5 relative plus
  * 1e-6 absolute. */
object Check {

  /** Canonical value: null, Long, Double, String or Seq of those.
    * Timestamps become UTC epoch microseconds and dates epoch days. */
  def canon(v: Any): Any = v match {
    case null => null
    case b: Boolean => if (b) 1L else 0L
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Long => x
    case x: Float => x.toDouble
    case x: Double => x
    case x: java.math.BigDecimal =>
      if (x.scale <= 0 && x.precision - x.scale < 19) x.longValueExact else x.doubleValue
    case x: BigDecimal => canon(x.bigDecimal)
    case x: java.math.BigInteger => x.longValue
    case s: String => s
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: Instant => micros(t)
    case t: LocalDateTime => micros(t.toInstant(ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: LocalDate => d.toEpochDay
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sortBy(sortKey)
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case a: Array[_] => a.toSeq.map(canon)
    case s: Iterable[_] => s.toSeq.map(canon)
    case other => other.toString
  }

  private def micros(i: Instant): Long = i.getEpochSecond * 1000000L + i.getNano / 1000

  private def sortKey(v: Any): String = v match {
    case null => "~null"
    case x: Long => x.toString
    case x: Double => if (x.isNaN) "NaN" else if (x == math.rint(x) && math.abs(x) < 9e15) x.toLong.toString else math.rint(x * 1e6).toString
    case s: Seq[_] => s.map(sortKey).mkString("[", ",", "]")
    case other => other.toString
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-6 + 1e-5 * math.abs(y)
    case (x: Long, y: Double) => same(x.toDouble, y)
    case (x: Double, y: Long) => same(x, y.toDouble)
    case (x: Seq[_], y: Seq[_]) => x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Sorted canonical rows of a frame's collected result, columns by name. */
  def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    rows(df.columns.toSeq, df.collect())

  def rows(names: Seq[String], collected: Array[Row]): (Seq[String], Seq[Seq[Any]]) = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val rs = collected.toSeq.map(r => order.map(i => canon(r.get(i))))
    (order.map(names), rs.map(r => (r.map(sortKey).mkString("|"), r)).sortBy(_._1).map(_._2))
  }

  /** None when `got` matches `expected`, else a one-line reason. */
  def compare(got: DataFrame, expected: DataFrame): Option[String] =
    compare(rows(got), rows(expected))

  def compare(got: (Seq[String], Seq[Seq[Any]]),
              expected: (Seq[String], Seq[Seq[Any]])): Option[String] = {
    val (gc, gr) = got
    val (ec, er) = expected
    if (gc != ec) Some(s"columns ${gc.mkString(",")} vs ${ec.mkString(",")}")
    else if (gr.length != er.length) Some(s"${gr.length} rows vs ${er.length}")
    else gr.zip(er).indexWhere { case (g, e) => !same(g, e) } match {
      case -1 => None
      case i => Some(s"row $i: ${gr(i).mkString(",")} vs ${er(i).mkString(",")}".take(300))
    }
  }
}
