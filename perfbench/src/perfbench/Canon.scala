package perfbench

import org.apache.spark.sql.Row

/** Order-free comparison of collected results. Doubles compare within a
  * relative 1e-9, since the same aggregate over a different file layout
  * may sum in another order. */
object Canon {
  type Rows = Vector[Vector[Any]]

  def of(rows: Array[Row]): Rows =
    rows.toVector.map(_.toSeq.toVector.map {
      case d: java.math.BigDecimal => d.doubleValue
      case x => x
    }).sortBy(sortKey)

  private def sortKey(r: Vector[Any]): String = r.map {
    case d: Double => f"$d%.4f"
    case null => "\u0000"
    case x => x.toString
  }.mkString("\u0001")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  /** None when equal, else a short description of the first difference. */
  def diff(actual: Rows, expected: Rows): Option[String] =
    if (actual.size != expected.size)
      Some(s"${actual.size} rows, expected ${expected.size}")
    else actual.zip(expected).collectFirst {
      case (a, e) if a.size != e.size || !a.zip(e).forall { case (x, y) => same(x, y) } =>
        s"row ${a.mkString(",")} != expected ${e.mkString(",")}"
    }
}
