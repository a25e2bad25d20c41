package perfbench

import org.apache.spark.sql.Row
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Result normalisation and comparison shared by the workload checkers.
  * Cells become `null`, `Long` (timestamps as epoch milliseconds, compared
  * exactly), `Double` (numbers, booleans, numeric strings; compared with a
  * relative tolerance of 1e-9) or `String`, so a facade's rendering
  * (rows, JSON bodies, JDBC frames) and a plain Spark reference compare
  * cell by cell.
  */
object Check {
  type Rows = Seq[Seq[Any]]

  private val IsoTs = """\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?Z?""".r
  private val Num = """-?\d+(\.\d+)?([eE][-+]?\d+)?""".r

  def cell(v: Any): Any = v match {
    case null                     => null
    case t: java.sql.Timestamp    => t.getTime
    case t: java.time.Instant     => t.toEpochMilli
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case b: Boolean               => if (b) 1.0 else 0.0
    case n: java.math.BigDecimal  => n.doubleValue
    case n: BigDecimal            => n.toDouble
    case n: java.lang.Number      => n.doubleValue
    case s: String => s match {
      case IsoTs(_) =>
        val z = s.replace(' ', 'T')
        java.time.Instant.parse(if (z.endsWith("Z")) z else z + "Z").toEpochMilli
      case Num(_, _) => s.toDouble
      case _         => s
    }
    case r: Row                   => r.toSeq.map(cell).mkString("{", ",", "}")
    case xs: Iterable[_]          => xs.map(cell).mkString("[", ",", "]")
    case x                        => x.toString
  }

  def rows(rs: Iterable[Row]): Rows = rs.map(_.toSeq.map(cell)).toSeq

  def json(v: JValue): Any = v match {
    case JNull | JNothing => null
    case JString(s)       => s
    case JInt(n)          => n.toDouble
    case JLong(n)         => n.toDouble
    case JDouble(d)       => d
    case JDecimal(d)      => d.toDouble
    case JBool(b)         => if (b) 1.0 else 0.0
    case JArray(xs)       => xs.map(json).map(cell).mkString("[", ",", "]")
    case o: JObject       => JsonMethods.compact(JsonMethods.render(o))
    case x                => x.toString
  }

  /** Rows of a SQL response body rendered with `"resultFormat": "array"`. */
  def arrayBody(body: String): Rows = JsonMethods.parse(body) match {
    case JArray(rs) => rs.map {
      case JArray(cs) => cs.map(c => cell(json(c)))
      case other      => Seq(cell(json(other)))
    }
    case other => throw new IllegalStateException(s"not an array body: ${other.getClass.getSimpleName}")
  }

  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null)             => true
    case (x: Double, y: Double)   =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x, y)                   => x == y
  }

  private def key(r: Seq[Any]): String = r.map {
    case null      => "\u0000"
    case d: Double => f"$d%.4e"
    case x         => x.toString
  }.mkString("\u0001")

  /** None when `got` matches `want` (as multisets unless `ordered`). */
  def compare(got: Rows, want: Rows, ordered: Boolean): Option[String] = {
    def show(rs: Rows) = rs.take(3).map(_.mkString("(", ", ", ")")).mkString(" ")
    if (got.size != want.size)
      return Some(s"row count ${got.size} != ${want.size}: got ${show(got)} want ${show(want)}")
    val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    g.zip(w).zipWithIndex.collectFirst {
      case ((gr, wr), i) if gr.size != wr.size || !gr.zip(wr).forall { case (x, y) => close(x, y) } =>
        s"row $i: got ${gr.mkString("(", ", ", ")")} want ${wr.mkString("(", ", ", ")")}"
    }
  }
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
