package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.api.{JdbcApi, NativeJsonQuery, SqlApi}

/** One generated OLAP request. `payload` is native JSON (`native`), a
  * Druid SQL request body (`sql`) or the parameter list of a prepared
  * statement (`jdbc`, template `stmt`). `ref` is the same question in plain
  * Spark SQL over the raw tables; `approx` lists result columns produced by
  * an approximate aggregator, compared with `ApproxTol`.
  */
final case class Query(kind: String, api: String, payload: String, ref: String,
                       stmt: Int = -1, params: Seq[Any] = Nil,
                       ordered: Boolean = false, approx: Set[Int] = Set.empty)

/** Seeded OLAP request stream. Weights: ~60% native JSON, ~30% Druid SQL,
  * ~10% star joins with typed parameters (half through JDBC prepared
  * statements). Intervals are drawn at minute (events) or day (TPC-H)
  * resolution, so exact repeats are vanishingly rare; the run reports the
  * share it saw.
  */
object OlapGen {
  val ApproxTol = 0.15
  private val MinuteMs = 60000L
  private val EventMinutes = Gen.EventDays * 1440

  /** JDBC prepared-statement templates, prepared once per client. */
  val JdbcTemplates: Seq[String] = Seq(
    """SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue, COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = ? AND o_orderdate >= ? AND o_orderdate < ? GROUP BY n_name""".stripMargin,
    """SELECT p_brand, SUM(l_extendedprice) AS rev, SUM(l_quantity) AS qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_type = ? AND n_regionkey = ? AND l_shipdate >= ? AND l_shipdate < ?
      |GROUP BY p_brand""".stripMargin)

  private val kinds: Seq[(String, Int)] = Seq(
    "timeseries" -> 14, "topN" -> 12, "groupBy" -> 12, "timeBoundary" -> 6,
    "scan" -> 8, "search" -> 8,
    "sql_timefloor" -> 9, "sql_approx_distinct" -> 7, "sql_json_value" -> 7, "sql_window" -> 7,
    "star_sql" -> 5, "star_jdbc" -> 5)
  val Kinds: Seq[String] = kinds.map(_._1)

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def q(s: String) = "'" + s.replace("'", "''") + "'"
  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
  private def sqlTs(ms: Long): String =
    iso(ms).replace("T", " ").stripSuffix("Z").stripSuffix(".000")

  /** Random event interval [a, b), at least an hour, at most ten days. */
  private def eventInterval(r: SplittableRandom): (Long, Long) = {
    val s = r.nextInt(EventMinutes - 60)
    val len = 60 + r.nextInt(10 * 1440)
    val e = math.min(EventMinutes, s + len)
    (Gen.Day0Ms + s * MinuteMs, Gen.Day0Ms + e * MinuteMs)
  }

  private def orderInterval(r: SplittableRandom): (Long, Long) = {
    val s = r.nextInt(Gen.OrderDays - 30)
    val e = math.min(Gen.OrderDays, s + 30 + r.nextInt(720))
    (Gen.OrderDay0Ms + s * Gen.DayMs, Gen.OrderDay0Ms + e * Gen.DayMs)
  }

  private def types(r: SplittableRandom): Seq[String] = {
    val n = 1 + r.nextInt(3)
    scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(Gen.EventTypes).take(n).sorted
  }

  /** The request kinds in their weighted proportions, evenly interleaved
    * (smooth weighted round robin). Every run sends the same mix of kinds,
    * so runs differ only in the seeded parameters; client `c` starts a
    * `1/nproc` of the way into the cycle.
    */
  val Schedule: IndexedSeq[String] = {
    val total = kinds.map(_._2).sum
    val cur = Array.fill(kinds.size)(0)
    (0 until total).map { _ =>
      kinds.indices.foreach(i => cur(i) += kinds(i)._2)
      val best = cur.indices.maxBy(cur)
      cur(best) -= total
      kinds(best)._1
    }
  }

  /** The `i`-th request of a client whose cycle starts at `offset`. */
  def request(r: SplittableRandom, offset: Int, i: Int): Query =
    make(Schedule((offset + i) % Schedule.size), r)

  def make(kind: String, r: SplittableRandom): Query = kind match {
    case "timeseries" =>
      val (a, b) = eventInterval(r)
      val (gran, refBucket) = pick(r, Seq(
        "\"hour\"" -> "date_trunc('HOUR', ts)",
        "\"day\"" -> "date_trunc('DAY', ts)",
        """{"type": "period", "period": "PT6H"}""" -> "timestamp_seconds(floor(unix_seconds(ts) / 21600) * 21600)"))
      val ts = types(r)
      Query(kind, "native",
        s"""{"queryType": "timeseries", "dataSource": "events", "granularity": $gran,
           |"intervals": ["${iso(a)}/${iso(b)}"],
           |"filter": {"type": "in", "dimension": "event_type", "values": [${ts.map(jstr).mkString(", ")}]},
           |"aggregations": [{"type": "count", "name": "n"},
           |  {"type": "doubleSum", "name": "s", "fieldName": "value"},
           |  {"type": "longMax", "name": "mu", "fieldName": "user_id"}],
           |"context": {"skipEmptyBuckets": true}}""".stripMargin,
        s"""SELECT $refBucket AS t, count(*) AS n, sum(value) AS s, max(user_id) AS mu
           |FROM events WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b)
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1""".stripMargin)
    case "topN" =>
      val (a, b) = eventInterval(r)
      val k = 3 + r.nextInt(18)
      val t = pick(r, Gen.EventTypes)
      Query(kind, "native",
        s"""{"queryType": "topN", "dataSource": "events", "granularity": "all",
           |"intervals": ["${iso(a)}/${iso(b)}"], "dimension": "user_id", "threshold": $k,
           |"metric": "s",
           |"filter": {"type": "not", "field": {"type": "selector", "dimension": "event_type", "value": ${jstr(t)}}},
           |"aggregations": [{"type": "doubleSum", "name": "s", "fieldName": "value"},
           |  {"type": "count", "name": "n"}]}""".stripMargin,
        s"""SELECT user_id, sum(value) AS s, count(*) AS n FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b) AND event_type <> ${q(t)}
           |GROUP BY user_id ORDER BY s DESC LIMIT $k""".stripMargin)
    case "groupBy" if r.nextInt(3) == 0 =>
      val (a, b) = orderInterval(r)
      Query(kind, "native",
        s"""{"queryType": "groupBy", "dataSource": "lineitem", "granularity": "all",
           |"intervals": ["${iso(a)}/${iso(b)}"], "dimensions": ["l_returnflag", "l_linestatus"],
           |"aggregations": [{"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"},
           |  {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"},
           |  {"type": "count", "name": "n"}]}""".stripMargin,
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), count(*)
           |FROM lineitem WHERE l_shipdate >= timestamp_millis($a) AND l_shipdate < timestamp_millis($b)
           |GROUP BY 1, 2""".stripMargin)
    case "groupBy" =>
      val (a, b) = eventInterval(r)
      val ts = types(r)
      Query(kind, "native",
        s"""{"queryType": "groupBy", "dataSource": "events", "granularity": "all",
           |"intervals": ["${iso(a)}/${iso(b)}"],
           |"virtualColumns": [{"type": "expression", "name": "country",
           |  "expression": "json_value(props, '$$.country')", "outputType": "STRING"},
           |  {"type": "expression", "name": "day",
           |  "expression": "timestamp_floor(__time, 'P1D')", "outputType": "LONG"}],
           |"dimensions": ["day", "event_type", "country"],
           |"filter": {"type": "in", "dimension": "event_type", "values": [${ts.map(jstr).mkString(", ")}]},
           |"aggregations": [{"type": "count", "name": "n"},
           |  {"type": "doubleSum", "name": "s", "fieldName": "value"}]}""".stripMargin,
        s"""SELECT date_trunc('DAY', ts), event_type, get_json_object(props, '$$.country') AS country,
           |count(*), sum(value) FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b)
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1, 2, 3""".stripMargin)
    case "timeBoundary" =>
      val (a, b) = eventInterval(r)
      val t = pick(r, Gen.EventTypes)
      Query(kind, "native",
        s"""{"queryType": "timeBoundary", "dataSource": "events",
           |"intervals": ["${iso(a)}/${iso(b)}"],
           |"filter": {"type": "selector", "dimension": "event_type", "value": ${jstr(t)}}}""".stripMargin,
        s"""SELECT min(ts), max(ts) FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b) AND event_type = ${q(t)}""".stripMargin)
    case "scan" =>
      val (a, b) = eventInterval(r)
      val t = pick(r, Gen.EventTypes)
      val lim = 5 + r.nextInt(46)
      Query(kind, "native",
        s"""{"queryType": "scan", "dataSource": "events", "intervals": ["${iso(a)}/${iso(b)}"],
           |"columns": ["__time", "event_id", "user_id", "event_type", "value"],
           |"filter": {"type": "selector", "dimension": "event_type", "value": ${jstr(t)}},
           |"order": "ascending", "limit": $lim}""".stripMargin,
        s"""SELECT ts, event_id, user_id, event_type, value FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b) AND event_type = ${q(t)}
           |ORDER BY ts, event_id LIMIT $lim""".stripMargin, ordered = true)
    case "search" =>
      val w = pick(r, Gen.PartWords ++ Gen.PartTypes.map(_.toLowerCase))
      val from = r.nextInt(w.length - 1)
      val needle = w.substring(from, math.min(w.length, from + 2 + r.nextInt(3)))
      val brands = (1 to 3).map(_ => "Brand#" + (1 + r.nextInt(25))).distinct.sorted
      val filt = s"p_brand IN (${brands.map(q).mkString(", ")})"
      def refDim(d: String) =
        s"SELECT '$d' AS dimension, $d AS value, count(*) AS cnt FROM part " +
          s"WHERE lower($d) LIKE ${q("%" + needle + "%")} AND $filt GROUP BY $d"
      Query(kind, "native",
        s"""{"queryType": "search", "dataSource": "part", "searchDimensions": ["p_name", "p_type"],
           |"query": {"type": "contains", "value": ${jstr(needle)}},
           |"filter": {"type": "in", "dimension": "p_brand", "values": [${brands.map(jstr).mkString(", ")}]}}""".stripMargin,
        refDim("p_name") + " UNION ALL " + refDim("p_type"))
    case "sql_timefloor" =>
      val (a, b) = eventInterval(r)
      val (p, unit) = pick(r, Seq("PT1H" -> "HOUR", "P1D" -> "DAY"))
      val ts = types(r)
      sql(kind,
        s"""SELECT TIME_FLOOR(ts, '$p') AS t, event_type, COUNT(*) AS n, SUM(value) AS s
           |FROM events WHERE ts >= TIMESTAMP '${sqlTs(a)}' AND ts < TIMESTAMP '${sqlTs(b)}'
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1, 2""".stripMargin,
        s"""SELECT date_trunc('$unit', ts) AS t, event_type, count(*), sum(value) FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b)
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1, 2""".stripMargin)
    case "sql_approx_distinct" =>
      val (a, b) = eventInterval(r)
      val u = 40 + r.nextInt(120)
      sql(kind,
        s"""SELECT event_type, APPROX_COUNT_DISTINCT(user_id) AS u, COUNT(*) AS n
           |FROM events WHERE ts >= TIMESTAMP '${sqlTs(a)}' AND ts < TIMESTAMP '${sqlTs(b)}'
           |AND user_id < $u GROUP BY event_type""".stripMargin,
        s"""SELECT event_type, count(DISTINCT user_id), count(*) FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b) AND user_id < $u
           |GROUP BY event_type""".stripMargin, approx = Set(1))
    case "sql_json_value" =>
      val (a, b) = eventInterval(r)
      val k = 10 + r.nextInt(90)
      sql(kind,
        s"""SELECT JSON_VALUE(props, '$$.country') AS country, JSON_VALUE(props, '$$.device') AS device,
           |COUNT(*) AS n, SUM(value) AS s FROM events
           |WHERE ts >= TIMESTAMP '${sqlTs(a)}' AND ts < TIMESTAMP '${sqlTs(b)}'
           |AND CAST(JSON_VALUE(props, '$$.k') AS BIGINT) < $k GROUP BY 1, 2""".stripMargin,
        s"""SELECT get_json_object(props, '$$.country'), get_json_object(props, '$$.device'),
           |count(*), sum(value) FROM events
           |WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b)
           |AND CAST(get_json_object(props, '$$.k') AS BIGINT) < $k GROUP BY 1, 2""".stripMargin)
    case "sql_window" =>
      val (a, b) = eventInterval(r)
      val ts = types(r)
      sql(kind,
        s"""SELECT event_type, TIME_FLOOR(ts, 'P1D') AS d, COUNT(*) AS n,
           |SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY TIME_FLOOR(ts, 'P1D')) AS running
           |FROM events WHERE ts >= TIMESTAMP '${sqlTs(a)}' AND ts < TIMESTAMP '${sqlTs(b)}'
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1, 2""".stripMargin,
        s"""SELECT event_type, date_trunc('DAY', ts) AS d, count(*) AS n,
           |sum(count(*)) OVER (PARTITION BY event_type ORDER BY date_trunc('DAY', ts)) AS running
           |FROM events WHERE ts >= timestamp_millis($a) AND ts < timestamp_millis($b)
           |AND event_type IN (${ts.map(q).mkString(", ")}) GROUP BY 1, 2""".stripMargin)
    case "star_sql" | "star_jdbc" =>
      val tmpl = r.nextInt(JdbcTemplates.size)
      val params: Seq[Any] = tmpl match {
        case 0 =>
          val (a, b) = orderInterval(r)
          Seq(pick(r, Gen.Regions), new java.sql.Timestamp(a), new java.sql.Timestamp(b))
        case _ =>
          val (a, b) = orderInterval(r)
          Seq(pick(r, Gen.PartTypes), r.nextInt(Gen.Regions.size).toLong,
            new java.sql.Timestamp(a), new java.sql.Timestamp(b))
      }
      val lit: Any => String = {
        case s: String             => q(s)
        case t: java.sql.Timestamp => s"timestamp_millis(${t.getTime})"
        case x                     => x.toString
      }
      val parts = JdbcTemplates(tmpl).split("\\?", -1)
      val ref = parts.zipAll(params.map(lit), "", "").map { case (s, p) => s + p }.mkString
      if (kind == "star_jdbc") Query(kind, "jdbc", "", ref, stmt = tmpl, params = params)
      else {
        val typed = params.map {
          case s: String             => s"""{"type": "VARCHAR", "value": ${jstr(s)}}"""
          case t: java.sql.Timestamp => s"""{"type": "TIMESTAMP", "value": ${jstr(sqlTs(t.getTime))}}"""
          case l: Long               => s"""{"type": "BIGINT", "value": $l}"""
          case x                     => throw new IllegalArgumentException(x.toString)
        }
        Query(kind, "sql", s"""{"query": ${jstr(JdbcTemplates(tmpl))}, "resultFormat": "array",
                              |"parameters": [${typed.mkString(", ")}]}""".stripMargin, ref)
      }
  }

  private def sql(kind: String, text: String, ref: String, approx: Set[Int] = Set.empty): Query =
    Query(kind, "sql", s"""{"query": ${jstr(text)}, "resultFormat": "array"}""", ref, approx = approx)
}

/** Facade calls of the `olap` workload, one client connection each. */
final class OlapClient(spark: SparkSession, dir: String, id: String) {
  private val conn = s"perfbench-$id-${java.util.UUID.randomUUID()}"
  JdbcApi.openConnection(conn)
  private val stmts: Seq[Int] =
    OlapGen.JdbcTemplates.map(t => JdbcApi.prepareStatement(spark, dir, conn, t)._1)

  def run(q: Query): Check.Rows = q.api match {
    case "native" => Check.rows(NativeJsonQuery.execute(spark, dir, q.payload))
    case "sql"    => Check.arrayBody(SqlApi.execute(spark, dir, q.payload))
    case "jdbc" =>
      var f = JdbcApi.execute(spark, dir, conn, stmts(q.stmt), q.params)
      val out = Seq.newBuilder[Seq[Any]]
      out ++= f.rows.map(_.toSeq.map(Check.cell))
      while (!f.done) {
        f = JdbcApi.nextFrame(conn, stmts(q.stmt), f.offset + f.rows.size, JdbcApi.MaxRowsPerFrame)
        out ++= f.rows.map(_.toSeq.map(Check.cell))
      }
      out.result()
  }

  def close(): Unit = JdbcApi.closeConnection(conn)
}

object OlapCheck {
  /** None when `got` answers `q` as its plain-Spark reference `want` does. */
  def check(q: Query, got: Check.Rows, want: Check.Rows): Option[String] =
    if (q.approx.isEmpty) Check.compare(got, want, q.ordered)
    else {
      // approximate columns: replace by the reference value when within
      // tolerance, then compare the rest exactly
      val key = (r: Seq[Any]) => r.zipWithIndex.filterNot(c => q.approx(c._2)).map(_._1.toString).mkString("\u0001")
      val w = want.map(r => key(r) -> r).toMap
      val fixed = got.map { r =>
        w.get(key(r)) match {
          case Some(ref) => r.zip(ref).zipWithIndex.map {
            case ((g: Double, e: Double), i) if q.approx(i) &&
                math.abs(g - e) <= math.max(2.0, OlapGen.ApproxTol * e) => e
            case ((g, _), _) => g
          }
          case None => r
        }
      }
      Check.compare(fixed, want, q.ordered)
    }
}
