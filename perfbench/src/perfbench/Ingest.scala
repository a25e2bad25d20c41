package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

/** Inputs of the `ingest_mixed` workload: day batches of raw events, late
  * corrections for re-indexed days, the write schedule and the dashboard
  * set. Everything derives from the seed; the warehouse sees only what the
  * writer's INSERT/REPLACE statements put there.
  */
final class IngestPlan(seed: Long) {
  val Day0Ms: Long = 1709251200000L // 2024-03-01
  val EventsPerDay = 1500
  val LatePerDay = 150
  val InitialDays = 1
  val MaxWrites = 400
  val Table = "wh_events"

  /** Raw events of day `d`; `late` selects the correction set of the day. */
  def batch(d: Int, late: Boolean): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed * 1000003L + (if (late) 5000 else 1000) + d)
    val n = if (late) LatePerDay else EventsPerDay
    val ts = Array.fill(n)(Day0Ms + d * Gen.DayMs + (r.nextDouble() * Gen.DayMs).toLong).sorted
    ts.indices.map(i => Gen.event(r, (d.toLong << 20) + (if (late) 1 << 19 else 0) + i, ts(i)))
  }

  /** One write: INSERT of day `day`, or REPLACE of an earlier day with its
    * raw events plus the day's late corrections.
    */
  final case class Write(replace: Boolean, day: Int)

  /** Writes after the initial days: every third write, starting with the
    * second, re-indexes a seeded earlier day.
    */
  val writes: IndexedSeq[Write] = {
    val r = new SplittableRandom(seed * 1000003L + 77)
    var next = InitialDays
    (0 until MaxWrites).map { k =>
      if (k % 3 == 1) Write(replace = true, r.nextInt(next))
      else { next += 1; Write(replace = false, next - 1) }
    }
  }

  private def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString.take(10)
  private def rollup(src: String): String =
    s"""SELECT TIME_FLOOR(ts, 'PT1H') AS __time, event_type, JSON_VALUE(props, '$$.country') AS country,
       |COUNT(*) AS cnt, SUM(value) AS sum_value, MAX(user_id) AS max_user
       |FROM $src GROUP BY 1, 2, 3""".stripMargin

  def insertSql(src: String): String =
    s"INSERT INTO $Table ${rollup(src)} PARTITIONED BY DAY"

  def replaceSql(day: Int, src: String): String =
    s"REPLACE INTO $Table OVERWRITE WHERE __time >= TIMESTAMP '${iso(Day0Ms + day * Gen.DayMs)}' " +
      s"AND __time < TIMESTAMP '${iso(Day0Ms + (day + 1) * Gen.DayMs)}' ${rollup(src)} PARTITIONED BY DAY"

  /** Dashboard queries: (graft Druid SQL, plain Spark reference over the
    * `states` view grouped additionally by state number `m`).
    */
  val dashboards: IndexedSeq[(String, String)] = {
    def both(f: (String, String, String => String) => String): (String, String) = (
      f(Table, "", p => s"TIME_FLOOR(__time, '$p')"),
      f("states", "m, ", {
        case "P1D" => "date_trunc('DAY', __time)"
        case "PT6H" => "timestamp_seconds(floor(unix_seconds(__time) / 21600) * 21600)"
      }))
    IndexedSeq(
      both((t, m, _) => s"SELECT ${m}event_type, SUM(cnt) AS n, SUM(sum_value) AS s FROM $t GROUP BY ${m}event_type"),
      both((t, m, b) => s"SELECT ${m}${b("P1D")} AS d, SUM(cnt) AS n FROM $t GROUP BY $m${b("P1D")}"),
      both((t, m, _) => s"SELECT ${m}country, SUM(cnt) AS n, MAX(max_user) AS mu FROM $t GROUP BY ${m}country"),
      both((t, m, b) => s"SELECT ${m}${b("P1D")} AS d, event_type, SUM(sum_value) AS s FROM $t " +
        s"WHERE event_type IN ('purchase', 'signup') GROUP BY $m${b("P1D")}, event_type"),
      both((t, m, _) => s"SELECT ${m}COUNT(*) AS stored, SUM(cnt) AS n FROM $t" +
        (if (m.isEmpty) "" else " GROUP BY m")),
      both((t, m, _) => s"SELECT ${m}country, event_type, SUM(cnt) AS n FROM $t " +
        s"WHERE country IN ('US', 'DE') GROUP BY ${m}country, event_type"),
      both((t, m, b) => s"SELECT ${m}${b("PT6H")} AS t, SUM(cnt) AS n FROM $t GROUP BY $m${b("PT6H")}"),
      both((t, m, _) => s"SELECT ${m}event_type, SUM(sum_value) / SUM(cnt) AS avg_value FROM $t GROUP BY ${m}event_type"))
  }

  def dashboardPayload(i: Int): String =
    s"""{"query": ${"\"" + dashboards(i)._1.replace("\"", "\\\"") + "\""}, "resultFormat": "array",
       |"context": {"useCache": true, "populateCache": true}}""".stripMargin

  /** Day → version (0 raw, 1 raw + late) after the initial days and the
    * first `m` writes.
    */
  def state(m: Int): Map[Int, Int] = {
    val init = (0 until InitialDays).map(_ -> 0).toMap
    writes.take(m).foldLeft(init) { (s, w) => s + (w.day -> (if (w.replace) 1 else 0)) }
  }

  /** Register the reference `states` view in a plain session: the warehouse
    * content after each of states 0..`maxM`, rolled up like the INSERTs.
    */
  def registerStates(plain: SparkSession, maxM: Int): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val days = state(maxM).keySet ++ writes.take(maxM).map(_.day)
    val raw = days.toSeq.sorted.flatMap { d =>
      batch(d, late = false).map(r => Row.fromSeq(r.toSeq :+ d :+ 0)) ++
        batch(d, late = true).map(r => Row.fromSeq(r.toSeq :+ d :+ 1))
    }
    val schema = StructType(Gen.EventSchema.fields ++ Seq(StructField("day", IntegerType), StructField("late", IntegerType)))
    plain.createDataFrame(raw.asJava, schema).createOrReplaceTempView("raw_versions")
    val mapRows = (0 to maxM).flatMap(m => state(m).toSeq.map { case (d, v) => Row(m, d, v) })
    plain.createDataFrame(mapRows.asJava, StructType(Seq(StructField("m", IntegerType),
      StructField("day", IntegerType), StructField("version", IntegerType))))
      .createOrReplaceTempView("state_map")
    plain.sql(
      """SELECT s.m, date_trunc('HOUR', r.ts) AS __time, r.event_type,
        |get_json_object(r.props, '$.country') AS country, count(*) AS cnt,
        |sum(r.value) AS sum_value, max(r.user_id) AS max_user
        |FROM raw_versions r JOIN state_map s ON r.day = s.day AND r.late <= s.version
        |GROUP BY 1, 2, 3, 4""".stripMargin).persist().createOrReplaceTempView("states")
  }

  /** Bytes of the raw events of the first `m` writes plus the initial
    * days, as JSON lines: the source size a stream ingest would receive.
    */
  def sourceBytes(m: Int): Long = {
    def json(r: Row): Long =
      (s"""{"event_id":${r.get(0)},"ts":"${r.getTimestamp(1).toInstant}","user_id":${r.get(2)},""" +
        s""""event_type":"${r.get(3)}","value":${r.get(4)},"props":${r.get(5)}}""" + "\n").getBytes("UTF-8").length
    val ops = (0 until InitialDays).map(d => (d, false)) ++
      writes.take(m).flatMap(w => if (w.replace) Seq((w.day, false), (w.day, true)) else Seq((w.day, false)))
    ops.map { case (d, l) => batch(d, l).map(json).sum }.sum
  }
}
