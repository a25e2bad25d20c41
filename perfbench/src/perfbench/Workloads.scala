package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream,
  ObjectInputStream, ObjectOutputStream}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.Tables
import graft.api.SqlApi

/** One timed operation. `read` marks the operations the latency and
  * throughput metrics count; `phase` is 0 untraced, 1 traced.
  */
final case class Op(id: String, kind: String, startMs: Double, ms: Double, ok: Boolean, rows: Long,
                    read: Boolean, phase: Int, client: Int, error: String = "")

/** A workload: set-up work done once per session build, a timed loop, and
  * a correctness check that runs in a plain Spark session afterwards.
  */
abstract class Workload(val seed: Long, val dir: String, val work: String, val nproc: Int) {
  val ops = new ConcurrentLinkedQueue[Op]()
  /** Register tables and warm up a freshly built session (part of `setup_s`). */
  def setup(spark: SparkSession, round: Int): Unit
  /** Run the timed loop for `seconds`; `tracer` is set in the traced phase. */
  def measure(spark: SparkSession, seconds: Double, phase: Int, tracer: Option[Tracer]): Unit
  /** Release facade resources held for the session. */
  def teardown(spark: SparkSession): Unit = ()
  /** Check recorded outputs; returns (attempted, failed, first errors). */
  def verify(plain: SparkSession): (Long, Long, Seq[String])
  /** Median wall time of one batch of the workload, in ms. */
  def batchMs: Double
  /** Seconds in which the untraced `reads` ran, for `throughput_qps`:
    * from the first one's start to the last one's end.
    */
  def readSeconds(reads: Seq[Op]): Double =
    if (reads.isEmpty) 1.0 else (reads.map(o => o.startMs + o.ms).max - reads.map(_.startMs).min) / 1000
  /** Write the operation records and the outputs kept for the checks
    * under `file` and drop them from the heap, so that `retained_heap_mb`
    * sees none of them.
    */
  def park(file: String): Unit = { parkQueue(ops, s"$file.ops"); parkOutputs(file) }
  /** Read back what [[park]] wrote. */
  def unpark(file: String): Unit = { unparkQueue(ops, s"$file.ops"); unparkOutputs(file) }
  protected def parkOutputs(file: String): Unit
  protected def unparkOutputs(file: String): Unit

  protected def parkQueue[T](q: ConcurrentLinkedQueue[T], file: String): Unit = {
    val out = new ObjectOutputStream(new BufferedOutputStream(new FileOutputStream(file)))
    try out.writeObject(new java.util.ArrayList[T](q)) finally out.close()
    q.clear()
  }
  protected def unparkQueue[T](q: ConcurrentLinkedQueue[T], file: String): Unit = {
    val in = new ObjectInputStream(new BufferedInputStream(new FileInputStream(file)))
    try q.addAll(in.readObject().asInstanceOf[java.util.ArrayList[T]]) finally in.close()
  }
  def extra: Seq[Metric]
  def layerExtra(tracer: Tracer): Seq[Metric]

  protected def timed[T](kind: String, phase: Int, client: Int, read: Boolean, tracer: Option[Tracer])
                        (body: => (T, Long)): (Option[T], Op) = {
    val op = s"$kind-$client-${ops.size}-${System.nanoTime()}"
    val s = Clock.nowMs
    val t0 = System.nanoTime()
    try {
      val (v, rows) = tracer match {
        case Some(t) => t.withOp(op)(t.span(op, "op")(body))
        case None    => body
      }
      val o = Op(op, kind, s, (System.nanoTime() - t0) / 1e6, ok = true, rows, read, phase, client)
      ops.add(o)
      (Some(v), o)
    } catch {
      case e: Throwable =>
        val o = Op(op, kind, s, (System.nanoTime() - t0) / 1e6, ok = false, 0, read, phase, client,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        ops.add(o)
        (None, o)
    }
  }

  protected def parallel(n: Int)(f: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map(i => new Thread(() => try f(i) catch { case e: Throwable => errors.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Facade build time of each traced operation whose id passes `keep`:
    * from its start to its first Spark job (its whole time when it ran none).
    */
  protected def buildMs(tracer: Tracer, keep: String => Boolean): Seq[Double] = {
    val byOp = tracer.spans.asScala.groupBy(_.op)
    tracer.spans.asScala.filter(s => s.layer == "op" && keep(s.op)).toSeq.map { r =>
      byOp.getOrElse(r.op, Nil).filter(_.layer == "exec").map(_.startMs).minOption
        .map(_ - r.startMs).getOrElse(r.ms)
    }
  }

  /** Per-layer `api.*` metrics over the traced phase. */
  protected def apiLayer(tracer: Tracer, hits: Long, lookups: Long): Seq[Metric] = {
    val traced = ops.asScala.filter(o => o.phase == 1 && o.read).toSeq
    val readIds = traced.map(_.id).toSet
    Seq(
      Metric("api.build_ms", Stats.median(buildMs(tracer, readIds)), "ms"),
      Metric("api.result_cache_hit_frac", if (lookups > 0) hits.toDouble / lookups else 0.0, "frac"),
      Metric("api.result_cache_lookups", lookups.toDouble, "count"),
      Metric("api.rows_returned", traced.map(_.rows).sum.toDouble / math.max(1, traced.size), "count"))
  }
}

// ---------------------------------------------------------------- olap ----

/** `olap`: `nproc` closed-loop clients share one session and issue distinct
  * seeded requests through `NativeJsonQuery.execute`, `SqlApi.execute` and
  * `JdbcApi` prepared statements, with every result cache off.
  */
final class OlapWorkload(seed: Long, dir: String, work: String, nproc: Int)
    extends Workload(seed, dir, work, nproc) {
  /** A dashboard page: the batch is this many consecutive requests of one client. */
  val PageSize = 8
  private var clients: IndexedSeq[OlapClient] = IndexedSeq.empty
  private val results = new ConcurrentLinkedQueue[(Query, Check.Rows)]()
  private val streams = (0 until nproc).map(c => new SplittableRandom(seed * 7919L + 100 + c))
  private val sent = new Array[Int](nproc)

  def setup(spark: SparkSession, round: Int): Unit = {
    Tables.registerAll(spark, dir)
    val cs = new Array[OlapClient](nproc)
    parallel(nproc)(c => cs(c) = new OlapClient(spark, dir, s"c$c"))
    clients = cs.toIndexedSeq
    // warm-up: every request kind once, spread over the clients, from a
    // stream of its own
    val warm = new SplittableRandom(seed * 7919L + 7 + round)
    val qs = OlapGen.Kinds.map(k => OlapGen.make(k, warm))
    parallel(nproc)(c => qs.indices.filter(_ % nproc == c).foreach(i => clients(c).run(qs(i))))
  }

  override def teardown(spark: SparkSession): Unit = clients.foreach(_.close())

  def measure(spark: SparkSession, seconds: Double, phase: Int, tracer: Option[Tracer]): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    parallel(nproc) { c =>
      while (System.nanoTime() < deadline) {
        val q = OlapGen.request(streams(c), c * OlapGen.Schedule.size / nproc, sent(c))
        sent(c) += 1
        timed(q.kind, phase, c, read = true, tracer) {
          val rows = clients(c).run(q)
          (rows, rows.size.toLong)
        }._1.foreach(rows => results.add((q, rows)))
      }
    }
  }

  def batchMs: Double = Stats.median(ops.asScala.filter(o => o.phase == 0).groupBy(_.client).values
    .flatMap(_.toSeq.sortBy(_.startMs).grouped(PageSize).filter(_.size == PageSize).map(_.map(_.ms).sum)).toSeq)

  def verify(plain: SparkSession): (Long, Long, Seq[String]) = {
    val rs = results.asScala.toIndexedSeq
    val errs = new ConcurrentLinkedQueue[String]()
    val next = new AtomicInteger()
    parallel(nproc) { _ =>
      var i = next.getAndIncrement()
      while (i < rs.size) {
        val (q, got) = rs(i)
        val want = try Check.rows(plain.sql(q.ref).collect()) catch {
          case e: Throwable => errs.add(s"${q.kind}: reference failed: $e"); null
        }
        if (want != null) OlapCheck.check(q, got, want).foreach(m => errs.add(s"${q.kind}: $m; ${q.payload.take(400)}"))
        i = next.getAndIncrement()
      }
    }
    val failedOps = ops.asScala.filterNot(_.ok).map(o => s"${o.kind}: ${o.error}")
    (ops.size.toLong, failedOps.size + errs.size.toLong, (failedOps ++ errs.asScala).take(5).toSeq)
  }

  def extra: Seq[Metric] = {
    val texts = results.asScala.toSeq.map(x => x._1.payload + x._1.params.mkString(","))
    Seq(Metric("olap.exact_repeat_frac", 1.0 - texts.distinct.size.toDouble / math.max(1, texts.size), "frac"),
      Metric("olap.star_join_p50_ms", Stats.median(ops.asScala.filter(_.kind.startsWith("star")).map(_.ms).toSeq), "ms")) ++
      OlapGen.Kinds.map(k => Metric(s"olap.$k.p50_ms", Stats.median(ops.asScala.filter(_.kind == k).map(_.ms).toSeq), "ms"))
  }

  def layerExtra(tracer: Tracer): Seq[Metric] = apiLayer(tracer, 0, 0)

  protected def parkOutputs(file: String): Unit = parkQueue(results, file)
  protected def unparkOutputs(file: String): Unit = unparkQueue(results, file)
}

// ------------------------------------------------------------ pipeline ----

/** `pipeline`: one client runs full curation passes back to back. */
final class PipelineWorkload(seed: Long, dir: String, work: String, nproc: Int)
    extends Workload(seed, dir, work, nproc) {
  private val outs = new ConcurrentLinkedQueue[PipelinePass.Out]()
  private val passes = new ConcurrentLinkedQueue[(Int, Double)]()
  /** Peak of cached block bytes seen at stage ends (traced passes only). */
  private var cachedBytesPeak = 0L
  /** Candidate and verified pairs of the last pass, counted when traced. */
  private var lastPairs: Option[PipelinePass.Pairs] = None

  /** One pass: the workload's operation (a read op covering all stages). */
  private def pass(spark: SparkSession, phase: Int, tracer: Option[Tracer]): Option[PipelinePass.Out] = {
    val t0 = System.nanoTime()
    val out = try Some(PipelinePass.run(spark, dir, name => body => {
      val (r, op) = timed(name, phase, 0, read = false, tracer) {
        body
        ((), 0L)
      }
      if (r.isEmpty) throw new IllegalStateException(s"stage $name failed: ${op.error}")
      tracer.foreach(_ => cachedBytesPeak = math.max(cachedBytesPeak,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum))
    }))
    catch { case _: IllegalStateException => None }
    if (tracer.isDefined) out.foreach(o => lastPairs = Some(o._2))
    val ms = (System.nanoTime() - t0) / 1e6
    passes.add((phase, ms))
    ops.add(Op(s"pass-${passes.size}", "pass", Clock.nowMs - ms, ms, out.isDefined, 0, read = true, phase, 0))
    out.map(_._1)
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    Tables.registerAll(spark, dir)
    Seq("documents", "embeddings").foreach(t => Tables.load(spark, dir, t).count())
  }

  private var warmPassS = 0.0

  def measure(spark: SparkSession, seconds: Double, phase: Int, tracer: Option[Tracer]): Unit = {
    // A warm-up pass in every set-up round would triple set-up. One
    // untimed pass over the first 50 documents runs before the first
    // measured pass instead, so every measured pass is a steady one.
    if (warmPassS == 0.0) {
      val t0 = System.nanoTime()
      PipelinePass.run(spark, dir, _ => body => body, maxDoc = 50)
      warmPassS = (System.nanoTime() - t0) / 1e9
    }
    // whole passes until the window ends, at least one
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do pass(spark, phase, tracer).foreach(outs.add)
    while (System.nanoTime() < deadline)
  }

  def batchMs: Double = Stats.median(passes.asScala.filter(_._1 == 0).map(_._2).toSeq)

  private var verdict: PipelineCheck.Verdict = _

  def verify(plain: SparkSession): (Long, Long, Seq[String]) = {
    val os = outs.asScala.toSeq
    val failedOps = ops.asScala.filterNot(_.ok).map(o => s"${o.kind}: ${o.error}").toSeq
    if (os.isEmpty) return (math.max(1, ops.size).toLong, math.max(1, failedOps.size).toLong, failedOps)
    verdict = PipelineCheck.check(seed, os.head, PipelinePass.qualityPassing(plain))
    // every later pass must reproduce the checked one exactly
    val drift = os.tail.count(_ != os.head)
    val errs = verdict.errors ++ (if (drift > 0) Seq(s"$drift passes differ from the first") else Nil)
    val bad = failedOps.size + verdict.errors.size.min(1) + drift
    (ops.size.toLong, bad.toLong, (failedOps ++ errs).take(5))
  }

  def extra: Seq[Metric] = {
    val v = Option(verdict)
    Seq(Metric("pipeline_batch_s", batchMs / 1000, "s"),
      Metric("pipeline.warm_pass_s", warmPassS, "s"),
      Metric("pipeline.injected_dups", v.map(_.injected.toDouble).getOrElse(0.0), "count"),
      Metric("pipeline.injected_dups_detected", v.map(_.injectedDetected.toDouble).getOrElse(0.0), "count"),
      Metric("pipeline.ann_recall", v.map(_.annRecall).getOrElse(0.0), "frac")) ++
      PipelinePass.Stages.map(st => Metric(s"pipeline.$st.p50_ms",
        Stats.median(ops.asScala.filter(_.kind == st).map(_.ms).toSeq), "ms"))
  }

  def layerExtra(tracer: Tracer): Seq[Metric] = {
    val traced = ops.asScala.filter(_.phase == 1).toSeq
    val n = math.max(1, passes.asScala.count(_._1 == 1)).toDouble
    def stageMs(s: String) = traced.filter(_.kind == s).map(_.ms).sum / n
    // counted after the traced window: the pass itself never collects them
    val cand = lastPairs.map(_.candidates.count().toDouble).getOrElse(0.0)
    val ver = lastPairs.map(_.verified.count().toDouble).getOrElse(0.0)
    PipelinePass.Stages.map(s => Metric(s"pipeline.${s}_ms", stageMs(s), "ms")) ++ Seq(
      Metric("pipeline.candidate_pairs", cand, "count"),
      Metric("pipeline.verified_pairs", ver, "count"),
      Metric("pipeline.lsh_useful_frac", if (cand > 0) ver / cand else 0.0, "frac"),
      Metric("pipeline.components_iterations", tracer.funcCount("components", "isEmpty") / n, "count"),
      Metric("pipeline.cached_bytes_peak", cachedBytesPeak.toDouble, "bytes")) ++
      apiLayer(tracer, 0, 0)
  }

  protected def parkOutputs(file: String): Unit = parkQueue(outs, file)
  protected def unparkOutputs(file: String): Unit = unparkQueue(outs, file)
}

// -------------------------------------------------------- ingest_mixed ----

/** `ingest_mixed`: a writer appends day batches with INSERT and re-indexes
  * earlier days with REPLACE, and `nproc - 1` readers repeat the dashboard
  * set with the SQL result cache on, in alternating phases: two writes,
  * then a fixed quota of reads per reader.
  *
  * Writes never overlap reads, because graft's warehouse is not
  * snapshot-isolated: a read overlapping a REPLACE can list files the
  * REPLACE then deletes (FILE_NOT_EXIST), and a read overlapping a write can
  * populate the SQL result cache after the write cleared it, serving the old
  * state. The fixed read quota keeps the mix of cache misses (the first read
  * of each dashboard after a write) and hits the same in every run; a
  * time-based mix amplified machine noise several times over.
  */
final class IngestWorkload(seed: Long, dir: String, work: String, nproc: Int)
    extends Workload(seed, dir, work, nproc) {
  val plan = new IngestPlan(seed)
  /** Writes per cycle, back to back: enough INSERTs per run for a steady
    * median write time.
    */
  val WritesPerCycle = 2
  /** Reads each reader makes after the writes of a cycle: mostly cache
    * hits, enough for a warm and steady median.
    */
  val ReadsPerCycle = 96
  private val readers = math.max(1, nproc - 1)
  private val readerRngs = (0 until readers).map(t => new SplittableRandom(seed * 31L + t))
  private var warehouse = ""
  private val reads = new ConcurrentLinkedQueue[(Int, Int, Check.Rows)]()
  /** (phase, seconds) of each cycle's read phase. */
  private val readPhases = new ConcurrentLinkedQueue[(Int, Double)]()
  private val writeStats = new ConcurrentLinkedQueue[(Boolean, Double, Int, Long, Long)]()
  private val afterWrite = ConcurrentHashMap.newKeySet[String]()
  private val lastSeen = new ConcurrentHashMap[Int, Int]()
  private val cacheHits = new AtomicLong()
  private val cacheLookups = new AtomicLong()
  private var writesDone = 0

  private def files(): Map[String, Long] = {
    val root = new java.io.File(warehouse, plan.Table)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(f => f.getName.endsWith(".parquet")).map(f => f.getPath -> f.length).toMap
  }

  private def srcView(spark: SparkSession, name: String, rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, Gen.EventSchema).createOrReplaceTempView(name)

  def setup(spark: SparkSession, round: Int): Unit = {
    warehouse = s"$work/warehouse-$round"
    spark.conf.set("spark.graft.warehouse", warehouse)
    SqlApi.clearCache()
    Tables.registerAll(spark, dir)
    (0 until plan.InitialDays).foreach { d =>
      srcView(spark, s"ingest_src_$d", plan.batch(d, late = false))
      SqlApi.execute(spark, dir, payload(plan.insertSql(s"ingest_src_$d")))
    }
    parallel(readers)(t => plan.dashboards.indices.filter(_ % readers == t)
      .foreach(i => SqlApi.execute(spark, dir, plan.dashboardPayload(i))))
  }

  private def payload(sql: String) =
    s"""{"query": "${sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")}"}"""

  /** The next write of the seeded schedule, with its file-level effects. */
  private def write(spark: SparkSession, phase: Int, tracer: Option[Tracer]): Unit = {
    val w = plan.writes(writesDone)
    val src = s"ingest_w$writesDone"
    srcView(spark, src, plan.batch(w.day, late = false) ++ (if (w.replace) plan.batch(w.day, late = true) else Nil))
    val before = files()
    val sql = if (w.replace) plan.replaceSql(w.day, src) else plan.insertSql(src)
    val (r, op) = timed(if (w.replace) "replace" else "insert", phase, 0, read = false, tracer) {
      SqlApi.execute(spark, dir, payload(sql)); ((), 0L)
    }
    if (r.isEmpty) throw new IllegalStateException(s"write failed: ${op.error}")
    writesDone += 1
    val fresh = files().filter { case (p, _) => !before.contains(p) }
    writeStats.add((w.replace, op.ms, fresh.size, fresh.values.sum,
      plan.batch(w.day, false).size.toLong + (if (w.replace) plan.LatePerDay else 0)))
    spark.catalog.dropTempView(src)
  }

  def measure(spark: SparkSession, seconds: Double, phase: Int, tracer: Option[Tracer]): Unit = {
    val (h0, m0) = SqlApi.cacheStats
    // One cycle per 2 s of the window, at least three. A cycle lasts 2-3 s
    // on a 4-vCPU VM, so the cycles fill about the window. A count set by
    // the clock flipped between 3 and 4 cycles with machine speed and made
    // the medians bimodal; a fixed count also keeps the write-time median
    // and the warehouse growth alike across runs.
    val cycles = math.max(3, math.round(seconds / 2).toInt)
    for (_ <- 0 until cycles if writesDone + WritesPerCycle <= plan.MaxWrites) {
      (0 until WritesPerCycle).foreach(_ => write(spark, phase, tracer))
      val r0 = System.nanoTime()
      parallel(readers) { t =>
        (0 until ReadsPerCycle).foreach { _ =>
          val i = readerRngs(t).nextInt(plan.dashboards.size)
          val first = lastSeen.getOrDefault(i, -1) < writesDone
          val (res, op) = timed(s"dash$i", phase, 1 + t, read = true, tracer) {
            val rows = Check.arrayBody(SqlApi.execute(spark, dir, plan.dashboardPayload(i)))
            (rows, rows.size.toLong)
          }
          res.foreach { rows =>
            reads.add((i, writesDone, rows))
            if (first) afterWrite.add(op.id)
            lastSeen.merge(i, writesDone, (a, b) => math.max(a, b))
          }
        }
      }
      readPhases.add((phase, (System.nanoTime() - r0) / 1e9))
    }
    val (h1, m1) = SqlApi.cacheStats
    if (tracer.isDefined) { cacheHits.addAndGet(h1 - h0); cacheLookups.addAndGet(h1 - h0 + m1 - m0) }
  }

  def batchMs: Double = Stats.median(ops.asScala.filter(o => o.kind == "insert" && o.phase == 0).map(_.ms).toSeq)

  /** The untraced read phases only: writes never overlap reads. */
  override def readSeconds(reads: Seq[Op]): Double =
    readPhases.asScala.filter(_._1 == 0).map(_._2).sum

  protected def parkOutputs(file: String): Unit = parkQueue(reads, file)
  protected def unparkOutputs(file: String): Unit = unparkQueue(reads, file)

  def verify(plain: SparkSession): (Long, Long, Seq[String]) = {
    plan.registerStates(plain, writesDone)
    val want: Map[(Int, Int), Check.Rows] = plan.dashboards.indices.flatMap { i =>
      val rows = Check.rows(plain.sql(plan.dashboards(i)._2).collect())
      rows.groupBy(_.head.asInstanceOf[Double].toInt).map { case (m, rs) => (i, m) -> rs.map(_.tail) }
    }.toMap
    // a read after write m must show exactly the state after write m
    val errs = reads.asScala.flatMap { case (i, m, got) =>
      Check.compare(got, want.getOrElse((i, m), Nil), ordered = false)
        .map(e => s"dash$i read after write $m: $e")
    }.toSeq
    val failedOps = ops.asScala.filterNot(_.ok).map(o => s"${o.kind}: ${o.error}").toSeq
    (ops.size.toLong, (failedOps.size + errs.size).toLong, (failedOps ++ errs).take(5))
  }

  private def writeMs: Seq[Double] = writeStats.asScala.map(_._2).toSeq

  def extra: Seq[Metric] = {
    val rows = writeStats.asScala.map(_._5).sum
    val stored = files().values.sum.toDouble
    Seq(Metric("ingest_rows_per_s", rows / math.max(1e-9, writeMs.sum / 1000), "1/s"),
      Metric("ingest_batch_p50_ms", batchMs, "ms"),
      Metric("ingest.writes", writeStats.size.toDouble, "count"),
      Metric("stored_bytes_per_input_byte", stored / plan.sourceBytes(writesDone), "ratio"))
  }

  def layerExtra(tracer: Tracer): Seq[Metric] = {
    val ws = writeStats.asScala.toSeq
    val ins = ws.filterNot(_._1)
    val rep = ws.filter(_._1)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    apiLayer(tracer, cacheHits.get, cacheLookups.get) ++ Seq(
      Metric("api.build_ms_after_write", Stats.median(buildMs(tracer, afterWrite.contains)), "ms"),
      Metric("ingest.insert_ms", mean(ins.map(_._2)), "ms"),
      Metric("ingest.replace_ms", mean(rep.map(_._2)), "ms"),
      Metric("ingest.files_written", mean(ws.map(_._3.toDouble)), "count"),
      Metric("ingest.bytes_written", mean(ws.map(_._4.toDouble)), "bytes"),
      Metric("ingest.bytes_rewritten", mean(rep.map(_._4.toDouble)), "bytes"),
      Metric("ingest.warehouse_files", files().size.toDouble, "count"))
  }

  /** Rolled-up rows stored per raw row ingested (read in the plain session). */
  def rowsOutPerIn(plain: SparkSession): Double = {
    val stored = plain.read.parquet(s"$warehouse/${plan.Table}").count().toDouble
    val raw = plan.state(writesDone).map { case (d, v) => plan.EventsPerDay + v * plan.LatePerDay }.sum
    stored / math.max(1, raw)
  }
}
