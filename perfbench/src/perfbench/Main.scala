package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process for one run:
  * {{{
  * Main --workload olap|pipeline|ingest_mixed --seed N --seconds S --trace 0|1 --work DIR
  * Main --selftest 1 --seed N --work DIR
  * }}}
  * Generates the seeded inputs under DIR, builds and warms the graft session
  * `SetupRounds` times (the median is `setup_s`), measures for S seconds,
  * checks every output in a plain Spark session, and prints one
  * `name value unit` line per metric followed by a JSON summary line.
  */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = a("seed").toLong
    val work = a("work")
    val nproc = Runtime.getRuntime.availableProcessors
    if (a.get("selftest").contains("1")) sys.exit(SelfTest.run(seed, work, nproc))
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val phases = Seq.newBuilder[Metric]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += Metric(s"phase.${name}_s", (now - mark) / 1e9, "s")
      mark = now
    }
    val dataDir = s"$work/data"
    val inputSha = writeInputs(seed, dataDir)
    phase("inputs")

    val w: Workload = workload match {
      case "olap"         => new OlapWorkload(seed, dataDir, work, nproc)
      case "pipeline"     => new PipelineWorkload(seed, dataDir, work, nproc)
      case "ingest_mixed" => new IngestWorkload(seed, dataDir, work, nproc)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setups = (0 until SetupRounds).map { round =>
      if (spark != null) { w.teardown(spark); stop(spark) }
      val t0 = System.nanoTime()
      spark = GraftSession.create(s"local[$nproc]")
      spark.sparkContext.setLogLevel("ERROR")
      w.setup(spark, round)
      (System.nanoTime() - t0) / 1e9
    }

    phase("setup")
    val tracer = new Tracer(spark, nproc)
    if (traced) {
      w.measure(spark, seconds / 2, 0, None)
      tracer.start()
      w.measure(spark, seconds / 2, 1, Some(tracer))
      tracer.stop()
    } else w.measure(spark, seconds, 0, None)
    val timing = timingMetrics(w)
    val layer = if (traced) layerMetrics(w, tracer) else Nil
    val sparkVersion = spark.version
    phase("measure")

    // Heap with graft's session still open, while the outputs kept for the
    // checks are parked on disk and before the reference session runs.
    val parked = s"$work/outputs.bin"
    w.park(parked)
    val heapMb = retainedHeapMb()
    w.unpark(parked)
    w.teardown(spark)
    phase("heap")

    // the reference session shares the SparkContext but none of graft's
    // session state: no extensions, functions or optimizer rules
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = plainSession(nproc)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach(t => plain.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t))
    val (attempted, failed, errors) = w.verify(plain)
    val ingestLayer = w match {
      case iw: IngestWorkload if traced => Seq(Metric("ingest.rows_out_per_in", iw.rowsOutPerIn(plain), "ratio"))
      case _                            => Nil
    }
    val extra = w.extra
    stop(plain)
    phase("verify")

    val e2e = timing.e2e :+ Metric("setup_s", Stats.median(setups), "s") :+ Metric("retained_heap_mb", heapMb, "MB")
    val report = timing.report ++ Seq(
      Metric("failed_frac", failed.toDouble / math.max(1L, attempted), "frac")) ++
      setups.zipWithIndex.map { case (s, i) => Metric(s"setup_round${i}_s", s, "s") } ++ extra ++
      phases.result()
    val metrics = (if (traced) layer ++ ingestLayer else e2e) ++ report

    errors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    metrics.foreach(m => println(f"${m.name} ${m.value}%.6f ${m.unit}"))
    val os = ManagementFactory.getOperatingSystemMXBean
    val ctx = Map(
      "workload" -> workload, "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "seconds" -> seconds.toString, "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "load_avg_1m" -> f"${os.getSystemLoadAverage}%.2f",
      "jdk" -> System.getProperty("java.version"), "spark" -> sparkVersion,
      "scala" -> scala.util.Properties.versionNumberString, "input_sha256" -> inputSha)
    def js(s: String) = "\"" + s.flatMap {
      case '"'            => "\\\""
      case '\\'           => "\\\\"
      case c if c < ' '   => f"\\u${c.toInt}%04x"
      case c              => c.toString
    } + "\""
    val mjson = metrics.map(m => s"${js(m.name)}: {${js("value")}: ${if (m.value.isFinite) m.value else 0.0}, ${js("unit")}: ${js(m.unit)}}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""context": {${ctx.map { case (k, v) => s"${js(k)}: ${js(v)}" }.mkString(", ")}}, """ +
      s""""errors": [${errors.map(js).mkString(", ")}], "metrics": {${mjson.mkString(", ")}}}""")
  }

  /** Generates the seeded tables, writes them under `dir` and returns their
    * digest; the rows themselves are dropped on return.
    */
  def writeInputs(seed: Long, dir: String): String = {
    val tables = Gen.tables(seed)
    Gen.write(dir, tables)
    Gen.digest(tables)
  }

  final case class Timing(e2e: Seq[Metric], report: Seq[Metric])

  /** Latency, throughput and batch metrics of the untraced operations. */
  def timingMetrics(w: Workload): Timing = {
    val reads = w.ops.asScala.toSeq.filter(o => o.read && o.ok && o.phase == 0)
    val lat = reads.map(_.ms)
    Timing(
      Seq(
        Metric("latency_p50_ms", Stats.median(lat), "ms"),
        Metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms"),
        Metric("throughput_qps", reads.size / w.readSeconds(reads), "1/s"),
        Metric("batch_p50_ms", w.batchMs, "ms")),
      Seq(Metric("latency_samples", reads.size.toDouble, "count")))
  }

  /** Per-layer metrics of the traced half, with the tracing overhead. */
  def layerMetrics(w: Workload, tracer: Tracer): Seq[Metric] = {
    val ops = w.ops.asScala.toSeq
    val tracedOps = ops.filter(_.phase == 1)
    tracer.layerMetrics(tracedOps.size, tracedOps.map(_.rows).sum, "op", Set("plans", "exec")) ++
      w.layerExtra(tracer) :+
      Metric("trace.overhead_frac", overhead(ops.filter(o => o.read && o.ok)), "frac")
  }

  /** Tracing overhead: per operation kind, the traced half's median latency
    * over the untraced half's, weighted by the traced half's counts, minus 1.
    */
  def overhead(reads: Seq[Op]): Double = {
    val ratios = reads.groupBy(_.kind).toSeq.flatMap { case (_, os) =>
      val (t, u) = os.partition(_.phase == 1)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)), t.size))
    }
    val n = ratios.map(_._2).sum
    if (n == 0) 0.0 else ratios.map { case (r, c) => r * c }.sum / n - 1
  }

  def plainSession(nproc: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$nproc]").appName("perfbench-plain")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Heap in use after a full collection: what the session retains.
    * Spark's ContextCleaner drops the broadcast blocks and accumulators of
    * finished queries asynchronously, once a collection has found them
    * unreachable, so collections repeat until the reading settles; the
    * last reading is the result.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def read(): Double = {
      System.gc(); Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = read()
    var cur = read()
    var n = 2
    while (n < 20 && prev - cur > 0.25) { prev = cur; cur = read(); n += 1 }
    math.min(prev, cur)
  }
}
