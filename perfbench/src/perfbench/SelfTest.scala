package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Self-tests of the benchmark itself: one seed gives byte-identical inputs,
  * and each workload's checker accepts a correct result and rejects the
  * same result with one row perturbed. Returns the process exit code.
  */
object SelfTest {
  def run(seed: Long, work: String, nproc: Int): Int = {
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"selftest ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    // 1. determinism of every generated input
    expect(Gen.digest(Gen.tables(seed)) == Gen.digest(Gen.tables(seed)), "same seed, same table rows")
    expect(Gen.digest(Gen.tables(seed)) != Gen.digest(Gen.tables(seed + 1)), "another seed, other table rows")
    def stream(s: Long) = { val r = new SplittableRandom(s); (0 until 300).map(OlapGen.request(r, 0, _)) }
    expect(stream(seed) == stream(seed), "same seed, same olap request stream")
    val p1 = new IngestPlan(seed)
    val p2 = new IngestPlan(seed)
    expect(p1.writes == p2.writes && (0 until 5).forall(d => p1.batch(d, false) == p2.batch(d, false) &&
      p1.batch(d, true) == p2.batch(d, true)), "same seed, same ingest batches and write schedule")
    val plain = Main.plainSession(nproc)
    val tables = Gen.tables(seed)
    Gen.write(s"$work/st-a", tables)
    Gen.write(s"$work/st-b", tables)
    def files(d: String) = Files.walk(Paths.get(d)).iterator.asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      .map(p => Paths.get(d).relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part") ->
        java.util.Arrays.hashCode(Files.readAllBytes(p))).sorted
    expect(files(s"$work/st-a") == files(s"$work/st-b"), "same seed, byte-identical parquet inputs")

    // 2. olap checker: a correct result passes, one perturbed row fails
    tables.foreach(t => plain.read.parquet(s"$work/st-a/${t.name}.parquet").createOrReplaceTempView(t.name))
    val r = new SplittableRandom(seed)
    OlapGen.Kinds.foreach { k =>
      val q = OlapGen.make(k, r)
      val want = Check.rows(plain.sql(q.ref).collect())
      expect(OlapCheck.check(q, want, want).isEmpty, s"olap checker accepts the reference ($k)")
      if (want.nonEmpty)
        expect(OlapCheck.check(q, perturb(want, q.approx), want).isDefined, s"olap checker rejects a perturbed row ($k)")
    }

    // 3. ingest_mixed checker: the state reference at m passes, a perturbed row fails
    p1.registerStates(plain, 6)
    p1.dashboards.indices.foreach { i =>
      val all = Check.rows(plain.sql(p1.dashboards(i)._2).collect())
      val at = (m: Int) => all.filter(_.head == m.toDouble).map(_.tail)
      val got = at(4)
      expect(Check.compare(got, at(4), ordered = false).isEmpty, s"ingest checker accepts state 4 (dash$i)")
      expect((3 to 5).forall(m => Check.compare(perturb(got), at(m), ordered = false).isDefined),
        s"ingest checker rejects a perturbed row (dash$i)")
    }
    val qualityOk = PipelinePass.qualityPassing(plain)
    Main.stop(plain)

    // 4. pipeline checker over one real pass
    val spark = GraftSession.create(s"local[$nproc]")
    spark.sparkContext.setLogLevel("ERROR")
    val out = PipelinePass.run(spark, s"$work/st-a", _ => body => body)._1
    Main.stop(spark)
    def check(o: PipelinePass.Out) = PipelineCheck.check(seed, o, qualityOk)
    expect(check(out).errors.isEmpty, "pipeline checker accepts a graft pass")
    val (id, n, s, o) = out.packed.head
    expect(check(out.copy(packed = (id, n, s, o + 1) +: out.packed.tail)).errors.nonEmpty,
      "pipeline checker rejects a perturbed packing row")
    val kept = out.famKept.head
    expect(check(out.copy(famKept = out.famKept - kept)).errors.nonEmpty,
      "pipeline checker rejects a dropped family row")
    val (q, nb, sim) = out.ann.head
    expect(check(out.copy(ann = (q, nb, sim + 0.01) +: out.ann.tail)).errors.nonEmpty,
      "pipeline checker rejects a perturbed ANN row")

    println(s"selftest ${if (failures == 0) "passed" else s"failed: $failures"}")
    if (failures == 0) 0 else 1
  }

  /** The rows with one cell of the first row changed: its first numeric
    * cell outside `approx` (the columns compared with a tolerance).
    */
  def perturb(rows: Check.Rows, approx: Set[Int] = Set.empty): Check.Rows = {
    val row = rows.head
    val i = row.indices.find(j => !approx(j) && (row(j).isInstanceOf[Double] || row(j).isInstanceOf[Long]))
      .getOrElse(0)
    val bumped = row(i) match {
      case d: Double => d * 1.001 + 1
      case l: Long   => l + 1
      case s: String => s + "#"
      case null      => "x"
    }
    row.updated(i, bumped) +: rows.tail
  }
}
