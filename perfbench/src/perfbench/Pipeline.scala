package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{CacheScope, Dedup, Packing, Similarity, TextAnalysis}

/** One full curation pass in the shape of graft's `q_pipeline_e2e`: one
  * chained DataFrame plan through the public `graft.pipeline` calls (URL
  * canonicalisation + dedup, exact dedup, MinHash-LSH candidates, exact
  * verification, duplicate families by connected components,
  * decontamination, quality filter, packing), with
  * `CacheScope.autoRelease` persists at the two fan-out points, then IVF
  * ANN over the embeddings.
  *
  * `stage(name)(body)` wraps each call (timing, tracing). Most calls only
  * build a lazy plan, so a stage's span holds the actions that call runs
  * itself: the component iterations of `dropDuplicateFamilies`, which
  * materialise everything upstream, and the final collect of packing.
  */
object PipelinePass {
  val Stages: Seq[String] = Seq("url_dedup", "exact_dedup", "minhash_lsh", "verify",
    "components", "decontaminate", "quality", "packing", "ann")

  /** The messy provenance URL of `q_pipeline_e2e`: documents 2k and 2k+1
    * share a canonical location, so URL dedup keeps the even one.
    */
  def urlOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(pmod(id, lit(2)) === 0, lit("HTTPS://Crawl")).otherwise(lit("https://crawl")),
      lit(".Example.COM"), when(pmod(id, lit(3)) === 0, lit(":443")).otherwise(lit("")),
      lit("/doc/"), floor(id / 2).cast("long").cast("string"),
      when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(id, lit(2)) === 0, lit("?utm_source=x&ref=1")).otherwise(lit("?ref=1&utm_campaign=c")),
      when(pmod(id, lit(4)) === 0, lit("#top")).otherwise(lit("")))

  def probeOf(id: Long): Boolean = id % 97 == 0
  val AnnK = 5
  def annQuery(id: Long): Boolean = id % 25 == 0

  /** Collected outputs of one pass, compared by [[PipelineCheck]]: the
    * packed documents (the pass's result), the ids that survive duplicate
    * removal (read from that stage's cached DataFrame) and the ANN rows.
    */
  final case class Out(famKept: Set[Long], packed: Seq[(Long, Long, Long, Long)],
                       ann: Seq[(Long, Long, Double)])

  /** The pass's candidate and verified pair DataFrames, for counting. */
  final case class Pairs(candidates: DataFrame, verified: DataFrame)

  /** Run one pass over the documents with `doc_id < maxDoc`. */
  def run(spark: SparkSession, dir: String, stage: String => (=> Any) => Any,
          maxDoc: Long = Long.MaxValue): (Out, Pairs) = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").filter(col("doc_id") < maxDoc)
    var urlKept, exactKept, found, verified, famKept, clean, passed: DataFrame = null
    var packed = Seq.empty[(Long, Long, Long, Long)]
    var ann = Seq.empty[(Long, Long, Double)]
    stage("url_dedup") {
      urlKept = Dedup.exact(docs.withColumn("curl", TextAnalysis.canonicalizeUrl(urlOf(col("doc_id")))),
        col("curl"), col("doc_id"))
    }
    stage("exact_dedup") {
      // fan-out point: feeds the LSH signatures, the verification shingles
      // and the family anti-join
      exactKept = CacheScope.autoRelease(
        Dedup.exact(urlKept, md5(col("text")), col("doc_id")).select(col("doc_id"), col("text")))
    }
    stage("minhash_lsh") {
      found = Dedup.minHashLsh(exactKept, "doc_id", "text",
        shingleSize = 3, numHashes = 64, numBands = 16, threshold = 0.4)
    }
    stage("verify") {
      // exact 3-shingle Jaccard of each candidate pair
      val sh = exactKept.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      verified = found
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= 0.5)
        .select(col("id_a"), col("id_b"))
    }
    stage("components") {
      // fan-out point: feeds decontamination and the clean anti-join; the
      // second consuming action is the read of its ids for the checker
      famKept = CacheScope.autoRelease(Dedup.dropDuplicateFamilies(exactKept, verified, "doc_id"),
        consumingActions = 2)
    }
    stage("decontaminate") {
      val probe = docs.filter(pmod(col("doc_id"), lit(97)) === 0).select("doc_id", "text")
      val scores = Dedup.contaminationScore(probe, famKept, "doc_id", "text", n = 8)
      clean = famKept.join(scores.filter(col("matched") > 0).select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
    stage("quality") {
      passed = clean.filter(size(TextAnalysis.qualityFilter(col("text"))) === 0)
    }
    stage("packing") {
      packed = Packing.packSequences(passed, "doc_id", "text", maxTokens = 512)
        .select(col("doc_id"), col("n_tokens").cast("long"), col("seq_id").cast("long"), col("seq_offset").cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    }
    val famIds = famKept.select(col("doc_id")).as[Long].collect().toSet
    stage("ann") {
      val vecs = Tables.load(spark, dir, "embeddings")
      ann = Similarity.annIvf(vecs.filter(pmod(col("vec_id"), lit(25)) === 0), vecs,
        "vec_id", "embedding", k = AnnK, nlist = 16, nprobe = 4)
        .select("q_id", "n_id", "sim").as[(Long, Long, Double)].collect().toSeq.sortBy(x => (x._1, x._2))
    }
    (Out(famIds, packed, ann), Pairs(found, verified))
  }

  /** Ids of the documents the quality rule keeps, evaluated with graft's
    * expression-only `qualityFilter` in `plain`, a session without graft's
    * extensions, over the `documents` view.
    */
  def qualityPassing(plain: SparkSession): Set[Long] = {
    import plain.implicits._
    plain.table("documents").filter(size(TextAnalysis.qualityFilter(col("text"))) === 0)
      .select(col("doc_id")).as[Long].collect().toSet
  }
}

/** Exact checks of a pass against the generated corpus, in plain Scala. */
object PipelineCheck {
  private def toks(t: String): Array[String] =
    t.toLowerCase.replaceAll("[^a-z0-9 ]", " ").trim.split(" +")
  def shingles(t: String, k: Int): Set[String] = {
    val ts = toks(t)
    if (ts.length < k) Set.empty else ts.sliding(k).map(_.mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  final case class Verdict(errors: Seq[String], injected: Int, injectedDetected: Int, annRecall: Double)

  /** Every error found; an output the checks cannot even evaluate (an
    * unknown id, say) is an error too. `qualityOk` holds the documents the
    * quality rule keeps ([[PipelinePass.qualityPassing]]).
    */
  def check(seed: Long, o: PipelinePass.Out, qualityOk: Set[Long]): Verdict =
    try checkAll(seed, o, qualityOk) catch {
      case e: Exception => Verdict(Seq(s"pipeline output not checkable: $e"), 0, 0, 0.0)
    }

  private def checkAll(seed: Long, o: PipelinePass.Out, qualityOk: Set[Long]): Verdict = {
    val (docTable, injected) = Gen.documents(seed)
    val text = docTable.rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    val all = text.keySet
    val err = Seq.newBuilder[String]
    def expect(ok: Boolean, msg: => String): Unit = if (!ok) err += msg

    // URL dedup drops the odd ids, which share a canonical URL with the
    // even id below, and exact dedup keeps the smallest id of each text
    val urlKept = all.filterNot(id => id % 2 == 1 && all.contains(id - 1))
    val exactKept = urlKept.groupBy(text).values.map(_.min).toSet
    expect(o.famKept.subsetOf(exactKept), "duplicate removal kept a URL or exact duplicate")
    // near-duplicate graph: pairs of exact-dedup survivors with exact
    // 3-shingle Jaccard >= 0.5, found through a shingle index
    val sh = exactKept.iterator.map(id => id -> shingles(text(id), 3)).toMap
    val byShingle = sh.toSeq.flatMap { case (id, ss) => ss.map(_ -> id) }.groupMap(_._1)(_._2)
    val adj = sh.map { case (id, ss) =>
      id -> ss.flatMap(byShingle).filter(p => p != id && jaccard(ss, sh(p)) >= 0.5)
    }
    // every removed document has a true near-duplicate, and its family (the
    // connected component) keeps its smallest id, a chain of exact
    // matches away
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    exactKept.toSeq.sorted.foreach { root =>
      if (!comp.contains(root)) {
        var frontier = List(root)
        comp(root) = root
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj).filterNot(comp.contains).distinct
          next.foreach(comp(_) = root)
          frontier = next
        }
      }
    }
    (exactKept -- o.famKept).foreach { d =>
      expect(adj(d).nonEmpty, s"removed doc $d matches no document by exact jaccard")
      expect(o.famKept(comp(d)), s"removed doc $d has no kept partner in its family")
    }
    // decontamination drops the documents sharing an 8-gram with a probe,
    // and the quality rule keeps the rest it accepts
    val probeGrams = all.filter(PipelinePass.probeOf).flatMap(id => shingles(text(id), 8))
    val clean = o.famKept.filterNot(d => shingles(text(d), 8).exists(probeGrams))
    val passed = clean.filter(qualityOk)
    // packing: exactly the passing documents, with token counts and offsets
    // the running sum in id order
    expect(o.packed.map(_._1) == passed.toSeq.sorted,
      s"packing holds ${o.packed.size} documents, want ${passed.size} after decontamination and quality")
    var start = 0L
    o.packed.foreach { case (id, n, seq, off) =>
      val want = text(id).split("\\s+").count(_.nonEmpty).toLong
      expect(n == want && seq == start / 512 && off == start % 512, s"packing wrong for doc $id")
      start += want
    }
    // ANN: k neighbours per query with exact cosine scores
    val vecs = Gen.embeddings(seed).rows.map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val queries = vecs.keySet.filter(PipelinePass.annQuery)
    val byQ = o.ann.groupBy(_._1)
    expect(byQ.keySet == queries && byQ.values.forall(_.size == PipelinePass.AnnK), "ann result shape")
    o.ann.foreach { case (q, n, s) =>
      expect(q != n && math.abs(cos(vecs(q), vecs(n)) - s) <= 1e-6, s"ann score wrong for ($q,$n)")
    }
    val hits = queries.toSeq.map { q =>
      val truth = vecs.keySet.filter(_ != q).toSeq.map(n => n -> cos(vecs(q), vecs(n)))
        .sortBy(x => (-x._2, x._1)).take(PipelinePass.AnnK).map(_._1).toSet
      byQ.getOrElse(q, Nil).count(x => truth(x._2))
    }.sum
    // recall of injected duplicates: a family must not survive in two copies
    val detected = injected.count(i => !(o.famKept(i.copy) && o.famKept(i.source)))
    Verdict(err.result(), injected.size, detected, hits.toDouble / math.max(1, queries.size * PipelinePass.AnnK))
  }
}
