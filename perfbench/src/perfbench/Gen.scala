package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generator. Every table is built row by row from its own
  * `SplittableRandom(seed, salt)` stream on the driver, so one seed always
  * yields the same rows; each table is written as a single parquet file
  * with one row group (one split per scan), the layout of the driver's
  * testdata. Shapes follow the driver's sf tables at roughly sf0.01.
  */
object Gen {
  /** 2024-01-01T00:00:00Z: the events stream covers `EventDays` days from here. */
  val Day0Ms = 1704067200000L
  val DayMs = 86400000L
  val EventDays = 30
  val NumEvents = 60000
  val NumUsers = 1000
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  val Countries = Seq("US", "DE", "FR", "JP", "BR", "IN", "CN", "GB")
  val Devices = Seq("ios", "android", "web", "tv")

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val PartWords = Seq("small", "large", "red", "blue", "green", "steel", "brass",
    "copper", "ring", "widget", "gear", "bolt", "frame", "panel", "valve", "spring")
  val PartTypes = Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
  val NumCustomers = 1500
  val NumSuppliers = 100
  val NumParts = 2000
  val NumOrders = 15000
  /** Orders and line items fall in 1992-01-01 .. 1998-12-31 (2557 days). */
  val OrderDay0Ms = 694224000000L
  val OrderDays = 2557

  val BaseDocs = 500
  val ExactDups = 40
  val NearDups = 60
  val NumVectors = 1000
  val VecDim = 32
  val VecClusters = 16

  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "for")
  private val Words = Stop ++ Seq("data", "query", "table", "segment", "column",
    "row", "scan", "filter", "join", "merge", "sort", "window", "group", "batch",
    "stream", "index", "value", "key", "hash", "spark", "druid", "broker",
    "historical", "ingest", "rollup", "metric", "dimension", "interval", "granular",
    "cache", "shuffle", "partition", "vector", "sketch", "bitmap", "compress",
    "encode", "dictionary", "lookup", "cluster", "replica", "tier", "realtime",
    "deep", "storage", "coordinator", "overlord", "task", "peon", "worker",
    "schema", "timestamp", "approximate", "quantile", "theta", "hyper", "unique",
    "latency", "throughput", "tail", "median", "budget", "lane", "priority",
    "router", "native", "json", "planner", "rule", "operator", "codegen",
    "kernel", "memory", "disk", "network", "fetch", "spill", "heap")

  private def rnd(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def round2(d: Double): Double = math.rint(d * 100) / 100

  final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row])

  /** A near-duplicate injected into the corpus: `copy` was made from `source`. */
  final case class Injected(copy: Long, source: Long, exact: Boolean)

  def tables(seed: Long): Seq[Table] = {
    val (docs, _) = documents(seed)
    Seq(region, nation(seed), customer(seed), supplier(seed), part(seed)) ++
      ordersAndLineitem(seed) ++ Seq(events(seed), docs, embeddings(seed))
  }

  def region: Table = Table("region",
    StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
    Regions.indices.map(i => Row(i, Regions(i))))

  def nation(seed: Long): Table = {
    val r = rnd(seed, 1)
    Table("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, f"NATION$i%02d", r.nextInt(Regions.size))))
  }

  def customer(seed: Long): Table = {
    val r = rnd(seed, 2)
    Table("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until NumCustomers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(r.nextDouble() * 10000 - 1000), pick(r, Segments))))
  }

  def supplier(seed: Long): Table = {
    val r = rnd(seed, 3)
    Table("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until NumSuppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(r.nextDouble() * 10000 - 1000))))
  }

  def part(seed: Long): Table = {
    val r = rnd(seed, 4)
    Table("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until NumParts).map(i => Row(i.toLong,
        pick(r, PartWords) + " " + pick(r, PartWords), "Brand#" + (1 + r.nextInt(25)),
        pick(r, PartTypes), 1 + r.nextInt(50), round2(900 + i * 0.1 + r.nextDouble()))))
  }

  def ordersAndLineitem(seed: Long): Seq[Table] = {
    val r = rnd(seed, 5)
    val orders = IndexedSeq.newBuilder[Row]
    val items = IndexedSeq.newBuilder[Row]
    for (o <- 0 until NumOrders) {
      val day = r.nextInt(OrderDays)
      val date = new Timestamp(OrderDay0Ms + day * DayMs)
      var total = 0.0
      val n = 1 + r.nextInt(7)
      for (ln <- 1 to n) {
        val qty = (1 + r.nextInt(50)).toDouble
        val price = round2(qty * (900 + r.nextInt(1100) + r.nextDouble()))
        val disc = r.nextInt(11) / 100.0
        val tax = r.nextInt(9) / 100.0
        total += price
        val ship = new Timestamp(OrderDay0Ms + math.min(OrderDays - 1, day + 1 + r.nextInt(120)) * DayMs)
        items += Row(o.toLong, r.nextInt(NumParts).toLong, r.nextInt(NumSuppliers).toLong, ln,
          qty, price, disc, tax, pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")), ship)
      }
      orders += Row(o.toLong, r.nextInt(NumCustomers).toLong, pick(r, Seq("F", "O", "P")),
        round2(total), date, pick(r, Priorities))
    }
    Seq(
      Table("orders", StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))), orders.result()),
      Table("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
        items.result()))
  }

  val EventSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  /** One event row; `r` drives every field. Users follow a skewed draw so
    * topN has a head and a tail.
    */
  def event(r: SplittableRandom, id: Long, tsMs: Long): Row = {
    val u = (NumUsers * math.pow(r.nextDouble(), 2.0)).toLong
    val props = s"""{"k": ${r.nextInt(100)}, "country": "${pick(r, Countries)}", "device": "${pick(r, Devices)}"}"""
    Row(id, new Timestamp(tsMs), u, pick(r, EventTypes), round2(r.nextDouble() * 100), props)
  }

  def events(seed: Long): Table = {
    val r = rnd(seed, 6)
    val span = EventDays * DayMs
    val ts = Array.fill(NumEvents)(Day0Ms + (r.nextDouble() * span).toLong).sorted
    Table("events", EventSchema, ts.indices.map(i => event(r, i.toLong, ts(i))))
  }

  private def text(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(pick(r, Words)).mkString(" ")

  /** Base documents of 10-100 tokens, as in the driver's sf tables, plus
    * injected exact and near-duplicate copies. A near copy substitutes 1-3
    * words of a source of at least 30 tokens, which keeps its 3-shingle
    * Jaccard with the source at 0.5 or more. Sources have even ids, which
    * the pipeline's URL dedup keeps. A few base documents are too short
    * for the quality filter.
    */
  def documents(seed: Long): (Table, Seq[Injected]) = {
    val r = rnd(seed, 7)
    val base = (0 until BaseDocs).map { i =>
      // every length 10-100 about equally often, in an order fixed for all
      // seeds: the seed draws the words, and a pass does about the same work
      val n = if (i % 53 == 7) 3 else 10 + (i * 37) % 91
      i.toLong -> text(r, n)
    }
    val injected = IndexedSeq.newBuilder[Injected]
    val copies = (0 until ExactDups + NearDups).map { j =>
      val id = (BaseDocs + j).toLong
      val exact = j < ExactDups
      var src = 2L * r.nextInt(BaseDocs / 2)
      while (!exact && base(src.toInt)._2.split(" ").length < 30) src = 2L * r.nextInt(BaseDocs / 2)
      val srcText = base(src.toInt)._2
      val t = if (exact) srcText else {
        val toks = srcText.split(" ")
        for (_ <- 0 until 1 + r.nextInt(3)) toks(r.nextInt(toks.length)) = pick(r, Words) + "x"
        toks.mkString(" ")
      }
      injected += Injected(id, src, exact)
      id -> t
    }
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val rows = (base ++ copies).map { case (id, t) =>
      Row(id, t, pick(r, langs), "src" + r.nextInt(20), t.length.toLong)
    }
    (Table("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))), rows),
      injected.result())
  }

  /** Clustered vectors: `VecClusters` random centres plus Gaussian noise. */
  def embeddings(seed: Long): Table = {
    val r = rnd(seed, 8)
    val centres = Array.fill(VecClusters, VecDim)(r.nextDouble() * 2 - 1)
    val rows = (0 until NumVectors).map { i =>
      val c = r.nextInt(VecClusters)
      val v = centres(c).map(x => (x + gauss(r) * 0.15).toFloat)
      Row(i.toLong, v.toSeq, c % 3)
    }
    Table("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), rows)
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** SHA-256 over a canonical text form of the rows: the identity of the
    * generated inputs, independent of parquet writer versions.
    */
  def digest(ts: Seq[Table]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def cell(v: Any): String = v match {
      case null            => "\\N"
      case t: Timestamp    => t.getTime.toString
      case s: Seq[_]       => s.map(cell).mkString("[", ",", "]")
      case d: Double       => java.lang.Double.toHexString(d)
      case f: Float        => java.lang.Float.toHexString(f)
      case x               => x.toString
    }
    ts.foreach { t =>
      md.update((t.name + "|" + t.schema.simpleString + "\n").getBytes("UTF-8"))
      t.rows.foreach(row => md.update((row.toSeq.map(cell).mkString("\t") + "\n").getBytes("UTF-8")))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Write each table as `<dir>/<name>.parquet/part-00000.snappy.parquet`:
    * one file with one row group, written straight through parquet-hadoop
    * (no Spark job), with the types Spark itself would write.
    */
  def write(dir: String, ts: Seq[Table]): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    def decl(f: StructField): String = f.dataType match {
      case IntegerType   => s"optional int32 ${f.name};"
      case LongType      => s"optional int64 ${f.name};"
      case DoubleType    => s"optional double ${f.name};"
      case StringType    => s"optional binary ${f.name} (STRING);"
      case TimestampType => s"optional int64 ${f.name} (TIMESTAMP(MICROS,true));"
      case ArrayType(FloatType, _) =>
        s"optional group ${f.name} (LIST) { repeated group list { required float element; } }"
      case other => throw new IllegalArgumentException(s"no parquet mapping for $other")
    }
    val conf = new Configuration()
    ts.foreach { t =>
      val schema = MessageTypeParser.parseMessageType(
        t.schema.fields.map(decl).mkString("message spark_schema { ", " ", " }"))
      val groups = new SimpleGroupFactory(schema)
      val w = ExampleParquetWriter.builder(new Path(s"$dir/${t.name}.parquet/part-00000.snappy.parquet"))
        .withType(schema).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      try t.rows.foreach { r =>
        val g = groups.newGroup()
        t.schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
          val name = t.schema.fields(i).name
          t.schema.fields(i).dataType match {
            case IntegerType   => g.add(name, r.getInt(i))
            case LongType      => g.add(name, r.getLong(i))
            case DoubleType    => g.add(name, r.getDouble(i))
            case StringType    => g.add(name, r.getString(i))
            case TimestampType => g.add(name, r.getTimestamp(i).getTime * 1000L)
            case _ =>
              val list = g.addGroup(name)
              r.getSeq[Float](i).foreach(x => list.addGroup("list").add("element", x))
          }
        }
        w.write(g)
      } finally w.close()
    }
  }
}
