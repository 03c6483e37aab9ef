package graft.bench

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.records.{KafkaWireCodec, RegistryEnvelope}

/** Seeded generator of tiered segments: Kafka v2 record batches whose
  * values are registry-enveloped Avro events in the `events` shape
  * (event_id, ts, user_id, event_type, value, props), with skewed users and
  * event types. Every `compressedEvery`-th segment carries producer-lz4
  * batches, so the upload's skip-recompression predicate runs too. While
  * generating, it records what the read side must return: per event type
  * the record count and the sum of `value` in cents, and each batch's
  * timestamp span for exact time-range counts. */
object EventGen {
  val SchemaId = 7
  val SchemaJson: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"event_id","type":"long"},
      |{"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"user_id","type":"long"},
      |{"name":"event_type","type":"string"},
      |{"name":"value","type":"double"},
      |{"name":"props","type":"string"}]}""".stripMargin
  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup", "error")
  private val TypeCdf = Array(0.46, 0.74, 0.88, 0.96, 1.0)
  private val Sources = Array("web", "app", "ios")
  val Users = 100000L
  val RecordsPerBatch = 200
  /** 2024-01-01T00:00:00Z */
  val T0 = 1704067200000L

  final case class Spec(segments: Int, segmentBytes: Int, compressedEvery: Int)

  final case class Segment(key: String, bytes: Array[Byte], batchTs: Array[Long],
                           batchLen: Array[Int]) {
    def firstTs: Long = batchTs.head
    def lastTs: Long = batchTs.last + batchLen.last - 1
    /** Records whose timestamp lies in [lo, hi]. */
    def countIn(lo: Long, hi: Long): Long = {
      var n = 0L
      var i = 0
      while (i < batchTs.length) {
        val s = math.max(lo, batchTs(i)); val e = math.min(hi, batchTs(i) + batchLen(i) - 1)
        if (e >= s) n += e - s + 1
        i += 1
      }
      n
    }
  }

  final case class Store(segments: Vector[Segment], typeCount: Map[String, Long],
                         typeCents: Map[String, Long]) {
    def bytes: Long = segments.map(_.bytes.length.toLong).sum
    def countIn(lo: Long, hi: Long): Long = segments.map(_.countIn(lo, hi)).sum
  }

  def generate(seed: Long, spec: Spec, registry: RegistryEnvelope): Store = {
    val rng = new SplittableRandom(seed)
    val count = new Array[Long](EventTypes.length)
    val cents = new Array[Long](EventTypes.length)
    var eventId = 0L
    var ts = T0 + rng.nextLong(86400000L)
    val segs = (0 until spec.segments).map { s =>
      val compressed = spec.compressedEvery > 0 && s % spec.compressedEvery == spec.compressedEvery - 1
      val codec = if (compressed) KafkaWireCodec.CodecLz4 else KafkaWireCodec.CodecNone
      val out = new ByteArrayOutputStream(spec.segmentBytes + (1 << 16))
      val batchTs = Array.newBuilder[Long]
      val batchLen = Array.newBuilder[Int]
      while (out.size() < spec.segmentBytes) {
        ts += rng.nextInt(20)
        val recs = (0 until RecordsPerBatch).map { i =>
          val user = (Users * math.pow(rng.nextDouble(), 3)).toLong
          val u = rng.nextDouble()
          val t = TypeCdf.indexWhere(u < _)
          val c = (rng.nextDouble() * rng.nextDouble() * 50000).toLong
          count(t) += 1; cents(t) += c
          val value = registry.encode(SchemaId, Row(eventId + i, new java.sql.Timestamp(ts + i), user,
            EventTypes(t), c / 100.0, s"""{"k": ${rng.nextInt(100)}}"""))
          (s"u$user".getBytes("UTF-8"), value,
            Seq(KafkaWireCodec.Header("src", Sources(rng.nextInt(Sources.length)).getBytes("UTF-8"))))
        }
        val b = KafkaWireCodec.writeBatch(
          KafkaWireCodec.buildBatch(eventId, ts, recs, compression = codec))
        out.write(b, 0, b.length)
        batchTs += ts; batchLen += RecordsPerBatch
        eventId += RecordsPerBatch; ts += RecordsPerBatch
      }
      Segment(f"events-$s%04d", out.toByteArray, batchTs.result(), batchLen.result())
    }.toVector
    Store(segs, EventTypes.indices.map(i => EventTypes(i) -> count(i)).toMap,
      EventTypes.indices.map(i => EventTypes(i) -> cents(i)).toMap)
  }
}

/** Seeded generator of the curation corpus the mix queries read: the
  * `documents`, `events`, `lineitem` and `orders` tables with the schemas,
  * row counts and value distributions of the engine's sf0.1 test data.
  * Each table is one parquet file (one writer task), as the engine's
  * inputs are. The corpus is fixed: recorded output digests check it. */
object Corpus {
  val Seed = 42L
  /** Scale factor in the engine's test-data convention (sf0.1 = 5000 docs). */
  val Sf: Double = 0.03
  val Docs: Int = (50000 * Sf).toInt
  val Events: Int = (1000000 * Sf).toInt
  val Orders: Int = (1500000 * Sf).toInt
  val LineItems: Int = (6000000 * Sf).toInt
  private val Users: Long = (15000 * Sf).toLong
  private val Customers: Long = (150000 * Sf).toLong
  private val Parts: Long = (200000 * Sf).toLong
  private val Suppliers: Long = (10000 * Sf).toLong

  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(' ')
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCdf = Array(0.41, 0.56, 0.71, 0.86, 1.0)
  private val DayMs = 86400000L
  private def day(iso: String): Long = java.time.LocalDate.parse(iso).toEpochDay * DayMs
  private def ts(ms: Long) = new java.sql.Timestamp(ms)
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def documents(seed: Long): Iterator[Row] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](Docs)
    Iterator.tabulate(Docs) { i =>
      val text =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      val u = r.nextDouble()
      Row(i.toLong, text, Langs(LangCdf.indexWhere(u < _)), s"src${i % 20}", text.length.toLong)
    }
  }

  def events(seed: Long): Iterator[Row] = {
    val r = new SplittableRandom(seed + 1)
    val t0 = day("2024-01-01") * 1000L
    val micros = Array.fill(Events)(t0 + r.nextLong(30L * DayMs * 1000L)).sorted
    Iterator.tabulate(Events) { i =>
      val us = micros(i)
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      Row(i.toLong, t, r.nextLong(Users), EventTypes(r.nextInt(5)),
        math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val OrderStatus = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("O", "F")

  def orders(seed: Long): Iterator[Row] = {
    val r = new SplittableRandom(seed + 2)
    val lo = day("1995-01-01"); val span = (day("2001-08-01") - lo) / DayMs
    Iterator.tabulate(Orders) { i =>
      Row(i.toLong, r.nextLong(Customers), OrderStatus(r.nextInt(3)), money(r, 1000, 500000),
        ts(lo + r.nextLong(span + 1) * DayMs),
        Priorities(r.nextInt(5)))
    }
  }

  def lineitem(seed: Long): Iterator[Row] = {
    val r = new SplittableRandom(seed + 3)
    val lo = day("1995-01-02"); val span = (day("2001-11-04") - lo) / DayMs
    Iterator.tabulate(LineItems) { _ =>
      Row(r.nextLong(Orders.toLong), r.nextLong(Parts), r.nextLong(Suppliers), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)), LineStatus(r.nextInt(2)),
        ts(lo + r.nextLong(span + 1) * DayMs))
    }
  }

  /** Write the four tables under `dir` (`<dir>/<name>.parquet`), each in
    * one task so each table is one file; the four writes run concurrently. */
  def write(spark: SparkSession, dir: String, seed: Long = Seed): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tables: Seq[(String, StructType, Long => Iterator[Row])] = Seq(
      ("lineitem", lineitemSchema, lineitem _), ("orders", ordersSchema, orders _),
      ("events", eventsSchema, events _), ("documents", documentsSchema, documents _))
    val writes = tables.map { case (name, schema, gen) =>
      Future {
        val rows = spark.sparkContext.parallelize(Seq(seed), 1).flatMap(gen)
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
    }
    writes.foreach(Await.result(_, Duration.Inf))
  }
}
