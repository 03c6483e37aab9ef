package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.core.BytesRange
import graft.operators._
import graft.sources.{FileSystemStorage, ObjectKey}
import graft.streaming.SegmentIngestStream

/** Smoke CLI for the streaming tier-out + serving layer: drop segment files
  * into a watch dir, run the ingest stream (AvailableNow), serve a range back
  * through the ranged fetch, then run retention + orphan GC.
  */
object StreamingIngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.FastLocalDir.configure(SparkSession.builder())
      .master("local[4]")
      .appName("streaming-ingest-demo")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val watch = Files.createTempDirectory("demo-watch").toString
    val ckpt = Files.createTempDirectory("demo-ckpt").toString
    val store = Files.createTempDirectory("demo-store").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)

    val payloads = (0 until 5).map { i =>
      val b = new Array[Byte](30000 + i * 777)
      new java.util.Random(i).nextBytes(b)
      Files.write(java.nio.file.Paths.get(watch, f"seg$i%02d.bin"), b)
      b
    }
    val collector = Metrics.register(spark)

    val q = SegmentIngestStream.start(spark, watch, ckpt, cfg, maxFilesPerTrigger = 2,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(180000)
    val storage = FileSystemStorage(store)
    println(s"ingested manifests: ${ObjectKey.committedSegments(storage, "").size}, triggers processed: ${q.recentProgress.length}")

    // replay over same checkpoint -> no duplicate work
    val q2 = SegmentIngestStream.start(spark, watch, ckpt, cfg, trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    println(s"after checkpoint replay: ${ObjectKey.committedSegments(storage, "").size} manifests (unchanged)")

    // serving path: one ranged fetch
    val segKey = storage.listKeys("").find(k => k.contains("seg02") && k.endsWith(".log")).get.stripSuffix(".log")
    val got = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(123, 4567))
    println(s"served range byte-equal: ${java.util.Arrays.equals(got, java.util.Arrays.copyOfRange(payloads(2), 123, 4568))}")

    // topic ingest: .log Kafka segments stream into a record table
    {
      import graft.records._
      import graft.streaming.TopicIngestStream
      val topicWatch = Files.createTempDirectory("demo-topic-watch").toString
      val topicCkpt = Files.createTempDirectory("demo-topic-ckpt").toString
      val topicTable = Files.createTempDirectory("demo-topic-table").toString
      (0 until 3).foreach { i =>
        val out = new java.io.ByteArrayOutputStream()
        out.write(KafkaWireCodec.writeBatch(KafkaWireCodec.buildBatch(i * 4L, i * 100L,
          (0 until 4).map(j => (s"k${i * 4 + j}".getBytes, s"v${i * 4 + j}".getBytes, Seq.empty)))))
        Files.write(java.nio.file.Paths.get(topicWatch, f"seg-$i%03d.log"), out.toByteArray)
      }
      val tq = TopicIngestStream.start(spark, topicWatch, topicCkpt, topicTable)
      tq.awaitTermination(120000)
      val table = new RecordTable(topicTable)
      println(s"topic ingest: ${table.listManifests().size} segments, ${table.read(spark).count()} records queryable via spark.sql")
    }

    // ops: orphan + retention
    storage.uploadBytes(Array[Byte](1), "aborted-upload.log")
    val gc = RetentionJob.gcOrphans(cfg)
    val ret = RetentionJob.deleteSegments(cfg, k => k.contains("seg00") || k.contains("seg01"))
    println(s"gc orphans: ${gc.orphansDeleted}, retention deleted segments: ${ret.segmentsDeleted} objects: ${ret.objectsDeleted}")
    println(s"remaining logs: ${storage.listKeys("").count(_.endsWith(".log"))}")
    spark.stop()
  }
}
