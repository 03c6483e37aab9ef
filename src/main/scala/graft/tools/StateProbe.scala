package graft.tools

import graft.core.LocalSession
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Replica-scale state probe for the streaming twins whose scale contract
  * is a state SHAPE (r9 funnel, r11 bandStats/skyline: state growth hides
  * until measured at scale). Three legs, one JSON line:
  *
  *  - funnel: drives [[EventStreams.curationFunnelBatch]] over the corpus
  *    in three uneven chunks (the spec's split shape) and reports, per
  *    state table, the MAX ROWS PER KEY (the funnel's scale contract: 1)
  *    and the table cardinality after the final trigger. State spreads
  *    across keys (bands / colliding docs / sources), never pooling in one
  *    task, so the per-key maximum stays flat while docs grow.
  *  - band: drives the real `flatMapGroupsWithState` bandStats query over
  *    a time-ordered three-file source and reads the state store through
  *    Spark's `statestore` data source. Asserted: the first micro-batch
  *    snapshot holds exactly the buckets the first file's events route to
  *    (state SPREADS across the time axis from the first trigger); every
  *    final buffer is ≤ its own + the previous bucket's resident
  *    population (the two-window bound); and the event-time timeout
  *    reclaimed expired buckets once the stream spans > 6 h.
  *  - skyline: the final snapshot holds exactly ONE state key whose
  *    frontier equals batch x08's row count (merge state is O(frontier)).
  *
  * Usage: runMain graft.tools.StateProbe <sfDir> [label]
  * (snapshot.sh appends one leg per scale into STATEPROBE.json).
  */
object StateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val label = if (args.length > 1) args(1)
      else java.nio.file.Paths.get(sfDir).getFileName.toString
    val spark = LocalSession.session(LocalSession.envCpus)
    println(measure(spark, sfDir, label))
    spark.stop()
  }

  /** Runs the three legs at `sfDir` and returns their one JSON line. Every
    * scratch directory is removed on the way out, pass or fail. */
  def measure(spark: SparkSession, sfDir: String, label: String): String = {
    val scratch = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def tempDir(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      scratch += p
      p.toString
    }
    try {
      val (funnelSec, nDocs, funnel) = funnelLeg(spark, sfDir, tempDir)
      val (bandSec, nEvents, band) = bandLeg(spark, sfDir, tempDir)
      val (skySec, skyline) = skylineLeg(spark, sfDir, tempDir)
      // wall-times are labeled non-comparable (VERDICT r11 "What's wrong"
      // #3): fixed streaming-trigger overhead dominates, so legs at
      // different scales invert (21.7 s at sf0.1 vs 14.2 s at 10×) — the
      // state-SHAPE fields are the contract, the times are run bookkeeping
      s"""{"label":"$label","docs":$nDocs,"events":$nEvents,""" +
        s""""wall_sec_noncomparable":{"note":"trigger overhead dominates; not comparable across legs",""" +
        s""""funnel":${f"$funnelSec%.2f"},"band":${f"$bandSec%.2f"},"sky":${f"$skySec%.2f"}},""" +
        s""""funnel":$funnel,"band":$band,"skyline":$skyline}"""
    } finally scratch.foreach(EventStreams.deleteTree)
  }

  /** Pin each append batch's part files to a strictly increasing mtime
    * (ADVICE r11): FileStreamSource orders discovery by modification
    * timestamp, and a coarse-filesystem tie between the appends can feed
    * files out of event-time order — the watermark then advances early,
    * older-hour rows are dropped as late, and the probe's `require`s abort
    * the whole snapshot. Files written by earlier calls already sit at
    * base+j (j < i); anything newer than the base band is from THIS call. */
  private val MtimeBaseMs = 1600000000000L
  private def stampPartMtimes(dir: String, batch: Int): Unit = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .filter(_.lastModified() > MtimeBaseMs + 100000L)
      .foreach(f => require(f.setLastModified(MtimeBaseMs + batch * 1000L),
        s"cannot set mtime on $f"))
  }

  /** Path of the first field named `name` under `st`, depth first: the
    * state store's value struct nests it at a depth that depends on the
    * state format version. */
  private[tools] def fieldPath(st: StructType, name: String, prefix: String): Option[String] =
    st.fields.iterator.flatMap { f =>
      if (f.name == name) Some(prefix + f.name)
      else f.dataType match {
        case s: StructType => fieldPath(s, name, s"$prefix${f.name}.")
        case _ => None
      }
    }.nextOption()

  /** `size(<value field>)` of a state-store snapshot's rows. */
  private def stateSize(state: DataFrame, field: String): org.apache.spark.sql.Column =
    expr(s"size(${fieldPath(state.schema("value").dataType.asInstanceOf[StructType], field, "value.")
      .getOrElse(sys.error(s"no $field field under value: ${state.schema.treeString}"))})")

  /** Runs a stateful stream to completion over `src` into the noop sink;
    * returns its wall seconds. */
  private def drain(spark: SparkSession, src: String, ckpt: String)(
      query: DataFrame => Dataset[_]): Double = {
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    LocalSession.timed {
      val q = query(stream).writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(600000)
      q.stop()
    }._1
  }

  private def funnelLeg(spark: SparkSession, sfDir: String,
      tempDir: String => String): (Double, Long, String) = {
    val stateDir = tempDir("funnel-probe")
    val docs = graft.queries.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "lang", "source", "text")
      .localCheckpoint(true)
    val n = docs.count()
    // Three uneven chunks by doc_id RANK — cut at the exact 1/3 and 1/2
    // quantiles of the actual id distribution (relativeError=0 ⇒ exact).
    // NOT value arithmetic on n: replica doc_ids sit in 1e8-spaced copy
    // blocks, so (0, n/3, n/2) ranges would select only the original
    // copy's ids and silently probe a tenth of the corpus (the r9 bug:
    // both FUNNELSTATE legs reported identical state cardinalities).
    // approxQuantile returns an EMPTY array on an empty/all-null column —
    // degrade to degenerate cuts instead of a MatchError (an empty sfDir
    // would otherwise kill the probe mid-snapshot and leave a malformed
    // artifact behind).
    val qs = docs.stat.approxQuantile("doc_id", Array(1.0 / 3, 0.5), 0.0)
    val cuts = if (qs.length < 2) Seq((0L, 0L), (0L, 0L), (0L, 1L)) else {
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      Seq((Long.MinValue, qs(0).toLong), (qs(0).toLong, qs(1).toLong),
        (qs(1).toLong, maxId + 1))
    }
    val (sec, _) = LocalSession.timed(cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
      val chunk = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      EventStreams.curationFunnelBatch(spark, chunk, i.toLong, stateDir)
    })
    val v = cuts.size - 1L
    def shape(table: String, key: String): (Long, Long) = {
      val df = spark.read.parquet(s"$stateDir/$table/v=$v")
      if (df.isEmpty) (0L, 0L)
      else {
        val r = df.groupBy(key).count().agg(max("count"), count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    val tables = Seq("anchors" -> "band", "collide" -> "doc_id",
      "stars" -> "node", "counters" -> "src")
    val parts = tables.map { case (t, k) =>
      val (mx, card) = shape(t, k)
      s""""$t":{"max_rows_per_key":$mx,"rows":$card}"""
    }
    val funnel = spark.read.parquet(s"$stateDir/funnel")
    val lastBatch = funnel.agg(max("batch_id")).head().getLong(0)
    val stages = funnel.filter(col("batch_id") === lastBatch)
      .orderBy("stage").collect()
      .map(r => s""""${r.getAs[String]("stage_name")}":${r.getAs[Long]("n_docs")}""")
    (sec, n, parts.mkString("{", ",", ",") + s""""stages":{${stages.mkString(",")}}}""")
  }

  private def bandLeg(spark: SparkSession, sfDir: String,
      tempDir: String => String): (Double, Long, String) = {
    import spark.implicits._
    val w = 3600L * 1000000
    val events = graft.queries.Tables.events(spark, sfDir)
    val nEvents = events.count()
    val src = tempDir("bandstate-src")
    val ckpt = tempDir("bandstate-ckpt")
    // three time-ordered files -> three micro-batches (the spec's split
    // shape): the watermark advances between triggers, so the final
    // snapshot shows the event-time timeout actually reclaiming buckets
    val us = events.selectExpr("unix_micros(ts) AS us").as[Long]
    val Array(c1, c2) = us.stat.approxQuantile("us", Array(1.0 / 3, 2.0 / 3), 0.0).map(_.toLong)
    Seq((Long.MinValue, c1), (c1, c2), (c2, Long.MaxValue)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        events.filter(expr(s"unix_micros(ts) >= ${lo}L AND unix_micros(ts) < ${hi}L"))
          .coalesce(1).write.mode("append").parquet(src)
        stampPartMtimes(src, i)
    }
    val sec = drain(spark, src, ckpt)(EventStreams.bandStats(spark, _))

    // state-store reads: key.value = bucket, the `buf` array inside value
    def bufSizes(batchId: Long): Map[Long, Long] = {
      val reader = spark.read.format("statestore").option("path", ckpt)
      val df = (if (batchId >= 0) reader.option("batchId", batchId) else reader).load()
      df.select(expr("key.value AS bucket"), stateSize(df, "buf").as("n"))
        .filter(col("n") >= 0) // a timed-out-but-present row decodes to null buf
        .as[(Long, Long)].collect().toMap
    }
    val firstBatch = bufSizes(0L)
    val finalState = bufSizes(-1L)

    // expected spread + two-window bound from the batch table
    val residents = us.map(u => Math.floorDiv(u, w)).groupByKey(identity)
      .count().collect().toMap
    val firstFileBuckets = spark.read.parquet(src)
      .selectExpr("unix_micros(ts) AS us").as[Long]
      .filter(u => u < c1)
      .flatMap(u => EventStreams.bandStatsRoutes(u, w).map(_._1))
      .distinct().count()
    require(firstBatch.size == firstFileBuckets,
      s"first-batch state must spread across all ${firstFileBuckets} routed buckets, got ${firstBatch.size}")
    val hours = residents.size
    def bound(b: Long): Long = residents.getOrElse(b, 0L) + residents.getOrElse(b - 1, 0L)
    val violations = finalState.filter { case (b, n) => n > bound(b) }
    require(violations.isEmpty,
      s"buckets over the two-window bound: ${violations.take(5)}")
    val ttlReclaimed = finalState.size < hours
    require(hours <= 6 || ttlReclaimed,
      s"event-time timeout reclaimed nothing: ${finalState.size} live buckets for $hours hours")
    (sec, nEvents,
      s"""{"hours_in_data":$hours,"buckets_first_batch":${firstBatch.size},""" +
        s""""buckets_final":${finalState.size},"ttl_reclaimed":$ttlReclaimed,""" +
        s""""max_buf_rows":${finalState.values.maxOption.getOrElse(0L)},""" +
        s""""max_two_window_bound":${finalState.keys.map(bound).maxOption.getOrElse(0L)}}""")
  }

  private def skylineLeg(spark: SparkSession, sfDir: String,
      tempDir: String => String): (Double, String) = {
    import spark.implicits._
    val docs = graft.queries.Tables.documents(spark, sfDir)
    val src = tempDir("skystate-src")
    val ckpt = tempDir("skystate-ckpt")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    stampPartMtimes(src, 0)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    stampPartMtimes(src, 1)
    val sec = drain(spark, src, ckpt)(EventStreams.skylineFrontier(spark, _))
    val state = spark.read.format("statestore").option("path", ckpt).load()
    val keys = state.count()
    val frontierRows = state.select(stateSize(state, "pts")).as[Long].collect().max
    val batchFrontier = graft.queries.TextQueries.x08ParetoSkyline(spark, sfDir).count()
    require(keys == 1L, s"skyline merge must hold exactly one state key, got $keys")
    require(frontierRows == batchFrontier,
      s"skyline state ($frontierRows pts) must equal the batch x08 frontier ($batchFrontier)")
    (sec, s"""{"state_keys":$keys,"frontier_rows":$frontierRows,"batch_frontier_rows":$batchFrontier}""")
  }
}
