package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

import graft.core.BytesRange
import graft.operators.{SegmentFetchJob, SegmentJobConfig}
import graft.records.{KafkaWireCodec, RowSchema}
import graft.sources.StorageBackends

/** DataSource V2: `spark.read.format("graft-segments")` — tiered segments
  * (chunked / compressed / encrypted, exactly as [[graft.operators.SegmentUploadJob]]
  * or the reference writes them) exposed as a FIRST-CLASS Spark table of
  * Kafka records, no intermediate parquet copy. This is the reference's
  * analytic fetch path (`RemoteStorageManager.fetchLogSegment` + record
  * parse) restated as a Catalyst-integrated source:
  *
  *  - **Planning**: one [[InputPartition]] per stored segment (manifest
  *    listing, driver-side key strings only — never bytes). At 100 TB the
  *    unit of parallelism is the segment, the same unit the storage layer
  *    writes, so executor fan-out matches data layout with no shuffle.
  *  - **Partition pruning**: filters on `segment_key` (equality, IN,
  *    prefix) prune segments at PLAN time — the object-store analogue of
  *    partition pruning; a `startswith(segment_key, 'topicA-')` scan never
  *    fetches a byte of other topics. Pruning is conservative: every
  *    filter is also returned as residual, so Spark re-evaluates exactly
  *    (same contract as parquet row-group stats).
  *  - **Column pruning**: the required schema (including NESTED `kafka.*`
  *    fields) reaches the reader; unrequested fields are never
  *    materialized into rows (`value_raw` payloads in particular — a
  *    metadata-only query builds rows of just batch headers).
  *  - **Reading**: executor-side ranged fetch + detransform through the
  *    manifest-described pipeline ([[SegmentFetchJob.fetchRange]] — zstd /
  *    LZ4 / deflate, AES-GCM, RSA-wrapped keys), then the Kafka wire
  *    parse ([[KafkaWireCodec.batchViews]]), one CRC-verified batch at a time
  *    as rows are pulled, so a task holds one batch of records. Decryption
  *    keys arrive via options (base64 DER) — a deployment would plug a
  *    KMS here; the wiring is identical.
  *
  * Registered via META-INF/services, so the short name works:
  * {{{
  *   spark.read.format("graft-segments")
  *     .option("root", "/tiered/store").option("prefix", "")
  *     .option("rsaPublicKeyB64", pub).option("rsaPrivateKeyB64", priv)
  *     .load()
  * }}}
  */
class GraftSegments extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-segments"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSegments.fullSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new SegmentsTable(GraftSegments.SourceConf.from(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = false
}

object GraftSegments {
  /** `segment_key` + the F6 raw record schema. */
  val fullSchema: StructType = StructType(
    StructField("segment_key", StringType, nullable = false) +:
      RowSchema.rawSchema.fields.toSeq)

  final case class SourceConf(root: String, prefix: String,
                              rsaPublicKeyB64: String, rsaPrivateKeyB64: String,
                              backendProvider: String = "",
                              /** >0 routes partition reads through the
                                * executor-shared [[graft.sources.CachingChunkFetcher]]
                                * (C2): chunk-granular cache + background
                                * prefetch of this many original bytes ahead
                                * of the consumer. 0 (default) = direct
                                * ranged fetches ([[SegmentFetchJob.fetchRange]]).
                                * Both resolve manifests through the same
                                * validated, bounded [[SegmentFetchJob.readSpec]]. */
                              prefetchBytes: Long = 0L,
                              /** Executor-wide chunk-cache budget for the
                                * prefetch path. */
                              cacheBytes: Long = 256L << 20,
                              /** Streaming admission control (0 = unlimited):
                                * cap each micro-batch at this many segments /
                                * this many `.log` payload bytes (metadata
                                * `size()` sums — no byte fetched to decide).
                                * A backfill of 40 000 tiered segments then
                                * drains as bounded, checkpointable batches
                                * instead of one giant catch-up batch. */
                              maxSegmentsPerTrigger: Int = 0,
                              maxBytesPerTrigger: Long = 0L,
                              /** Write-path AES-GCM, mirroring the reference's
                                * `encryption.enabled`: None (default) =
                                * derived from whether RSA keys were supplied;
                                * Some(true) without keys fails HERE (driver,
                                * planning time) instead of as a per-task
                                * crypto error on executors. */
                              encryptionOpt: Option[Boolean] = None,
                              /** Streaming replay bounds (the Kafka source's
                                * `startingTimestamp` idiom, r9): micro-batch
                                * filter pushdown does not exist in Spark, so a
                                * WHERE on `kafka.timestamp` runs post-scan and
                                * a bounded replay would still list+fetch the
                                * whole store. These options feed the manifest
                                * RecordStats pruning when the stream's offset
                                * space is built — non-matching segments never
                                * enter it. SEGMENT-granular: a boundary
                                * segment's rows outside the bound still flow;
                                * keep the row-exact WHERE in the query. */
                              streamStartingTimestamp: Option[Long] = None,
                              streamEndingTimestamp: Option[Long] = None) {
    require(maxSegmentsPerTrigger >= 0,
      s"stream.maxSegmentsPerTrigger must be >= 0, got $maxSegmentsPerTrigger")
    require(maxBytesPerTrigger >= 0,
      s"stream.maxBytesPerTrigger must be >= 0, got $maxBytesPerTrigger")
    require(!(encryptionOpt.contains(true) && rsaPublicKeyB64.isEmpty),
      "graft-segments: option encryption=true requires rsaPublicKeyB64 " +
        "(and rsaPrivateKeyB64 for reads) — no key material was supplied")
    /** Effective write-path encryption: explicit option wins; otherwise on
      * iff key material is present. */
    def encryption: Boolean = encryptionOpt.getOrElse(rsaPublicKeyB64.nonEmpty)
    /** Register the configured [[StorageBackends.Provider]] (idempotent) —
      * runs on DRIVER AND EXECUTORS before any storage resolution, so a
      * schemed root works wherever the partition lands; mirrors the
      * reference's `storage.backend.class` being instantiated inside each
      * broker's plugin (`RemoteStorageManagerConfig.java`). */
    def ensureBackend(): Unit =
      if (backendProvider.nonEmpty) StorageBackends.registerProvider(backendProvider)
    def storage: graft.sources.StorageBackend = {
      ensureBackend()
      StorageBackends.forRoot(root)
    }
    def jobConfig: SegmentJobConfig = {
      val dec = java.util.Base64.getDecoder
      SegmentJobConfig(
        storageRoot = root,
        encryption = encryption,
        rsaPublicKey = if (rsaPublicKeyB64.isEmpty) Array.emptyByteArray else dec.decode(rsaPublicKeyB64),
        rsaPrivateKey = if (rsaPrivateKeyB64.isEmpty) Array.emptyByteArray else dec.decode(rsaPrivateKeyB64))
    }
  }
  object SourceConf {
    def from(o: CaseInsensitiveStringMap): SourceConf = {
      val root = o.get("root")
      require(root != null && root.nonEmpty, "graft-segments requires option 'root'")
      SourceConf(root, Option(o.get("prefix")).getOrElse(""),
        Option(o.get("rsaPublicKeyB64")).getOrElse(""),
        Option(o.get("rsaPrivateKeyB64")).getOrElse(""),
        Option(o.get("backend.provider")).getOrElse(""),
        Option(o.get("read.prefetch.bytes")).map(_.toLong).getOrElse(0L),
        Option(o.get("read.cache.bytes")).map(_.toLong).getOrElse(256L << 20),
        Option(o.get("stream.maxSegmentsPerTrigger")).map(_.toInt).getOrElse(0),
        Option(o.get("stream.maxBytesPerTrigger")).map(_.toLong).getOrElse(0L),
        Option(o.get("encryption")).map(_.toBoolean),
        Option(o.get("stream.startingTimestamp")).map(_.toLong),
        Option(o.get("stream.endingTimestamp")).map(_.toLong))
    }
  }
}

/** Executor-lifetime chunk cache + prefetcher registry for the DSv2 read
  * path (C2 wiring, r4 verdict task 8): one [[graft.sources.LruByteCache]]
  * of detransformed chunks + [[graft.sources.CachingChunkFetcher]] per
  * (root, [[SegmentJobConfig.keyDigest]], prefetch, budget) tuple, shared
  * by every partition reader in the JVM — so a segment fetched by one task
  * (or a previous query) is served from memory for the next, and prefetch
  * threads overlap fetch+detransform with the consumer. Two sources on the
  * same root with different keys or budgets never share entries. Manifests
  * are not cached here: they come from [[SegmentFetchJob.readSpec]], the
  * same bounded cache the direct path uses.
  *
  * Bounded: at most [[MaxFetchers]] tuples live at once, least recently
  * used first out. An evicted fetcher's prefetch pool is shut down and its
  * cache dropped with it; a reader still holding it keeps reading (chunk
  * loads run on the caller), only without prefetch. */
private[graft] object SegmentsReadCache {
  val MaxFetchers = 4

  private type Entry = (graft.sources.LruByteCache, graft.sources.CachingChunkFetcher)
  private val fetchers = new java.util.LinkedHashMap[String, Entry](8, 0.75f, true)

  def forConf(cfg: graft.operators.SegmentJobConfig, prefetchBytes: Long,
              cacheBytes: Long): Entry = fetchers.synchronized {
    val id = s"${cfg.storageRoot}#${cfg.keyDigest}#$prefetchBytes#$cacheBytes"
    var e = fetchers.get(id)
    if (e == null) {
      val cache = new graft.sources.LruByteCache(cacheBytes)
      e = (cache, new graft.sources.CachingChunkFetcher(cfg, cache, prefetchBytes))
      fetchers.put(id, e)
      val it = fetchers.values().iterator()
      while (fetchers.size > MaxFetchers) { it.next()._2.shutdown(); it.remove() }
    }
    e
  }

  def size: Int = fetchers.synchronized(fetchers.size)

  /** Test hook: shut down and drop every cached fetcher (fake backends
    * re-register roots). */
  private[graft] def reset(): Unit = fetchers.synchronized {
    fetchers.values().forEach(_._2.shutdown())
    fetchers.clear()
  }
}

final class SegmentsTable(conf: GraftSegments.SourceConf) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-segments:${conf.root}"
  override def schema(): StructType = GraftSegments.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SegmentsScanBuilder(conf)
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SegmentsWriteBuilder(conf, info.schema())
}

final class SegmentsScanBuilder(conf: GraftSegments.SourceConf)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset {

  private var required: StructType = GraftSegments.fullSchema
  private var pruning: Array[Filter] = Array.empty
  private var pushedAgg: Option[SegmentsAggScan.AggSpec] = None
  private var limitOpt: Option[Int] = None
  private var topNReversed: Boolean = false
  private var offsetOpt: Option[Int] = None

  /** OFFSET pushdown (r7): `LIMIT l OFFSET o` pages through the tiered log
    * without refetching earlier pages — segments whose manifest
    * `RecordStats` counts fall entirely below the offset are never
    * planned, and the in-segment remainder rides the first planned
    * partition as a row skip. Unlike limit/topN, Spark has no partial
    * mode for offset: accepting means the scan must skip EXACTLY o rows,
    * so acceptance is gated on (a) the same append-ordered single-
    * partition `prefix` contract topN uses (the skip must be a
    * deterministic key-ordered prefix), (b) ascending order (a DESC topN
    * already reversed the walk), and (c) a validating driver walk: every
    * manifest in the skip range must carry stats — one stats-less segment
    * and we refuse, leaving Spark's own Offset operator in place. */
  private val statsMemo = scala.collection.mutable.HashMap.empty[String, Long]

  override def pushOffset(offset: Int): Boolean = {
    val ok = conf.prefix.nonEmpty && !topNReversed &&
      SegmentsScan.offsetCoveredByStats(conf, pruning, offset, statsMemo)
    if (ok) offsetOpt = Some(offset)
    ok
  }

  /** LIMIT pushdown (r7): `LIMIT n` plans only enough segments to cover n
    * rows — manifest `RecordStats` counts are walked in sorted-key order
    * at plan time (small manifest GETs, never log bytes) and planning
    * stops once the running count reaches n. "Show me 10 sample records"
    * against a 100 TB store fetches ONE segment, not the store. PARTIAL
    * pushdown (`isPartiallyPushed` = true): Spark keeps its own limit on
    * top, so a stats-less manifest in the walk just means one more
    * planned segment, never a wrong answer. Spark only offers the limit
    * when no residual filter sits below it, so filtered scans keep the
    * full row path. */
  override def pushLimit(limit: Int): Boolean = { limitOpt = Some(limit); true }

  // both limit and topN are PARTIAL pushes: the scan bounds planned
  // segments, Spark's own limit/sort stays on top (Scala requires one
  // explicit override for the two inherited Java default methods)
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown (r7): `ORDER BY kafka.offset [DESC] LIMIT n` walks the
    * count-covering segments from the matching END of the sorted key
    * list — "tail the tiered log" plans the LAST segments of the store
    * instead of all of them. SOUND only under the append-ordered-key
    * contract (one topic-partition per `prefix`, the ObjectKey %020d
    * layout — the SAME contract the streaming source documents): there,
    * sorted keys == sorted base offsets and each segment's offsets
    * precede the next's, so the true top-n rows live in the walked
    * suffix/prefix. Gated on a non-empty `prefix` option (the one-
    * partition scope); multi-partition stores keep the full scan.
    * PARTIAL pushdown: Spark's sort + limit stay on top. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val sortable = conf.prefix.nonEmpty && orders.length == 1 &&
      (orders(0).expression() match {
        case nr: NamedReference => nr.fieldNames.toSeq == Seq("kafka", "offset")
        case _                  => false
      }) &&
      // an accepted OFFSET is an ascending-prefix promise — refuse a DESC
      // topN after it rather than skip from the wrong end
      !(offsetOpt.isDefined &&
        orders(0).direction() == SortDirection.DESCENDING)
    if (sortable) {
      limitOpt = Some(limit)
      topNReversed = orders(0).direction() == SortDirection.DESCENDING
      true
    } else false
  }

  /** Keep the filters we can prune WITH; return everything as residual —
    * segment-level pruning is coarse by design. Two prunable families:
    * `segment_key` shapes (string listing, zero extra I/O) and — since r8 —
    * offset/timestamp RANGE shapes (`kafka.offset` / `kafka.timestamp`
    * compared to a literal), pruned against each manifest's exact
    * [[graft.core.RecordStats]] bounds: the mirror of the reference's
    * offset/timestamp-indexed fetch (`RemoteStorageManager.java:137-152`).
    * "What happened since yesterday" over a 100 TB store then plans only
    * the segments whose stats interval intersects the predicate;
    * stats-less segments (reference-written manifests) are ALWAYS planned
    * and the residual filter re-evaluates rows exactly. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pruning = filters.filter(f =>
      SegmentsScan.isKeyPrunable(f) || SegmentsScan.isStatsPrunable(f))
    filters
  }
  override def pushedFilters(): Array[Filter] = pruning

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Metadata-only aggregates (r7, VERDICT r6 task 6): `count(*)` /
    * `count(<non-null col>)` / `min/max(kafka.offset|kafka.timestamp)`,
    * optionally grouped by `segment_key`, answer from per-segment manifest
    * [[graft.core.RecordStats]] — the 100 TB ops question ("how many
    * records, what's the high watermark") reads ZERO log bytes. PARTIAL
    * pushdown: each segment contributes one pre-aggregated row and Spark
    * runs the final merge, so the manifest reads stay distributed across
    * executors instead of serializing on the driver.
    *
    * Safety: a residual row-level filter would make manifest-level stats
    * wrong — but Spark only offers pushAggregation when NO post-scan
    * filter remains, and our pushFilters returns EVERY filter as residual
    * (segment_key prunes included), so any filtered aggregate keeps the
    * row-path plan. Pruning still applies through a `prefix` source
    * option, which restricts the listing below the filter layer. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  override def pushAggregation(aggregation: Aggregation): Boolean =
    SegmentsAggScan.translate(aggregation) match {
      case Some(spec) => pushedAgg = Some(spec); true
      case None => false
    }

  override def build(): Scan = pushedAgg match {
    case Some(spec) => new SegmentsAggScan(conf, pruning, spec)
    case None => new SegmentsScan(conf, required, pruning, limitOpt, topNReversed,
      offsetOpt, statsMemo.toMap)
  }
}

final case class SegmentPartition(segKey: String, skipRows: Long = 0L) extends InputPartition

object SegmentsScan {
  /** Test observability: partition count of the most recent planning pass
    * (post static AND runtime pruning) — runtime-filter effectiveness is
    * otherwise invisible outside BatchScanExec internals. */
  @volatile private[graft] var lastPlannedPartitions: Int = -1

  /** Driver-side manifest KEY listing (strings only, no bytes), filtered
    * by the prunable segment_key shapes and sorted — shared by the row
    * scan, its size estimate and the aggregate scan. */
  private[v2] def listSegments(conf: GraftSegments.SourceConf,
                               filters: Array[Filter]): Array[String] =
    graft.sources.ObjectKey.committedSegments(conf.storage, conf.prefix)
      .filter(keyKeep(filters)).sorted.toArray

  /** The segment_key prune predicate: can a segment with this key satisfy
    * every prunable `segment_key` filter? Other filters pass. */
  private[v2] def keyKeep(filters: Array[Filter])(key: String): Boolean = filters.forall {
    case EqualTo("segment_key", v: String)  => key == v
    case In("segment_key", vs)              => vs.exists(_ == key)
    case StringStartsWith("segment_key", p) => key.startsWith(p)
    case _                                  => true
  }

  /** Per-key manifest `RecordStats`, if the manifest parses and carries
    * stats (reference-written manifests may not). Uncached: each call is
    * one manifest GET. */
  private[v2] def statsOf(conf: GraftSegments.SourceConf,
                          key: String): Option[graft.core.RecordStats] =
    try SegmentFetchJob.loadManifest(conf.storage, key).recordStats
    catch { case _: Exception => None }

  private[v2] def statsCount(conf: GraftSegments.SourceConf, key: String): Option[Long] =
    statsOf(conf, key).map(_.count)

  private[v2] def isKeyPrunable(f: Filter): Boolean = f match {
    case EqualTo("segment_key", _: String)  => true
    case In("segment_key", _)               => true
    case StringStartsWith("segment_key", _) => true
    case _                                  => false
  }

  /** The offset/timestamp shapes the manifest `RecordStats` interval can
    * prune on: comparisons of `kafka.offset` / `kafka.timestamp` (the
    * dotted nested-field names V2 filter translation produces) against an
    * integral literal. */
  private[v2] def isStatsPrunable(f: Filter): Boolean = {
    def ok(attr: String, v: Any): Boolean =
      (attr == "kafka.offset" || attr == "kafka.timestamp") &&
        (v match { case _: java.lang.Long | _: java.lang.Integer |
                        _: java.lang.Short | _: java.lang.Byte => true; case _ => false })
    f match {
      case GreaterThan(a, v)        => ok(a, v)
      case GreaterThanOrEqual(a, v) => ok(a, v)
      case LessThan(a, v)           => ok(a, v)
      case LessThanOrEqual(a, v)    => ok(a, v)
      case EqualTo(a, v)            => ok(a, v)
      case In(a, vs)                => vs.nonEmpty && vs.forall(v => ok(a, v))
      case _                        => false
    }
  }

  /** Can a segment with these (exact) stats contain a row satisfying every
    * stats-prunable filter? `None` (stats-less manifest) → always planned;
    * an empty segment can satisfy nothing. Conservative by construction:
    * the residual filter above the scan re-evaluates rows exactly, so a
    * `true` that turns out rowless only costs one fetch, never wrongness. */
  private[v2] def statsKeep(filters: Array[Filter],
                            stats: Option[graft.core.RecordStats]): Boolean =
    stats match {
      case None => true
      case Some(s) =>
        if (s.count == 0L) filters.isEmpty
        else {
          def bounds(attr: String): (Long, Long) = attr match {
            case "kafka.offset" => (s.minOffset, s.maxOffset)
            case _              => (s.minTimestamp, s.maxTimestamp)
          }
          def lv(v: Any): Long = v.asInstanceOf[Number].longValue
          filters.forall {
            case GreaterThan(a, v)        => bounds(a)._2 > lv(v)
            case GreaterThanOrEqual(a, v) => bounds(a)._2 >= lv(v)
            case LessThan(a, v)           => bounds(a)._1 < lv(v)
            case LessThanOrEqual(a, v)    => bounds(a)._1 <= lv(v)
            case EqualTo(a, v) =>
              val (lo, hi) = bounds(a); val x = lv(v); lo <= x && x <= hi
            case In(a, vs) =>
              val (lo, hi) = bounds(a); vs.exists(v => { val x = lv(v); lo <= x && x <= hi })
            case _ => true
          }
        }
    }

  /** Segment skipping on manifest stats: drop keys whose `RecordStats`
    * interval provably misses every stats-prunable filter. One small
    * manifest GET per surviving key-listed segment (memoized per scan),
    * driver-side, no log byte — at 100 TB a time-range query's planning
    * I/O is manifests only, and its execution fetches just the matching
    * segments. */
  private[v2] def statsPrune(conf: GraftSegments.SourceConf, keys: Array[String],
                             filters: Array[Filter],
                             memo: scala.collection.concurrent.Map[String, Option[graft.core.RecordStats]])
      : Array[String] = {
    val statsFilters = filters.filter(isStatsPrunable)
    if (statsFilters.isEmpty) keys
    else keys.filter(k => statsKeep(statsFilters, memo.getOrElseUpdate(k, statsOf(conf, k))))
  }

  /** pushOffset's validating walk: true iff sorted-key manifests carry
    * stats all the way past `offset` rows (so an exact skip is plannable).
    * Small manifest GETs only, and only up to the skip boundary; counts
    * gathered here land in `memo` so planInputPartitions' boundary walk
    * re-reads nothing (halves driver planning I/O on large skips). */
  private[v2] def offsetCoveredByStats(conf: GraftSegments.SourceConf,
                                       filters: Array[Filter], offset: Int,
                                       memo: scala.collection.mutable.Map[String, Long])
      : Boolean = {
    conf.ensureBackend()
    val it = listSegments(conf, filters).iterator
    var covered = 0L
    while (it.hasNext && covered < offset) {
      val k = it.next()
      statsCount(conf, k) match {
        case Some(c) => memo.put(k, c); covered += c
        case None    => return false
      }
    }
    covered >= offset || !it.hasNext // an offset past the store is fine: skip = everything
  }
}

final class SegmentsScan(conf: GraftSegments.SourceConf, required: StructType,
                         pruning: Array[Filter],
                         limitOpt: Option[Int] = None,
                         limitFromEnd: Boolean = false,
                         offsetOpt: Option[Int] = None,
                         statsMemo: Map[String, Long] = Map.empty) extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Planner-visible size estimate (r6): Σ `.log` object sizes over the
    * statically-pruned segment set — one metadata `size()` per segment,
    * no byte fetched. Joins against a pruned segments scan can then
    * broadcast correctly instead of defaulting to a shuffle (an unknown-
    * size v2 scan is assumed huge). Transformed size ≥ original payload
    * minus compression — a conservative under/over estimate is fine for
    * join-strategy selection, exactness is not the contract. */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val bytes: Long = {
      val storage = conf.storage
      val logSuffix = "." + graft.sources.ObjectKey.Suffix.Log.value
      SegmentsScan.listSegments(conf, pruning ++ runtimeFilters)
        .map(k => try storage.size(s"$k$logSuffix") catch { case _: Exception => 0L })
        .sum
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** Runtime (join-driven) segment pruning — DSv2 dynamic partition
    * pruning (r6): a broadcast join on `segment_key` hands the build
    * side's key set to the scan as an IN filter BEFORE partitions run, so
    * "fetch these 40 segments of the 40 000 in the store" plans 40
    * partitions instead of scanning everything and filtering rows. The
    * object-store analogue of DPP on a partitioned table; at 100 TB this
    * is the difference between a point join and a full-store fetch. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("segment_key"))

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  /** Driver-side planning: manifest KEY LISTING only (strings; no manifest
    * is parsed, no byte fetched until an executor runs its partition) —
    * except under a pushed LIMIT, where manifests are walked in sorted-key
    * order and planning stops once their `RecordStats` counts cover the
    * limit (small manifest GETs only; a stats-less manifest contributes an
    * unknown count, so the walk keeps going — correct, just less pruned;
    * Spark's own limit still applies on top). */
  /** Manifest record count, served from pushOffset's validation memo when
    * that walk already fetched it. */
  private def segStats(k: String): Option[Long] =
    statsMemo.get(k).orElse(SegmentsScan.statsCount(conf, k))

  /** Per-scan memo for the stats-pruning manifest reads (segment skipping
    * on offset/timestamp range filters): one GET per key per scan, shared
    * by re-plans (AQE) and the streaming listing. */
  private val pruneMemo =
    new scala.collection.concurrent.TrieMap[String, Option[graft.core.RecordStats]]

  override def planInputPartitions(): Array[InputPartition] = {
    conf.ensureBackend()
    // Pushed OFFSET (r7): drop whole segments below the skip boundary,
    // carry the remainder into the first planned partition as a row skip.
    // The boundary is computed over the STATIC listing — the same one
    // pushOffset's validating walk proved stats-covered — because the
    // offset's row semantics must not move when a join later injects a
    // runtime segment_key filter. Runtime filters are applied AFTER the
    // boundary, to the kept segments only: they approximate the join's
    // own row filter, which sits ABOVE the offset, so dropping post-skip
    // segments the join cannot match is safe while re-deriving the skip
    // over a runtime-shrunk list would drop the wrong rows.
    val offset = offsetOpt.map(_.toLong).getOrElse(0L)
    var skipped = 0L
    var firstSkip = 0L
    val keys =
      if (offset == 0L)
        SegmentsScan.statsPrune(conf,
          SegmentsScan.listSegments(conf, pruning ++ runtimeFilters), pruning, pruneMemo)
      else {
        val statics = SegmentsScan.listSegments(conf, pruning)
        val it = statics.iterator
        val kept = Array.newBuilder[(String, Long)] // (key, rows to skip in it)
        var boundary = false
        while (it.hasNext) {
          val k = it.next()
          if (boundary) kept += ((k, 0L))
          else {
            val c = segStats(k).getOrElse(
              throw new IllegalStateException(
                s"offset pushdown planned over stats-less manifest $k"))
            if (skipped + c <= offset) skipped += c
            else { boundary = true; kept += ((k, offset - skipped)) }
          }
        }
        val surviving = kept.result()
          .filter { case (k, _) => SegmentsScan.keyKeep(runtimeFilters)(k) }
        firstSkip = surviving.headOption.map(_._2).getOrElse(0L)
        surviving.map(_._1)
      }
    val afterOffset = keys
    val chosen = limitOpt match {
      case Some(n) =>
        val picked = Array.newBuilder[String]
        // a pushed limit may or may not already include the offset rows
        // (Spark combines them plan-shape-dependently) — covering
        // offset + n from the boundary over-plans at worst, never under
        var covered = 0L
        val target = n.toLong + offset
        var satisfied = false
        // TopN DESC walks from the high-offset end of the sorted keys
        val it = (if (limitFromEnd) afterOffset.reverseIterator else afterOffset.iterator)
        while (it.hasNext && !satisfied) {
          val k = it.next(); picked += k
          segStats(k)
            .foreach { c => covered += c; satisfied = covered >= target }
        }
        picked.result()
      case None => afterOffset
    }
    val parts = chosen.zipWithIndex.map { case (k, i) =>
      SegmentPartition(k, if (i == 0 && !limitFromEnd) firstSkip else 0L): InputPartition
    }
    SegmentsScan.lastPlannedPartitions = parts.length
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SegmentsReaderFactory(conf, required)

  /** `spark.readStream.format("graft-segments")` — tier-out as a LIVE
    * source: each micro-batch reads the segments that appeared since the
    * last, as record rows (the streaming twin of the batch scan; the
    * reference's broker-driven copy becomes a subscribable stream).
    *
    * Offset model: the COUNT of segments in sorted-key order. Contract:
    * segment keys must be append-ordered, which the ObjectKey layout
    * (`%020d` zero-padded base offsets) guarantees within one
    * topic-partition — scope each stream with `prefix` (exactly a Kafka
    * consumer's partition subscription). Replays are deterministic: a
    * batch [a, b) is always the same sorted slice. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SegmentsMicroBatchStream(this)

  // the stream's own listing: never limit-truncated (a pushed batch LIMIT
  // must not shorten a micro-batch offset range). Stats pruning applies —
  // manifests are immutable once written, so the pruned listing is as
  // deterministic as the raw one and a timestamp-bounded replay skips
  // non-matching segments entirely. Spark pushes no filters into
  // micro-batch scans, so the replay bounds arrive as source OPTIONS
  // (`stream.startingTimestamp` / `stream.endingTimestamp`) synthesized
  // into stats filters here (r9).
  private[v2] def segmentKeys(): Array[String] = {
    val bounds: Array[Filter] =
      (conf.streamStartingTimestamp.map(v =>
          GreaterThanOrEqual("kafka.timestamp", v): Filter) ++
        conf.streamEndingTimestamp.map(v =>
          LessThanOrEqual("kafka.timestamp", v): Filter)).toArray
    SegmentsScan.statsPrune(conf,
      SegmentsScan.listSegments(conf, pruning ++ runtimeFilters),
      pruning ++ bounds, pruneMemo)
  }

  private[v2] def readerFactory(): PartitionReaderFactory = createReaderFactory()

  private[v2] def sourceConf: GraftSegments.SourceConf = conf

  override def description(): String = {
    val pr = if (pruning.isEmpty) "" else pruning.mkString(" prunedBy=[", ", ", "]")
    val lm = limitOpt.map(n =>
      if (limitFromEnd) s" topN=$n(from-end)" else s" limit=$n").getOrElse("")
    val off = offsetOpt.map(o => s" offset=$o").getOrElse("")
    s"graft-segments root=${conf.root} prefix='${conf.prefix}'$pr$lm$off"
  }
}

/** Streaming offset: how many (sorted) segments have been consumed, PLUS
  * the last consumed key — the count alone cannot detect a violated
  * append-order contract (a backfilled/re-uploaded segment sorting before
  * consumed keys silently shifts every subsequent slice), so the key is
  * checkpointed and re-validated on every plan. */
final case class SegmentCountOffset(n: Long, last: String = "")
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("n", n); node.put("last", last)
    m.writeValueAsString(node)
  }
}

object SegmentCountOffset {
  def parse(json: String): SegmentCountOffset = {
    val t = json.trim
    // an empty string satisfies forall(_.isDigit) — guard with nonEmpty so
    // a blank/garbage checkpoint fails with a descriptive error, not a raw
    // NumberFormatException from the legacy numeric branch
    if (t.nonEmpty && t.forall(_.isDigit)) SegmentCountOffset(t.toLong) // pre-r4 checkpoints
    else if (t.startsWith("{")) {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      SegmentCountOffset(node.get("n").asLong(),
        Option(node.get("last")).map(_.asText()).getOrElse(""))
    } else
      throw new IllegalArgumentException(
        s"invalid graft-segments stream offset '$json': expected a JSON object " +
          """{"n":N,"last":"key"} or a legacy non-negative integer""")
  }
}

object SegmentsMicroBatchStream {
  private[v2] val log = org.slf4j.LoggerFactory.getLogger(classOf[SegmentsMicroBatchStream])
}

final class SegmentsMicroBatchStream(scan: SegmentsScan)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
    Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  override def initialOffset(): Offset = SegmentCountOffset(0L)
  override def latestOffset(): Offset = {
    val keys = scan.segmentKeys()
    SegmentCountOffset(keys.length.toLong, if (keys.isEmpty) "" else keys.last)
  }

  /** Admission control (the Kafka-source `maxOffsetsPerTrigger` discipline
    * for an object store): `stream.maxSegmentsPerTrigger` caps the batch by
    * partition count, `stream.maxBytesPerTrigger` by the Σ of `.log` object
    * sizes — decided from storage METADATA only (one `size()` HEAD per
    * candidate key, no payload fetched, no manifest parsed). The byte cap
    * always admits at least one segment past `start`, so a segment larger
    * than the cap still makes progress instead of stalling the stream. */
  override def getDefaultReadLimit: ReadLimit = {
    val c = scan.sourceConf
    val lims = Seq(
      Option.when(c.maxSegmentsPerTrigger > 0)(
        ReadLimit.maxFiles(c.maxSegmentsPerTrigger)),
      Option.when(c.maxBytesPerTrigger > 0)(
        ReadLimit.maxBytes(c.maxBytesPerTrigger))).flatten
    lims match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val keys = scan.segmentKeys()
    val a = start.asInstanceOf[SegmentCountOffset].n.toInt
    def flat(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flat)
      case other                 => Seq(other)
    }
    val ls = flat(limit)
    val maxSeg = ls.collect { case f: ReadMaxFiles => f.maxFiles() }
      .reduceOption(_ min _)
    val maxBytes = ls.collect { case b: ReadMaxBytes => b.maxBytes() }
      .reduceOption(_ min _)
    val logSuffix = "." + graft.sources.ObjectKey.Suffix.Log.value
    lazy val storage = { scan.sourceConf.ensureBackend(); scan.sourceConf.storage }
    var end = a
    var bytes = 0L
    var stop = false
    while (end < keys.length && !stop) {
      if (maxSeg.exists(m => end - a >= m)) stop = true
      else {
        // a size() failure must NOT count as 0 bytes: under a persistently
        // failing metadata endpoint that silently degrades the byte cap to
        // unlimited. Conservative instead: stop admitting for this trigger
        // (progress guarantee intact — the first segment past `start` is
        // always admitted, sized or not).
        val sz = maxBytes.fold(Some(0L): Option[Long])(_ =>
          try Some(storage.size(keys(end) + logSuffix)) catch { case _: Exception => None })
        sz match {
          case None =>
            SegmentsMicroBatchStream.log.warn(
              s"graft-segments: size(${keys(end)}$logSuffix) failed; admitting " +
                (if (end == a) "it alone (progress guarantee) and " else "") +
                "no further segments this trigger (stream.maxBytesPerTrigger " +
                "cannot be enforced without metadata)")
            if (end == a) end += 1
            stop = true
          case Some(v) =>
            if (maxBytes.exists(m => end > a && bytes + v > m)) stop = true
            else { bytes += v; end += 1 }
        }
      }
    }
    SegmentCountOffset(end.toLong, if (end == 0) "" else keys(end - 1))
  }

  override def reportLatestOffset(): Offset = latestOffset()
  override def deserializeOffset(json: String): Offset = SegmentCountOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SegmentCountOffset]
    val b = end.asInstanceOf[SegmentCountOffset].n.toInt
    val a = s.n.toInt
    val keys = scan.segmentKeys()
    // enforce the append-ordered-keys contract: the consumed prefix must
    // still end at the checkpointed key, or offsets no longer index the
    // same slice and records would be silently skipped or re-emitted
    if (s.last.nonEmpty) {
      require(keys.length >= a && keys(a - 1) == s.last,
        s"graft-segments stream offset is stale: checkpoint says $a segments " +
          s"ending at '${s.last}', but the listing's ${a}th key is now " +
          s"'${keys.lift(a - 1).getOrElse("<missing>")}' — a segment was added, " +
          "removed or renamed BEFORE already-consumed keys (append-ordered " +
          "key contract violated; scope the stream with a single-partition " +
          "prefix, or restart from a fresh checkpoint)")
    }
    keys.slice(a, b).map(SegmentPartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.readerFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class SegmentsReaderFactory(conf: GraftSegments.SourceConf, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SegmentPartition]
    new SegmentsReader(conf, required, p.segKey, p.skipRows)
  }
}

/** Executor-side: detransform one segment, walk the Kafka wire, emit only
  * the required (possibly nested-pruned) fields as Catalyst values — no
  * external `Row` is built and no type converter runs per record. The
  * column writers are resolved from `required` once per reader
  * ([[SegmentsReader.writer]]) and read each record in place through a
  * [[KafkaWireCodec.RecordCursor]]: a key, value or header is copied out
  * of the batch buffer only when `required` selects it. `skipRows` > 0
  * carries a pushed OFFSET's in-segment remainder: the first `skipRows`
  * records are walked and checked (records are length-prefixed, there is
  * no index into the middle of a batch) but no column is written.
  *
  * Lazy and per batch: the whole segment is fetched and detransformed
  * before the first row (every chunk's GCM tag and size is checked), but
  * the wire is parsed one batch per pull ([[KafkaWireCodec.batchViews]]).
  * A CRC or truncation error in batch k fails the task when batch k is
  * reached, so a full scan fails and never returns short data; a query
  * that stops earlier (a LIMIT) never reaches batch k and does not fail
  * on it. */
final class SegmentsReader(conf: GraftSegments.SourceConf, required: StructType, segKey: String,
                           skipRows: Long = 0L)
    extends PartitionReader[InternalRow] {

  private val write = SegmentsReader.writer(required, segKey)

  private lazy val batches: Iterator[KafkaWireCodec.BatchView] = {
    conf.ensureBackend() // executor-side transport registration
    val bytes =
      if (conf.prefetchBytes > 0)
        SegmentsReadCache.forConf(conf.jobConfig, conf.prefetchBytes, conf.cacheBytes)._2
          .segmentBytes(segKey)
      else
        SegmentFetchJob.fetchRange(conf.jobConfig, segKey, BytesRange(0L, Long.MaxValue - 1L))
    KafkaWireCodec.batchViews(bytes)
  }

  private var batch: KafkaWireCodec.BatchView = _
  private var cursor: KafkaWireCodec.RecordCursor = _
  private var toSkip = skipRows
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (cursor == null || !cursor.next()) {
      if (!batches.hasNext) return false
      batch = batches.next()
      cursor = batch.cursor
      while (toSkip > 0 && cursor.next()) toSkip -= 1
    }
    current = write(batch, cursor)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object SegmentsReader {
  /** The record → `InternalRow` writer for a required schema: one column
    * writer per required field, in `required`'s order, each producing the
    * Catalyst value of its field (`UTF8String`, nested `InternalRow`,
    * `ArrayData`, raw `Array[Byte]`) from the cursor's current record.
    * Nested selections — a pruned `kafka` struct, a pruned `headers`
    * element struct — resolve to source ordinals here, by name, so their
    * order never matters; header keys are copied and decoded only when
    * the element struct selects them. The record's partition is 0, as in
    * [[graft.records.SegmentToRows]]. */
  private[v2] def writer(required: StructType, segKey: String)
      : (KafkaWireCodec.BatchView, KafkaWireCodec.RecordCursor) => InternalRow = {
    type Col = (KafkaWireCodec.BatchView, KafkaWireCodec.RecordCursor) => Any
    def fields(t: DataType): Array[String] = t.asInstanceOf[StructType].fieldNames
    val key = UTF8String.fromString(segKey)
    val cols: Array[Col] = required.fields.map { f =>
      f.name match {
        case "segment_key" => (_, _) => key
        case "kafka" =>
          val idx = fields(f.dataType).map(RowSchema.kafkaStruct.fieldIndex)
          (b, c) => {
            val vs = new Array[Any](idx.length)
            var i = 0
            while (i < idx.length) {
              vs(i) = RowSchema.kafkaValue(b, c.offsetDelta, c.timestampDelta, 0, idx(i))
              i += 1
            }
            new GenericInternalRow(vs)
          }
        case "headers" =>
          val isKey = fields(f.dataType.asInstanceOf[ArrayType].elementType).map(_ == "key")
          (_, c) => {
            val hs = new Array[Any](c.headerCount)
            var h = 0
            while (h < hs.length) {
              c.nextHeader()
              hs(h) = new GenericInternalRow(isKey.map[Any](k =>
                if (k) UTF8String.fromBytes(c.headerKey) else c.headerValue))
              h += 1
            }
            new GenericArrayData(hs)
          }
        case "key_raw"   => (_, c) => c.key
        case "value_raw" => (_, c) => c.value
        case other => throw new IllegalStateException(s"unknown column $other")
      }
    }
    (b, c) => {
      val vs = new Array[Any](cols.length)
      var i = 0
      while (i < cols.length) { vs(i) = cols(i)(b, c); i += 1 }
      new GenericInternalRow(vs)
    }
  }
}

// ---------------------------------------------------------------------------
// Aggregate pushdown: metadata-only count / offset / timestamp bounds.
// ---------------------------------------------------------------------------

object SegmentsAggScan {
  /** The aggregates a manifest's [[graft.core.RecordStats]] can answer. */
  sealed trait AggCol
  case object CountAll extends AggCol
  case object MinOffset extends AggCol
  case object MaxOffset extends AggCol
  case object MinTs extends AggCol
  case object MaxTs extends AggCol

  final case class AggSpec(groupByKey: Boolean, cols: Seq[AggCol])

  /** Test observability: how many partitions answered from manifest stats
    * vs fell back to a payload parse (reference-written segments carry no
    * stats) in the most recent aggregate scan. */
  private[graft] val statsOnlyReads = new java.util.concurrent.atomic.AtomicInteger
  private[graft] val payloadFallbackReads = new java.util.concurrent.atomic.AtomicInteger
  private[graft] def resetCounters(): Unit = { statsOnlyReads.set(0); payloadFallbackReads.set(0) }

  /** Columns whose values are never null in the record schema, so
    * `count(col)` ≡ `count(*)` (RowSchema declares them non-nullable). */
  private val NonNullPaths: Set[Seq[String]] = Set(
    Seq("segment_key"), Seq("kafka"), Seq("kafka", "offset"), Seq("kafka", "timestamp"))

  private def path(e: org.apache.spark.sql.connector.expressions.Expression): Option[Seq[String]] =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        Some(nr.fieldNames.toSeq)
      case _ => None
    }

  def translate(agg: Aggregation): Option[AggSpec] = {
    val groupByKey = agg.groupByExpressions.toSeq match {
      case Seq() => false
      case Seq(g) if path(g).contains(Seq("segment_key")) => true
      case _ => return None
    }
    val cols = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => CountAll
      case c: Count if !c.isDistinct && path(c.column).exists(NonNullPaths) => CountAll
      case m: Min if path(m.column).contains(Seq("kafka", "offset")) => MinOffset
      case m: Min if path(m.column).contains(Seq("kafka", "timestamp")) => MinTs
      case m: Max if path(m.column).contains(Seq("kafka", "offset")) => MaxOffset
      case m: Max if path(m.column).contains(Seq("kafka", "timestamp")) => MaxTs
      case _ => return None
    }
    if (cols.isEmpty) None else Some(AggSpec(groupByKey, cols))
  }
}

/** One pre-aggregated row PER SEGMENT, straight from the manifest's
  * [[graft.core.RecordStats]] — no log object is opened. Partial-pushdown
  * contract: Spark merges the per-partition rows (sum of counts, min of
  * mins, max of maxes), so the output schema is positionally the group-by
  * column then one LongType per aggregate. Segments without stats (the
  * reference's own manifests) fall back to an exact payload parse of JUST
  * that segment — correctness never depends on the stats being present. */
final class SegmentsAggScan(conf: GraftSegments.SourceConf, pruning: Array[Filter],
                            spec: SegmentsAggScan.AggSpec) extends Scan with Batch {
  import SegmentsAggScan._

  override def readSchema(): StructType = StructType(
    (if (spec.groupByKey) Seq(StructField("segment_key", StringType, nullable = false)) else Nil) ++
      spec.cols.zipWithIndex.map { case (c, i) =>
        StructField(s"agg_col_$i", LongType, nullable = c != CountAll)
      })

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = SegmentsScan.listSegments(conf, pruning)
      .map(SegmentPartition(_): InputPartition)
    SegmentsScan.lastPlannedPartitions = parts.length
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SegmentsAggReaderFactory(conf, spec)

  override def description(): String =
    s"graft-segments AGG root=${conf.root} prefix='${conf.prefix}' " +
      s"cols=${spec.cols.mkString(",")} groupByKey=${spec.groupByKey} (manifest-stats only)"
}

final class SegmentsAggReaderFactory(conf: GraftSegments.SourceConf,
                                     spec: SegmentsAggScan.AggSpec)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SegmentsAggReader(conf, spec, partition.asInstanceOf[SegmentPartition].segKey)
}

final class SegmentsAggReader(conf: GraftSegments.SourceConf,
                              spec: SegmentsAggScan.AggSpec, segKey: String)
    extends PartitionReader[InternalRow] {
  import SegmentsAggScan._

  private var emitted = false

  private lazy val row: InternalRow = {
    conf.ensureBackend()
    val manifest = SegmentFetchJob.loadManifest(conf.storage, segKey)
    val stats: graft.core.RecordStats = manifest.recordStats match {
      case Some(rs) => statsOnlyReads.incrementAndGet(); rs
      case None =>
        // no stats in the manifest (reference-written segment): exact
        // fallback — parse THIS segment's payload; other segments still
        // answer from metadata
        payloadFallbackReads.incrementAndGet()
        val bytes = SegmentFetchJob.fetchRange(conf.jobConfig, segKey,
          BytesRange(0L, Long.MaxValue - 1L))
        try graft.operators.SegmentUploadJob.recordStats(bytes)
        catch {
          case scala.util.control.NonFatal(e) => throw new IllegalStateException(
            s"segment $segKey has neither manifest recordStats nor parseable payload: ${e.getMessage}", e)
        }
    }
    def v(c: AggCol): Any = c match {
      case CountAll => stats.count
      case MinOffset => if (stats.count == 0L) null else stats.minOffset
      case MaxOffset => if (stats.count == 0L) null else stats.maxOffset
      case MinTs => if (stats.count == 0L) null else stats.minTimestamp
      case MaxTs => if (stats.count == 0L) null else stats.maxTimestamp
    }
    val keyCol =
      if (spec.groupByKey) Seq(UTF8String.fromString(segKey))
      else Nil
    InternalRow.fromSeq(keyCol ++ spec.cols.map(v))
  }

  override def next(): Boolean = if (emitted) false else { emitted = true; row != null }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}

// ---------------------------------------------------------------------------
// Write path: records back to tiered segments.
// ---------------------------------------------------------------------------

import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}

/** `df.write.format("graft-segments").mode("append")` — the read path's
  * inverse: rows of the record schema become tiered segments (batch
  * regroup → byte-identical Kafka wire re-serialize (I8/I9, the
  * [[graft.records.BatchReserializer]] construction) → chunk → compress →
  * encrypt → 3-object upload with MANIFEST-LAST commit and compensating
  * delete, exactly [[graft.operators.SegmentUploadJob.uploadOne]]).
  *
  * Semantics mirror the reference's per-segment atomicity: each segment's
  * manifest is its commit point; a failed/aborted task deletes everything
  * it uploaded; task retries overwrite the same keys (idempotent). The
  * global Spark commit is therefore a no-op — exactly the at-least-once,
  * per-segment-atomic contract of `copyLogSegmentData`
  * (`KafkaRemoteStorageManager.java:211-220`).
  *
  * Scale: a task buffers only ITS segments' rows (callers repartition by
  * `segment_key`, segment size is bounded by the log-segment policy —
  * the same bound the reference's broker enforces). */
final class SegmentsWriteBuilder(conf: GraftSegments.SourceConf, schema: StructType)
    extends WriteBuilder {
  override def build(): Write = {
    // Effective encryption derives from key presence when the option is
    // absent — a write that merely FORGOT rsaPublicKeyB64 would otherwise
    // succeed silently unencrypted (r9, advisor). One driver-side warn at
    // plan time makes the downgrade visible; an explicit encryption=false
    // is an informed choice and stays quiet.
    if (!conf.encryption && conf.encryptionOpt.isEmpty)
      SegmentsWriteBuilder.log.warn(
        "graft-segments: writing UNENCRYPTED segments (no rsaPublicKeyB64 " +
          "supplied and no explicit encryption option) — pass " +
          "encryption=false to acknowledge plaintext, or supply key material")
    new SegmentsWrite(conf, schema)
  }
}
object SegmentsWriteBuilder {
  private[v2] val log = org.slf4j.LoggerFactory.getLogger(classOf[SegmentsWriteBuilder])
}

final class SegmentsWrite(conf: GraftSegments.SourceConf, schema: StructType)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SegmentsWriterFactory(conf, schema)
  /** Per-segment manifests already committed each segment atomically. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val storage = conf.storage
    messages.collect { case SegmentsCommitMessage(keys) => keys }.flatten.foreach { seg =>
      graft.sources.ObjectKey.Suffix.all.foreach(s => storage.delete(s"$seg.${s.value}"))
    }
  }
}

final case class SegmentsCommitMessage(segKeys: Seq[String]) extends WriterCommitMessage

final class SegmentsWriterFactory(conf: GraftSegments.SourceConf, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SegmentsDataWriter(conf, schema)
}

/** Buffers this task's rows per segment_key, then per segment: regroup to
  * batches (batch_base_offset, producer_id, base_sequence — the I8 batch
  * identity), members in offset order, wire re-serialize, tiered upload. */
final class SegmentsDataWriter(conf: GraftSegments.SourceConf, schema: StructType)
    extends DataWriter[InternalRow] {

  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val idx: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap
  require(Seq("segment_key", "kafka", "headers", "key_raw", "value_raw").forall(idx.contains),
    s"graft-segments write needs the full record schema, got: ${schema.fieldNames.mkString(", ")}")

  private val buffered =
    new scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Row]]
  private val uploaded = scala.collection.mutable.ArrayBuffer[String]()

  override def write(record: InternalRow): Unit = {
    val r = toScala(record).asInstanceOf[Row]
    buffered.getOrElseUpdate(r.getString(idx("segment_key")),
      new scala.collection.mutable.ArrayBuffer[Row]) += r
  }

  private def segmentPayload(rows: Seq[Row]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    rows.map { r =>
      val k = r.getStruct(idx("kafka"))
      graft.records.BatchAssembly.Member(
        offset = k.getAs[Long]("offset"),
        timestamp = k.getAs[Long]("timestamp"),
        kafka = k,
        headers = Option(r.getSeq[Row](idx("headers"))).getOrElse(Seq.empty),
        key = r.getAs[Array[Byte]](idx("key_raw")),
        value = r.getAs[Array[Byte]](idx("value_raw")))
    }.groupBy { m =>
      (m.kafka.getAs[Long]("batch_base_offset"), m.kafka.getAs[Long]("batch_producer_id"),
        m.kafka.getAs[Int]("batch_base_sequence"))
    }.toSeq.sortBy(_._1._1).foreach { case ((baseOffset, producerId, baseSequence), members) =>
      out.write(KafkaWireCodec.writeBatch(
        graft.records.BatchAssembly.assemble(baseOffset, producerId, baseSequence, members)))
    }
    out.toByteArray
  }

  override def commit(): WriterCommitMessage = {
    val cfg = conf.jobConfig
    val storage = conf.storage
    val ring = if (cfg.encryption) cfg.ring else null
    buffered.foreach { case (segKey, rows) =>
      val res = graft.operators.SegmentUploadJob.uploadOne(
        storage, ring, None, cfg, segKey, segmentPayload(rows.toSeq))
      if (!res.success)
        throw new java.io.IOException(s"segment $segKey upload failed: ${res.error}")
      uploaded += segKey
    }
    SegmentsCommitMessage(uploaded.toSeq)
  }

  override def abort(): Unit = {
    val storage = conf.storage
    uploaded.foreach(seg =>
      graft.sources.ObjectKey.Suffix.all.foreach(s => storage.delete(s"$seg.${s.value}")))
  }

  override def close(): Unit = buffered.clear()
}
