package graft.tools

import graft.core.LocalSession
import org.apache.spark.sql.functions._

/** Scale-probe data generator: `runMain graft.tools.ScaleUp <src> <dst> <f>`
  * replicates the driver's sf tables `f`× with id offsets, PERTURBING text
  * and embeddings per copy — straight duplication would make every copy a
  * near-duplicate of its original and blow the dedup/similarity families'
  * pair counts quadratically in `f` (measuring an artifact, not scaling):
  *
  *  - documents: ~half the tokens get a per-copy suffix (hash-gated), so
  *    cross-copy Jaccard ≈ 0.33 — well under every near-dup threshold —
  *    while token/length distributions stay put;
  *  - embeddings: copies get hash-derived uniform vectors (same dim/ids
  *    shape); originals keep their planted near-dup structure;
  *  - lineitem/orders: rows copied with a consistent orderkey offset, so
  *    join fan-out and the skew profile scale together.
  *
  * Writes only under the target dir (intended: /tmp/sf1); testdata stays
  * untouched.
  *
  * A 4th arg picks the EVENTS time-axis shape: `densify` (default —
  * copies share the base time range, so axis density grows `f`× — a
  * busier deployment) or `stretch` (each copy's timestamps shift by
  * k×(span+2h), so the retention window grows `f`× at the SAME density —
  * the shape a 100 TB store actually has: more history, not denser
  * traffic). Band-join work is quadratic-in-`f` under densify
  * (rows × rows-per-window both grow) but linear under stretch
  * (rows-per-window flat) — probing both separates the dataset's
  * intrinsic pair growth from the operator's scaling.
  */
object ScaleUp {
  /** Part files per replica table. The layout decides `Tables.spread` and
    * the scan task counts at sf1/sf10, so it is fixed here rather than
    * following the session's thread count. */
  private val ReplicaFiles = 16

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcDir> <dstDir> <factor> [densify|stretch]")
    val Array(src, dst, fs) = args.take(3)
    val mode = if (args.length == 4) args(3) else "densify"
    require(mode == "densify" || mode == "stretch", s"unknown mode $mode")
    val f = fs.toInt
    val spark = LocalSession.session(LocalSession.envCpus)
    // events.ts is parquet TIMESTAMP(NANOS); read it as raw long (the
    // copy is written back as int64, which Tables.events handles the same)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val IdSpan = 100000000L
    def copies(name: String)(mk: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until f).map(k => mk(base, k)).reduce(_ unionAll _)
      out.repartition(ReplicaFiles)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${base.count()} -> ${spark.read.parquet(s"$dst/$name.parquet").count()}")
    }

    copies("documents") { (d, k) =>
      if (k == 0) d
      else d.selectExpr(
        s"doc_id + ${k * IdSpan} AS doc_id",
        s"array_join(transform(split(text, ' '), t -> IF(pmod(hash(t, $k), 2) = 0, t, concat(t, '~', $k))), ' ') AS text",
        "lang", "source")
        .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
    }
    copies("embeddings") { (e, k) =>
      if (k == 0) e
      else e.selectExpr(
        s"vec_id + ${k * IdSpan} AS vec_id",
        s"transform(embedding, (x, i) -> CAST((pmod(hash(vec_id, i, $k), 2001) - 1000) / 500.0 AS FLOAT)) AS embedding",
        "label")
    }
    copies("orders") { (o, k) =>
      if (k == 0) o
      else o.withColumn("o_orderkey", col("o_orderkey") + lit(k * IdSpan))
    }
    copies("lineitem") { (l, k) =>
      if (k == 0) l
      else l.withColumn("l_orderkey", col("l_orderkey") + lit(k * IdSpan))
    }
    // events: same users; under densify the copies share the base time
    // range (f× the density — a busier deployment), under stretch copy k
    // shifts by k×(span+2h) so retention grows f× at flat density (a
    // longer-lived deployment). event_id offset keeps identity unique.
    // ts is raw parquet NANOS (read as long, Tables.events converts) —
    // keep it raw; the 2h gap keeps 1h band windows from bridging copies.
    // span in the column's own unit: raw int64 stays nanos; a TIMESTAMP
    // column (the driver currently writes micros) shifts via timestampadd
    val eventsBase = spark.read.parquet(s"$src/events.parquet")
    val tsIsLong =
      eventsBase.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val spanUnits: Long =
      if (mode != "stretch") 0L
      else if (tsIsLong)
        eventsBase.selectExpr(s"max(ts) - min(ts) + ${2L * 3600 * 1000000000L}")
          .head.getLong(0)
      else
        eventsBase // timestampdiff accepts TIMESTAMP and TIMESTAMP_NTZ alike
          .selectExpr(s"timestampdiff(MICROSECOND, min(ts), max(ts)) + ${2L * 3600 * 1000000L}")
          .head.getLong(0)
    copies("events") { (e, k) =>
      if (k == 0) e
      else {
        val shifted =
          if (mode != "stretch") e
          else if (tsIsLong) e.withColumn("ts", col("ts") + lit(k * spanUnits))
          else e.withColumn("ts",
            expr(s"timestampadd(MICROSECOND, ${k * spanUnits}, ts)"))
        shifted.withColumn("event_id", col("event_id") + lit(k * IdSpan))
      }
    }
    // dimension tables ride along unscaled (TPC-H ratios keep dims small;
    // the copies reuse the same custkeys/nationkeys, so joins stay valid)
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: copied")
    }
    spark.stop()
  }
}
