package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `GraftExtensions` injection wiring proper: a session built WITH the
  * extensions (no runtime register() calls) must resolve the injected
  * functions, fire the optimizer rule, and plan the custom operator — the
  * deployment path a spark-submit user takes via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. (`spark.sql
  * .extensions` itself is read from the SparkContext conf at context
  * creation; with the suite-shared context already running, the builder's
  * `withExtensions` supplies the same object through the same
  * `SparkSessionExtensions` injection points.) */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Build a fresh session over the shared context with extensions applied
    * (the active/default session would otherwise be returned as-is),
    * restore after. */
  private def withExtensionsSession[A](f: SparkSession => A): A = {
    val prior = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  test("injected functions resolve in SQL without runtime registration") {
    withExtensionsSession { s =>
      val r = s.sql(
        "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
          "bitset_jaccard(X'0F', X'03') AS j").head()
      assert(r.getDouble(0) == 11.0)
      assert(r.getDouble(1) == 0.5) // |{0..1}∩{0..3}| / |{0..3}|
    }
  }

  test("optimizer rule fires through the extensions path") {
    withExtensionsSession { s =>
      import s.implicits._
      val l = (0L until 50L).map(i => i * 3 % 31).toDF("px")
      val r = (0L until 80L).map(i => i * 7 % 37).toDF("bx")
      val q = l.join(r, $"bx" >= $"px" - 5L && $"bx" < $"px")
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("graft_bin") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(2000))
      assert(q.count() > 0)
    }
  }

  test("custom top-k operator plans through the injected strategy") {
    withExtensionsSession { s =>
      import s.implicits._
      val df = (0L until 100L).map(i => (i % 5, i)).toDF("g", "v")
      // bypass GraftFunctions.register: construct the plan directly so the
      // ONLY strategy source is the extensions injection
      val analyzed = df.queryExecution.analyzed
      val g = analyzed.output.find(_.name == "g").get
      val v = analyzed.output.find(_.name == "v").get
      val topk = org.apache.spark.sql.GraftSqlBridge.ofRows(s,
        TopKPerGroupPlan(Seq(g),
          Seq(org.apache.spark.sql.catalyst.expressions.SortOrder(v,
            org.apache.spark.sql.catalyst.expressions.Descending)), 2, analyzed))
      val rows = topk.select("g", "v").as[(Long, Long)].collect().toSet
      val expect = (0L until 5L).flatMap(g0 =>
        (0L until 100L).filter(_ % 5 == g0).sorted.reverse.take(2).map(g0 -> _)).toSet
      assert(rows == expect)
      assert(topk.queryExecution.executedPlan.toString.contains("GraftTopK"))
    }
  }

  test("typed-decode pruning fires through the extensions path") {
    withExtensionsSession { s =>
      import s.implicits._
      val schema = graft.records.AvroLite.parseSchema(
        """{"type":"record","name":"r","fields":[{"name":"a","type":"long"},{"name":"b","type":"string"},
          |{"name":"c","type":"double"}]}""".stripMargin)
      val payload = {
        val out = new java.io.ByteArrayOutputStream()
        out.write(Array[Byte](0, 0, 0, 0, 3))
        graft.records.AvroLite.encode(schema, org.apache.spark.sql.Row(1L, "x", 2.5), out)
        out.toByteArray
      }
      // an RDD, not a local relation the optimizer would evaluate away
      val raw = s.createDataFrame(s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(payload))),
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField("value_raw",
          org.apache.spark.sql.types.BinaryType))))
      // bypass TypedDecode.withDecoded, which registers the rule at runtime
      val decode = org.apache.spark.sql.GraftSqlBridge.column(graft.records.TypedDecodeExpr(
        org.apache.spark.sql.GraftSqlBridge.expression(raw.col("value_raw")), 3, schema))
      val q = raw.withColumn("value", decode).select($"value.c", $"value.a")
      val decodes = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case d: graft.records.TypedDecodeExpr => d }))
      assert(decodes.map(_.selected) == Seq(Some(Seq(0, 2))), q.queryExecution.optimizedPlan)
      assert(q.as[(Double, Long)].collect().toSeq == Seq((2.5, 1L)))
    }
  }
}
