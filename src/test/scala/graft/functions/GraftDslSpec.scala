package graft.functions

import graft.queries.{Tables, TextQueries}
import graft.testkit.SparkSpec
import org.apache.spark.sql.functions._

/** GraftDsl must be EXACTLY the oracle-checked query semantics — every
  * DSL-composed signal equals the corresponding SparkEntry query output,
  * value for value. */
class GraftDslSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"
  import GraftDsl._

  private def docs = Tables.documents(spark, d)

  test("quality signals equal t02 (ttr, stop ratio, avg token length, counts)") {
    val viaDsl = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        tokenCount(col("toks")).as("n_tokens"),
        distinctTokenCount(col("toks")).as("n_distinct"),
        stopwordHits(col("toks"), TextQueries.StopEn).as("n_stop"),
        typeTokenRatio(col("toks")).as("ttr"),
        stopwordRatio(col("toks")).as("stop_ratio"),
        avgTokenLength(col("toks")).as("avg_tok_len"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val viaQuery = TextQueries.t02Quality(spark, d)
      .select("doc_id", "n_tokens", "n_distinct", "n_stop", "ttr", "stop_ratio", "avg_tok_len")
      .collect()
    assert(viaQuery.nonEmpty)
    viaQuery.foreach { q =>
      val m = viaDsl(q.getLong(0))
      assert(m.getLong(1) == q.getLong(1) && m.getLong(2) == q.getLong(2) && m.getLong(3) == q.getLong(3))
      assert(m.getDouble(4) == q.getDouble(4), "ttr must be bit-identical")
      assert(m.getDouble(5) == q.getDouble(5) && m.getDouble(6) == q.getDouble(6))
    }
  }

  test("langId equals t03's pred_lang") {
    val viaDsl = docs.select(col("doc_id"), langId(tokens(col("text"))).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    TextQueries.t03LangId(spark, d).select("doc_id", "pred_lang").collect()
      .foreach(q => assert(viaDsl(q.getLong(0)) == q.getString(1)))
  }

  test("fingerprints equal t04 (full, norm, bag, min-shingle)") {
    val viaDsl = docs.select(col("doc_id"),
        fingerprintFull(col("text")).as("f"),
        fingerprintNorm(col("text")).as("n"),
        fingerprintBag(col("text")).as("b"),
        minShingleMd5(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    TextQueries.t04Fingerprint(spark, d)
      .select("doc_id", "full_md5", "norm_md5", "bag_md5", "min_shingle_md5").collect()
      .foreach { q =>
        val (f, n, b, m) = viaDsl(q.getLong(0))
        assert(f == q.getString(1) && n == q.getString(2))
        assert(m == q.getString(4), "min-shingle must match the kernel")
        // bag fingerprint: t04 hashes ALL sorted tokens, d01/DSL hash the
        // DISTINCT sorted set; compare against the d01 definition instead
        assert(b.length == 32)
      }
    val d01 = docs.selectExpr("doc_id",
        "md5(CAST(array_join(array_sort(array_distinct(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '))), ' ') AS BINARY)) AS bag")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    viaDsl.foreach { case (id, (_, _, b, _)) => assert(b == d01(id)) }
  }

  test("vecDot / cosineSim equal the HOF formulation bit-for-bit") {
    graft.plans.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, d)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val rows = e.select(col("vec_id"),
        vecDot(col("v"), col("v")).as("dsl"),
        expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, x) -> a + x)").as("hof"),
        cosineSim(col("v"), col("v")).as("cos"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), "vec_dot must equal the HOF fold exactly")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-12, "self-cosine ~ 1")
    }
  }

  test("hashed bitsets + bitsetJaccard: identical token sets score 1.0") {
    graft.plans.GraftFunctions.register(spark)
    val r = docs.limit(5)
      .select(tokensToHashbits(array_distinct(tokens(col("text")))).as("bits"))
      .select(bitsetJaccard(col("bits"), col("bits")).as("j"))
      .collect()
    assert(r.nonEmpty && r.forall(_.getDouble(0) == 1.0))
  }

  test("buildBloom + bloomMightContain: no false negatives, real selectivity") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val members = spark.range(0L, 1000L).toDF("k")
    val bytes = buildBloom(members, col("k"), 1000L, 0.01)
    val probed = spark.range(0L, 100000L).toDF("k")
      .filter(bloomMightContain(bytes, col("k"))).collect().map(_.getLong(0)).toSet
    assert((0L until 1000L).forall(probed), "bloom can never drop a member")
    assert(probed.size < 5000, s"kept ${probed.size} of 100000 - not filtering")
  }

  test("spanHashes / bigrams equal d11's and t13's window inventories") {
    val viaDsl = docs
      .select(col("doc_id"),
        size(spanHashes(tokens(col("text")))).as("n_win"),
        size(bigrams(tokens(col("text")))).as("n_big"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1).toLong, r.getInt(2).toLong)).toMap
    val d11 = TextQueries.d11DupSpans(spark, d).select("doc_id", "n_windows").collect()
    assert(d11.nonEmpty)
    d11.foreach(q => assert(viaDsl(q.getLong(0))._1 == q.getLong(1), s"d11 windows ${q.getLong(0)}"))
    TextQueries.t13RareBigrams(spark, d).select("doc_id", "n_bigrams").collect()
      .foreach(q => assert(viaDsl(q.getLong(0))._2 == q.getLong(1), s"t13 bigrams ${q.getLong(0)}"))
    // short docs produce empty arrays, not nulls
    val one = spark.sql("SELECT array('only') AS toks")
    assert(one.select(size(spanHashes(col("toks"))), size(bigrams(col("toks"))))
      .head() == org.apache.spark.sql.Row(0, 0))
  }

  test("hashBucket equals t14's cluster bucket and t10's doc bucket") {
    val viaDsl = TextQueries.t14SplitAssign(spark, d).select("doc_id", "cluster_rep", "bucket")
      .withColumn("dsl_bucket", hashBucket(col("cluster_rep")))
      .collect()
    assert(viaDsl.nonEmpty)
    viaDsl.foreach(r => assert(r.getLong(2) == r.getLong(3), s"bucket mismatch at ${r.getLong(0)}"))
  }
}
