package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting, and the
  * dedup family (exact/bag, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Parity discipline: every derivation is either integer arithmetic, md5 hex
  * strings, or doubles produced by identical operation sequences — so the
  * DuckDB oracle matches bit-for-bit. Shared constants/SQL fragments are
  * generated once here and consumed by both the Spark plans and
  * [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes: everything is per-row narrow work (no shuffle) until the
  * final groupBy/join, which keys on hashes — uniformly distributed, no
  * skew. MinHash banding turns O(n^2) near-dup search into an equi-join on
  * band keys: the canonical 100 TB dedup plan.
  */
/** x08's dominance-space point: all-integer doc quality metrics (top-level
  * so the Dataset encoder derives without a session import at use sites). */
final case class SkyPoint(doc_id: Long, n_tokens: Long, ttr_fp: Long, g2_max: Long)

object TextQueries {
  import Tables._

  // --- shared constants (also interpolated into the oracle SQL) -----------
  val StopEn = Seq("the", "and", "of", "to", "in", "is", "that", "it")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "zu")
  val StopFr = Seq("le", "la", "les", "et", "est", "un", "dans", "que")
  val StopEs = Seq("el", "los", "las", "y", "es", "en", "por", "que")
  val ShingleSize = 5
  /** MinHash hashes per signature (8 since r4: 2 bands × 4 rows — see
    * [[d02MinHashSig]]'s band-steepness note). */
  val MinHashK = 8
  /** Hashes per LSH band. */
  val MinHashBandRows = 4
  val JaccardThreshold = 0.9

  def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** Normalized text: lowercase, whitespace collapsed — the canonical form
    * all fingerprints/dedup hash. */
  private val normExpr = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
  /** Same expression in DuckDB syntax (single-escaped regex, 'g' flag to
    * replace all occurrences — DuckDB regexp_replace is first-match only by
    * default, unlike Spark). */
  val NormSqlDuck = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** Tokens of the normalized text. */
  private val toksExpr = "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')"
  val ToksSqlDuck = s"string_split($NormSqlDuck, ' ')"

  /** t01: token counting — whitespace tokens and a BPE-ish regex token
    * stream (letter runs / digit runs / single other chars). */
  def t01TokenStats(s: SparkSession, d: String): DataFrame =
    documents(s, d).selectExpr(
      "doc_id",
      s"CAST(size($toksExpr) AS BIGINT) AS ws_tokens",
      "CAST(size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)) AS BIGINT) AS re_tokens")

  /** One normalization + tokenization pass shared by the text signals —
    * p01 materializes this once and derives quality, language and minhash
    * from it instead of re-tokenizing the corpus per signal. */
  private[queries] def normToks(s: SparkSession, d: String): DataFrame =
    normToksFrom(documents(s, d))

  private def normToksFrom(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", "lang",
      "CAST(length(text) AS BIGINT) AS n_chars_txt",
      s"$normExpr AS norm", s"$toksExpr AS toks")

  /** Scan-parallelism floor for compute-dominated inventory stages (r7,
    * VERDICT r6 task 3). Everything upstream of the first exchange runs
    * one task PER INPUT SPLIT — and the bench corpus is a single parquet
    * file, so d11/d12's window-hash inventory (one md5 per corpus token,
    * the dominant stage) ran SINGLE-TASK at sf0.1: their bench wobble was
    * one core's scheduling/JIT state, not AQE flapping (measured: AQE off
    * is slower with the same spread; 16 GB vs 48 GB heap, no change; the
    * 10× replica wobbles less because Spark wrote it as 24-32 splits).
    * Repartition ONLY when the scan yields fewer splits than cores: a
    * 100 TB corpus has thousands of splits, and must never pay a
    * corpus-wide shuffle for a no-op parallelism fix. */
  private def withScanParallelism(s: SparkSession, df: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** [[normToks]] with the scan-parallelism floor — for queries whose
    * pre-shuffle compute dominates (the d11/d12 window-hash inventory). */
  private def normToksPar(s: SparkSession, d: String): DataFrame =
    normToksFrom(withScanParallelism(s, documents(s, d)))

  // The t02/t03 per-doc expressions over a `toks` column, written once for
  // the batch queries and their streaming twin ([[cleanSignals]]).
  private def stopHitsSql(words: Seq[String], as: String): String =
    s"CAST(size(filter(toks, x -> array_contains(array(${sqlList(words)}), x))) AS BIGINT) AS $as"
  private val NTokensSql = "CAST(size(toks) AS BIGINT) AS n_tokens"
  private val NDistinctSql = "CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct"
  private val TtrSql = "CAST(n_distinct AS DOUBLE) / n_tokens AS ttr"
  private val LangHitsSql = Seq(stopHitsSql(StopEn, "en_hits"), stopHitsSql(StopDe, "de_hits"),
    stopHitsSql(StopFr, "fr_hits"), stopHitsSql(StopEs, "es_hits"))
  private val PredLangSql =
    """CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
      |     WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
      |     WHEN fr_hits >= es_hits THEN 'fr'
      |     ELSE 'es' END AS pred_lang""".stripMargin

  /** t02: quality scoring — length, lexical diversity (type-token ratio),
    * stopword ratio, mean token length. */
  def t02Quality(s: SparkSession, d: String): DataFrame =
    t02From(normToks(s, d))

  private[queries] def t02From(tok: DataFrame): DataFrame =
    tok
      .selectExpr("doc_id", "n_chars_txt", "toks")
      .selectExpr(
        "doc_id", "n_chars_txt", NTokensSql, NDistinctSql, stopHitsSql(StopEn, "n_stop"),
        "CAST(aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x) AS BIGINT) AS sum_tok_len")
      .selectExpr(
        "doc_id", "n_chars_txt", "n_tokens", "n_distinct", "n_stop", "sum_tok_len", TtrSql,
        "CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio",
        "CAST(sum_tok_len AS DOUBLE) / n_tokens AS avg_tok_len")

  /** t03: language ID — stopword-hit heuristic over four language lists,
    * argmax with fixed precedence (en,de,fr,es). */
  def t03LangId(s: SparkSession, d: String): DataFrame =
    t03From(normToks(s, d))

  private[queries] def t03From(tok: DataFrame): DataFrame =
    tok
      .selectExpr("doc_id", "lang", "toks")
      .selectExpr(Seq("doc_id", "lang") ++ LangHitsSql: _*)
      .selectExpr("doc_id", "lang", "en_hits", "de_hits", "fr_hits", "es_hits", PredLangSql)

  /** t04: document fingerprinting — full md5, normalized md5, token-bag md5
    * (order-independent), and min-shingle md5 (winnowing-style rolling
    * fingerprint). */
  def t04Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .selectExpr("doc_id", "text", s"$normExpr AS norm")
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text, norm) =>
          // min over fixed-width hex strings == min over unsigned digest
          // bytes; 0xFF-filled start loses to every digest (ties emit the
          // same hex either way)
          val minDg = Array.fill[Byte](16)(-1)
          foreachShingleDigest(md, norm) { dg =>
            var c = 0
            var i = 0
            while (c == 0 && i < 16) { c = (dg(i) & 0xff) - (minDg(i) & 0xff); i += 1 }
            if (c < 0) System.arraycopy(dg, 0, minDg, 0, 16)
          }
          (id, md5Hex(md, text), md5Hex(md, norm),
            md5Hex(md, norm.split(' ').sorted.mkString(" ")), hex32(minDg))
        }
      }
      .toDF("doc_id", "full_md5", "norm_md5", "bag_md5", "min_shingle_md5")
  }

  /** t05: per-language character-trigram frequency profile (top 10 with
    * deterministic tie-break) — the statistical backing of n-gram language
    * ID; narrow explode + hash aggregate + per-key top-k window. */
  def t05NgramProfile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("tri"))
    // Per-partition counting kernel instead of exploding one row per trigram
    // position: a document yields ~|text| exploded rows but only ~|distinct
    // trigrams| partial rows, so the exchange moves orders of magnitude less
    // data — the explode+groupBy formulation is equivalent but shuffles the
    // raw position stream. Counts are exact integers; the trigram grid is
    // identical to the SQL substring explode (final shingles may be short,
    // an empty norm yields one empty trigram).
    documents(s, d)
      .selectExpr("lang", s"$normExpr AS norm")
      .as[(String, String)]
      .mapPartitions { rows =>
        val counts = new scala.collection.mutable.HashMap[(String, String), Long]
        rows.foreach { case (lang, norm) =>
          val last = math.max(norm.length - 2, 1)
          var i = 0
          while (i < last) {
            val tri = norm.substring(i, math.min(i + 3, norm.length))
            val k = (lang, tri)
            counts.update(k, counts.getOrElse(k, 0L) + 1L)
            i += 1
          }
        }
        counts.iterator.map { case ((lang, tri), n) => (lang, tri, n) }
      }
      .toDF("lang", "tri", "pn")
      .groupBy("lang", "tri")
      .agg(sum(col("pn")).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .selectExpr("lang", "tri", "n", "CAST(rnk AS BIGINT) AS rnk")
  }

  /** d01: set-semantic dedup groups — documents whose *distinct token sets*
    * are identical (bag fingerprint); keeper = min doc id, the exact
    * hash-groupBy dedup plan that scales to any size. */
  def d01DedupGroups(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .selectExpr("doc_id",
        s"md5(CAST(array_join(array_sort(array_distinct($toksExpr)), ' ') AS BINARY)) AS bag_md5")
      .groupBy("bag_md5")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("dup_cnt"))
      .filter(col("dup_cnt") >= 2)

  /** Lowercase hex of an md5 digest — identical to Spark's and DuckDB's
    * `md5()` rendering. */
  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** Per-doc shingle scan shared by d02/t04: calls `f(digest16)` for every
    * ShingleSize-char shingle of `norm` (same grid as the SQL
    * `substring(norm, pos, k)` explode — final shingles may be shorter;
    * an empty norm yields one empty shingle). The 16-byte buffer is
    * REUSED across calls — callers copy what they keep. Working on raw
    * digest bytes instead of hex strings removes ~3 allocations and a
    * 32-char format per shingle from the hottest kernel in the text
    * family (fixed-width lowercase hex compares exactly like the unsigned
    * bytes it encodes, so min-tracking is equivalent). */
  private def foreachShingleDigest(md: java.security.MessageDigest, norm: String)(f: Array[Byte] => Unit): Unit = {
    val last = math.max(norm.length - (ShingleSize - 1), 1)
    val buf = new Array[Byte](16)
    var i = 0
    while (i < last) {
      md.reset()
      md.update(norm.substring(i, math.min(i + ShingleSize, norm.length))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest(buf, 0, 16)
      f(buf)
      i += 1
    }
  }

  /** Like [[foreachShingleDigest]], but yields TWO digests per shingle —
    * md5(shingle) and md5(shingle‖'!') — giving d02 its 8 independent
    * 32-bit hash slices (one md5 only has four). The oracle mirrors the
    * same salted second digest. */
  private def foreachShingleDigestPair(md: java.security.MessageDigest, norm: String)(
      f: (Array[Byte], Array[Byte]) => Unit): Unit = {
    val last = math.max(norm.length - (ShingleSize - 1), 1)
    val bufA = new Array[Byte](16)
    val bufB = new Array[Byte](16)
    var i = 0
    while (i < last) {
      val s = norm.substring(i, math.min(i + ShingleSize, norm.length))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset(); md.update(s); md.digest(bufA, 0, 16)
      md.reset(); md.update(s); md.update('!'.toByte); md.digest(bufB, 0, 16)
      f(bufA, bufB)
      i += 1
    }
  }

  private def hex32(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** d02: MinHash signatures — [[MinHashK]] independent 8-hex-char slices
    * from TWO md5 digests per character shingle (the second salted with
    * `!`), plus LSH band keys of [[MinHashBandRows]] hashes each.
    *
    * Band steepness is the r4 scale fix: with 2-hash bands the collision
    * probability at background similarity j is ~2j² — on this small-
    * vocabulary corpus (cross-doc char-shingle Jaccard ≈ 0.1–0.3) that
    * admitted ~1.2% of ALL pairs as candidates, i.e. an O(n²) candidate
    * set that the 10× probe exposed through d07/p01/g01 (15M edges at 50k
    * docs). 4-hash bands put background collisions at ~2j⁴ (≲2·10⁻⁴ at
    * j=0.1) while real near-dups (j ≥ 0.9) still collide at ~88% — the
    * standard production steepening, mirrored exactly in the oracle.
    *
    * Physical plan: a per-doc mapPartitions kernel (digest reused per task,
    * mins folded in-place) — no shingle-row explosion, no shuffle; the
    * exploded+groupBy formulation moved ~300 rows/doc through an exchange
    * for the same answer. Hash values are identical to the SQL/oracle
    * formulation. */
  def d02MinHashSig(s: SparkSession, d: String): DataFrame =
    d02From(s, documents(s, d).selectExpr("doc_id", s"$normExpr AS norm"))

  private[queries] def d02From(s: SparkSession, normDf: DataFrame): DataFrame = {
    import s.implicits._
    normDf
      .selectExpr("doc_id", "norm")
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, norm) =>
          val h = minHashHex(md, norm)
          (id, h(0), h(1), h(2), h(3), h(4), h(5), h(6), h(7))
        }
      }
      .toDF("doc_id" +: MinHashCols: _*)
      .selectExpr(("doc_id" +: MinHashCols) ++ BandsSql: _*)
  }

  private val MinHashCols = Seq("h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7")

  /** d02's LSH band keys over the h0..h7 columns. */
  private val BandsSql = Seq(
    "md5(CAST(concat(h0, h1, h2, h3) AS BINARY)) AS band0",
    "md5(CAST(concat(h4, h5, h6, h7) AS BINARY)) AS band1")

  /** d02's per-doc MinHash kernel: the [[MinHashK]] signature slices of
    * `norm` as 8-hex strings. Each 8-hex slice is one big-endian uint32 of
    * a digest; mins are tracked as ints (unsigned compare) and formatted
    * once per doc. The 0xFFFFFFFF start loses to every slice (a tie
    * formats the same). */
  private def minHashHex(md: java.security.MessageDigest, norm: String): Array[String] = {
    val mins = Array.fill(MinHashK)(-1)
    foreachShingleDigestPair(md, norm) { (dgA, dgB) =>
      var k = 0
      while (k < 4) {
        def be32(dg: Array[Byte]): Int =
          ((dg(4 * k) & 0xff) << 24) | ((dg(4 * k + 1) & 0xff) << 16) |
            ((dg(4 * k + 2) & 0xff) << 8) | (dg(4 * k + 3) & 0xff)
        val vA = be32(dgA)
        if (java.lang.Integer.compareUnsigned(vA, mins(k)) < 0) mins(k) = vA
        val vB = be32(dgB)
        if (java.lang.Integer.compareUnsigned(vB, mins(k + 4)) < 0) mins(k + 4) = vB
        k += 1
      }
    }
    mins.map(m => f"$m%08x")
  }

  /** d03: MinHash+LSH candidate pairs — docs sharing any band key. The
    * band-key equi-join is the shuffle-friendly O(n) candidate generation
    * that replaces the O(n^2) scan at scale. */
  def d03MinHashPairs(s: SparkSession, d: String): DataFrame =
    d03From(d02MinHashSig(s, d))

  private[queries] def d03From(sig: DataFrame): DataFrame = {
    // materialize the SIGNATURES once, not the band union (r13): the old
    // eager checkpoint sat on `bands`, whose two union legs each evaluated
    // `sig` — the md5-shingle mapPartitions kernel (the dominant cost) ran
    // 2x per evaluation. Checkpointing sig itself runs the kernel ONCE;
    // the bands union over the cached blocks is a narrow projection, so
    // its checkpoint can be LAZY (persisted on first compute — the band
    // join's broadcast build, a blocking job, so the probe side reads the
    // cache with no concurrent-recompute race and no separate
    // materialization job is paid).
    val sigC = sig.localCheckpoint(true)
    // the band1 leg drops rows with band1 = band0 (ADVICE r12): the
    // row-local dedup below assumes a doc's two band keys differ — md5
    // digests of different-width inputs, so equality needs a digest
    // collision, but the invariant is now enforced rather than assumed
    // (with equal keys the union would hold two IDENTICAL rows per doc and
    // every pair involving it would survive the filter twice; the guard
    // restores exactly what the old `.distinct()` guaranteed, at the cost
    // of one codegen'd compare on the narrow band relation)
    val bands = sigC.selectExpr("doc_id", "band0", "band1", "band0 AS band")
      .union(sigC.selectExpr("doc_id", "band0", "band1", "band1 AS band")
        .filter("band1 <> band0"))
      .localCheckpoint(false)
    val a = bands.toDF("a", "a0", "a1", "band")
    val b = bands.toDF("b", "b0", "b1", "band")
    // dedup WITHOUT a distinct (r12, the d09 first-shared-band discipline
    // generalized to band VALUES): a pair sharing both band keys matches
    // twice in the self-join; both rows carry both signatures' band keys,
    // so "this row's join value is the SMALLEST shared band value" is
    // decidable row-locally and exactly one row survives per pair — the
    // pair-set exchange + dedup the old `.distinct()` paid disappears.
    // `least` skips the NULLs of non-shared values; the join value itself
    // is always in the shared set, so the filter never empties a pair.
    a.join(b, "band")
      .filter(col("a") < col("b"))
      .filter(expr(
        """band = least(IF(a0 = b0 OR a0 = b1, a0, NULL),
          |              IF(a1 = b0 OR a1 = b1, a1, NULL))""".stripMargin))
      .select(col("a"), col("b"))
  }

  /** Shared simhash bit-sum SQL: identical text for Spark and DuckDB modulo
    * the integer-division operator and the position function name. */
  /** Signature width. 64 since r4: the 16-bit signature collided so
    * heavily that d09's candidate set was effectively quadratic at the
    * 10× scale probe (BENCH_sf1: 34× runtime at 10× docs) — any banding
    * over 16 bits keys at most 2¹⁶ buckets. 64 bits uses md5 hex digits
    * 1–16 the same way and keeps every expression engine-portable. */
  val SimhashBits = 64

  def simhashBitExprs(divOp: String, strposFn: String): Seq[String] =
    (0 until SimhashBits).map { j =>
      val digitPos = 1 + j / 4
      val pow = 1 << (j % 4)
      s"SUM(CASE WHEN (($strposFn('0123456789abcdef', substring(h, $digitPos, 1)) - 1) $divOp $pow) % 2 = 1 " +
        s"THEN 1 ELSE -1 END) AS s$j"
    }

  /** Two's-complement assembly: bit 63's weight IS Long.MinValue — the
    * mixed-sign sum stays in BIGINT range on both engines (max positive
    * part is 2⁶³−1), so no overflow path exists. */
  def simhashAssembleExpr: String =
    (0 until SimhashBits).map { j =>
      val weight = if (j == 63) Long.MinValue.toString else (1L << j).toString
      s"(CASE WHEN s$j > 0 THEN $weight ELSE 0 END)"
    }.mkString(" + ")

  /** d04: SimHash — 64-bit signature from per-token md5 bits, majority vote
    * per bit position. Near-dup docs land at small Hamming distance.
    *
    * r12 per-task-work rewrite (guide §1.2 step 2, §4 "prefer built-in
    * expressions"): the original evaluated 64 aggregate update expressions
    * of the form `instr('0123456789abcdef', substring(h, p, 1))` per TOKEN
    * — 64 single-char substrings plus 16-char linear scans per row. Now
    * the 16 hex digits are parsed ONCE per token into two unsigned-32-bit
    * longs (`conv` is exact below 2⁶³), and each bit is a codegen'd
    * shift+mask. The per-bit sum of ±1 votes s_j = (#1s) − (#0s) equals
    * 2·cnt_j − n, so `s_j > 0` ⟺ `2·cnt_j > n` with cnt_j = Σ bit_j and
    * n = token count — identical integer arithmetic, identical signature
    * (pinned against the unchanged [[simhashBitExprs]] oracle form by
    * SimhashRewriteSpec). */
  def d04SimHash(s: SparkSession, d: String): DataFrame = {
    // bit j reads md5 hex digit 1 + j/4 (1-indexed), bit (j%4) within the
    // digit; digits 1-8 live in `hi`, digits 9-16 in `lo` (big-endian)
    def bitExpr(j: Int): String = {
      val shift = if (j < 32) 28 - 4 * (j / 4) + (j % 4) else 60 - 4 * (j / 4) + (j % 4)
      val src = if (j < 32) "hi" else "lo"
      s"SUM((shiftright($src, $shift) & 1)) AS c$j"
    }
    val aggs = (count(lit(1)).as("n") +: (0 until SimhashBits).map(j => expr(bitExpr(j))))
    val assemble = (0 until SimhashBits).map { j =>
      val weight = if (j == 63) Long.MinValue.toString else (1L << j).toString
      s"(CASE WHEN 2 * c$j > n THEN $weight ELSE 0 END)"
    }.mkString(" + ")
    documents(s, d)
      .selectExpr("doc_id", s"explode($toksExpr) AS tok")
      .selectExpr("doc_id", "md5(CAST(tok AS BINARY)) AS h")
      .selectExpr("doc_id",
        "CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) AS hi",
        "CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT) AS lo")
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("doc_id", s"CAST($assemble AS BIGINT) AS simhash")
  }

  /** d09 banding: the 64-bit simhash split into 4 disjoint 16-bit blocks;
    * by pigeonhole any pair within Hamming distance ≤ 3 agrees on at
    * least one block (3 differing bits touch ≤ 3 of the 4). 16-bit keys
    * put random collisions at ~2⁻¹⁶ per band — the r3 nibble bands keyed
    * only 16 values per band (~2⁻⁴), which the 10× scale probe exposed as
    * an effectively-quadratic candidate set (BENCH_sf1). */
  val SimhashHammingMax = 3

  /** d09: SimHash near-dup join (Manku et al., WWW'07 "Detecting
    * Near-Duplicates for Web Crawling"): candidate pairs from 16-bit-band
    * equi-joins over d04's 64-bit signatures, verified EXACTLY with
    * `bit_count(a ^ b)`, then summarized per document — near-dup degree
    * and cluster representative (min doc_id over direct partners and
    * self). Banding is a complete cover for Hamming ≤
    * [[SimhashHammingMax]], so the result equals the oracle's all-pairs
    * scan at O(n·collisions) instead of O(n²). Output is n rows, not
    * pairs — the per-doc summary is what a dedup pipeline consumes (d07
    * does the transitive version over MinHash edges).
    *
    * Scale: the signature scan runs ONCE (localCheckpoint, d03
    * precedent); the band join shuffles (band, key)-keyed 3-column rows —
    * signatures, never documents; popcount verify and the degree
    * aggregation are codegen'd integer arithmetic. Band extraction is
    * shiftright+mask, sign-safe for bit-63 signatures. At billions of
    * docs the same shape holds — wider signatures/more bands, same
    * joins. */
  def d09SimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = d04SimHash(s, d).localCheckpoint(true)
    val bands = sig.selectExpr("doc_id", "simhash",
      """stack(4, 0L, simhash & 65535,
        |         1L, shiftright(simhash, 16) & 65535,
        |         2L, shiftright(simhash, 32) & 65535,
        |         3L, shiftright(simhash, 48) & 65535) AS (band, bkey)""".stripMargin)
    val a = bands.toDF("a", "sha", "band", "bkey")
    val b = bands.toDF("b", "shb", "band", "bkey")
    // dedup WITHOUT a distinct: a pair sharing several bands is emitted
    // only from its FIRST shared band — decidable row-locally from the
    // two signatures (codegen'd integer ops), so no distinct exchange
    // exists in the plan
    val pairs = a.join(b, Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .filter(expr(
        """(band < 1 OR (sha & 65535)                 != (shb & 65535)) AND
          |(band < 2 OR (shiftright(sha, 16) & 65535) != (shiftright(shb, 16) & 65535)) AND
          |(band < 3 OR (shiftright(sha, 32) & 65535) != (shiftright(shb, 32) & 65535))""".stripMargin))
      .filter(expr(s"bit_count(sha ^ shb) <= $SimhashHammingMax"))
      // materialized once: the symmetric union below references pairs
      // twice, and an un-checkpointed plan would run the band join +
      // popcount verify once per union leg (d03From precedent)
      .localCheckpoint(true)
    val sym = pairs.selectExpr("a AS doc_id", "b AS partner")
      .union(pairs.selectExpr("b AS doc_id", "a AS partner"))
    sig.select(col("doc_id"))
      .join(sym.groupBy("doc_id")
          .agg(count(lit(1)).as("deg"), min(col("partner")).as("p_min")),
        Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(deg, 0L) AS n_near",
        "least(coalesce(p_min, doc_id), doc_id) AS rep")
  }

  // --- g-family shared edge sets ------------------------------------------

  /** Session-scoped cache of the graph family's derived edge relations
    * (r12, VERDICT r11 task 5): all four graph analyses run over the SAME
    * similarity graph — g01 over d03's any-band candidate pairs, g02–g04
    * over the full-signature template pairs — and a pipeline that runs
    * several graph cuts derives that graph ONCE per session, not once per
    * query (the shared derivation measured 16–22 s of each g-query's cost
    * at the 100× replica, r11 per-phase timing). Entries are the exact
    * `localCheckpoint`ed relations the queries previously built inline, so
    * results are bit-identical — only the repeated signature scan + band
    * join disappears. Keyed by (session, normalized dir, kind); the
    * WeakHashMap lets a stopped session's entries be collected, and the
    * checkpointed blocks die with their session either way. Scoped to the
    * g-family ONLY: d03/d07 and the rest of the d-family keep deriving
    * inline so their oracle-gated bench numbers keep measuring the full
    * derivation. */
  private val gEdgeCache =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[(String, String), DataFrame]]()

  /** Drop every cached edge relation for `s` (r13, VERDICT r12 "What's
    * wrong" #1): the bench's untimed warm-up pass populated this cache, so
    * the TIMED g-queries never paid their shared derivation (pay-zero,
    * where the sanctioned shape was pay-once-reuse). Bench and ScaleProbe call
    * this before EVERY timed pass — with a min-of-passes methodology any
    * coarser clearing still lets passes 2+ reuse pass 1's entries and the
    * min report pay-zero — so each per-query second is the full
    * from-parquet cost. Real pipelines (and GraphGate, which measures the
    * amortization explicitly) never clear. */
  private[graft] def clearSessionCaches(s: SparkSession): Unit =
    gEdgeCache.synchronized {
      val per = gEdgeCache.get(s)
      if (per != null) per.clear()
    }

  private def cachedEdges(s: SparkSession, d: String, kind: String)(build: => DataFrame): DataFrame =
    gEdgeCache.synchronized {
      var per = gEdgeCache.get(s)
      if (per == null) { per = new java.util.HashMap; gEdgeCache.put(s, per) }
      val key = (java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString, kind)
      var df = per.get(key)
      if (df == null) { df = build; per.put(key, df) }
      df
    }

  /** The full-signature template pairs (a, b), a<b — both band keys equal
    * (all 8 MinHash values agree, est. J ≈ 1): g02–g04's edge set. The
    * composite band key makes the join output already distinct. */
  private def fullSigPairs(s: SparkSession, d: String): DataFrame =
    cachedEdges(s, d, "fullsig") {
      val sig = d02MinHashSig(s, d).select(col("doc_id"), col("band0"), col("band1"))
        .localCheckpoint(true)
      sig.toDF("a", "band0", "band1")
        .join(sig.toDF("b", "band0", "band1"), Seq("band0", "band1"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
        .localCheckpoint(true)
    }

  /** Both-direction (x, y) edges over [[fullSigPairs]] — the relation
    * g03's peeling and g04's supersteps iterate over. */
  private def fullSigDirected(s: SparkSession, d: String): DataFrame =
    cachedEdges(s, d, "fullsig_directed") {
      val pairs = fullSigPairs(s, d)
      pairs.selectExpr("a AS x", "b AS y")
        .unionAll(pairs.selectExpr("b AS x", "a AS y")).localCheckpoint(true)
    }

  /** g01 fixed-point scale (1e6 = 6 decimal digits of rank precision). */
  val PrScale = 1000000L
  /** g01 iteration count — unrolled identically in the oracle. */
  val PrIters = 3

  /** g01: PAGERANK over the LSH similarity graph — the iterative
    * fixed-point join family (the remaining operator class after d07's
    * connected components): rank flows along d03's candidate edges for
    * [[PrIters]] damped iterations. All arithmetic is INTEGER fixed-point
    * (scale [[PrScale]], floor division) — contributions `r div deg` and
    * the damped update `(15·S) div 100 + (85·Σ) div 100` are exact in
    * both engines, so the oracle (the same recurrence unrolled in SQL)
    * matches bit-for-bit; double-based PageRank could never strict-pass
    * (order-dependent sums).
    *
    * Scale: each iteration is one equi-join of the EDGE list (≪ corpus —
    * these are LSH candidate pairs) against the rank vector plus one
    * aggregate; `localCheckpoint` truncates lineage per iteration — the
    * discipline every iterative Spark job needs (without it the plan
    * doubles each round and the driver dies of analysis, not data).
    *
    * Superstep constant (r10, VERDICT r9 task 3 — GraphGate measured the
    * old 3-join loop at 105 s/sf1 where fixed per-iteration overhead, not
    * data, dominated): the degree join is FOLDED into the edge relation
    * ONCE (`src, dst, deg` persisted up front — deg never changes), and
    * every relation in the loop is pinned hash-partitioned on its join
    * key at a FIXED partition count (`repartition(n, key)`, which AQE
    * never coalesces, and `localCheckpoint` preserves outputPartitioning
    * into the next plan): edges on src, ranks on doc_id, so the
    * edge⋈rank join aligns shuffle-free, the contribution aggregate is
    * the superstep's ONE real exchange, and the dangling-node left join
    * (contrib on dst vs ranks on doc_id) aligns shuffle-free again —
    * leaving the output partitioned on doc_id for the next superstep.
    *
    * Checkpoint CADENCE (r11, VERDICT r10 task 7 — the remaining engine
    * constant at sf10 was the eager `localCheckpoint` materializing the
    * full rank vector EVERY superstep): ranks materialize every SECOND
    * iteration. That is only sound because the lazy rank plan is
    * referenced ONCE per superstep — the dangling-node left join's
    * row-preserving side is the CONSTANT `docIds` relation (the doc set
    * never changes across supersteps; ranks preserves it by construction),
    * checkpointed once up front, NOT `ranks.select("doc_id")`. With two
    * references a lazy superstep would recompute the previous edge⋈rank
    * join twice (measured at the 100× replica: 86 s vs 49 with the double
    * reference). Lineage depth stays ≤ 2 supersteps, partitioning flows
    * through the lazy plan (the left join output is hash-partitioned on
    * doc_id whether or not it checkpoints), and the fixed-point arithmetic
    * is identical — GraphGate's bit-identity gate is unaffected while half
    * the rank-vector materializations disappear. */
  def g01PageRank(s: SparkSession, d: String): DataFrame = {
    val n = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // repartition the directed edges on src FIRST: the degree aggregate
    // and the edge⋈deg join then both align on the same partitioning and
    // run exchange-free — one 2|E|-row shuffle where building from
    // unpartitioned edges paid three (groupBy, join probe, final pin).
    // sortWithinPartitions before the checkpoint: localCheckpoint's
    // LogicalRDD preserves outputORDERING as well as partitioning, so the
    // per-superstep sort-merge join sees the 2|E|-row side pre-sorted and
    // only sorts the |V|-row rank vector — without it every superstep
    // re-sorted the full edge relation (the dominant superstep cost at the
    // 100× replica: 33 M-row sort × 3 iterations).
    // Both constants are session-cached ([[cachedEdges]]): the half-sig
    // pair derivation is the g-family's shared 16–22 s constant at sf10.
    val edgesDeg = cachedEdges(s, d, "halfsig_edges_deg") {
      val pairs = d03MinHashPairs(s, d).localCheckpoint(true)
      val edges = pairs.selectExpr("a AS src", "b AS dst")
        .union(pairs.selectExpr("b AS src", "a AS dst"))
        .repartition(n, col("src"))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      edges.join(deg, "src")
        .sortWithinPartitions("src").localCheckpoint(true)
    }
    val docIds = cachedEdges(s, d, "doc_ids") {
      documents(s, d).select("doc_id")
        .repartition(n, col("doc_id"))
        .sortWithinPartitions("doc_id").localCheckpoint(true)
    }
    var ranks: DataFrame = docIds.selectExpr("doc_id", s"CAST($PrScale AS BIGINT) AS r")
    (1 to PrIters).foreach { i =>
      val contrib = edgesDeg
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .selectExpr("dst", "r div deg AS c")
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      val updated = docIds.join(contrib, col("doc_id") === col("dst"), "left")
        .selectExpr("doc_id",
          s"CAST((15 * $PrScale) div 100 + (85 * coalesce(in_sum, CAST(0 AS BIGINT))) div 100 AS BIGINT) AS r")
      ranks = if (i % 2 == 0) updated.localCheckpoint(true) else updated
    }
    ranks
  }

  /** g02: TRIANGLE COUNTING over the near-dup candidate graph — the
    * clustering-coefficient ingredient that separates tight duplicate
    * CLIQUES (template families, mirror sites — dense triangles) from
    * chain-like false-positive paths (few triangles) in a dedup graph;
    * with g01 (centrality) and d07 (components) it completes the graph
    * tool set over the LSH edges. Classic distributed formulation
    * (node-ordered edge orientation): every edge is stored a<b, a wedge
    * is e(x,y)⋈e(y,z) pivoting on the middle node, and the triangle
    * closes iff e(x,z) exists — each triangle counted exactly once
    * because x<y<z is a total order. Per-node participation counts are
    * the output (every triangle credits all three corners).
    *
    * Scale shape — two bounds, both required (r6). (1) EDGE set: the d03
    * half-signature bands (est. Jaccard ≥ ~0.5) densify superlinearly on
    * near-dup-heavy corpora — the 10× probe measured 161× edges / 4800×
    * wedges / 25M triangles, so ANY algorithm over that edge set is
    * quadratic-ish in practice. g02's stated job is tight CLIQUES, so its
    * edges are the FULL-signature band — both 4-hash band keys equal,
    * i.e. all 8 MinHash values agree, est. Jaccard ≈ 1 (P[match] = J⁸).
    * Measured at the 10× replica: 646 566 → 4 144 edges, 25.6 M → 1 842
    * wedges; edge growth is near-linear in docs and the signature scan
    * dominates the runtime. One composite-key equi-join replaces d03's
    * band-union + distinct — a strictly cheaper plan. (2) WEDGE volume:
    * edges are oriented by DEGREE order (ties on id) — the
    * Cohen/Schank-Wagner mitigation: every wedge pivots on its
    * LOWEST-degree corner, so out-degrees are O(√m)-bounded and a hub of
    * degree h emits O(m) wedges instead of h². The triangle SET is
    * orientation-invariant (each triangle appears exactly once under any
    * total node order), so the oracle — recomputed over the SAME
    * full-signature edge set — uses plain id order. */
  def g02Triangles(s: SparkSession, d: String): DataFrame = {
    val e0 = fullSigPairs(s, d) // (a, b), a<b; composite band key ⇒ already distinct
    val deg = e0.selectExpr("a AS node").unionAll(e0.selectExpr("b AS node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint to the larger
    val e = e0
      .join(deg.selectExpr("node AS a", "deg AS da"), "a")
      .join(deg.selectExpr("node AS b", "deg AS db"), "b")
      .selectExpr(
        "IF(da < db OR (da = db AND a < b), a, b) AS x",
        "IF(da < db OR (da = db AND a < b), da, db) AS dx",
        "IF(da < db OR (da = db AND a < b), b, a) AS y",
        "IF(da < db OR (da = db AND a < b), db, da) AS dy")
      .localCheckpoint(true)
    // wedge = two out-neighbors of the pivot, kept in (deg, id) order so
    // each unordered {y, z} appears once; closing edge is then (y, z)
    // in the same orientation
    val wedges = e.selectExpr("x", "y", "dy")
      .join(e.selectExpr("x", "y AS z", "dy AS dz"), "x")
      .filter(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
    val closed = wedges.join(e.selectExpr("x AS y", "y AS z"), Seq("y", "z"))
    closed.selectExpr("x AS doc_id")
      .unionAll(closed.selectExpr("y AS doc_id"))
      .unionAll(closed.selectExpr("z AS doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** g03: the k of the k-core cut — 2 keeps exactly the nodes on
    * CYCLES of the template graph (families, not pendant chains); the
    * full-signature graph is too sparse for a 3-core below sf1. */
  val CoreK = 2
  /** g03: the oracle unrolls this many peeling rounds — the engine
    * iterates to the exact fixpoint and REQUIRES it lands within this
    * bound, so both sides provably compute the same set. */
  val CoreMaxRounds = 10

  /** g03: K-CORE DECOMPOSITION over the g02 template-family graph — the
    * maximal subgraph where every node keeps ≥ [[CoreK]] neighbors
    * (Seidman 1983, "Network structure and minimum degree"): the third
    * classic graph cut after components (d07) and triangles (g02). On a
    * dedup graph the k-core isolates the DENSE template families (mirror
    * farms, boilerplate clusters — candidates for aggressive removal)
    * from incidental near-dup chains that components lump together and
    * per-edge scores cannot separate. Output: core members with their
    * in-core degree. Exact, integer-only; the fixpoint set is unique
    * (peeling order never matters), so the result is deterministic under
    * any partitioning.
    *
    * Scale shape: edges are g02's FULL-SIGNATURE band join (est. J ≈ 1 —
    * measured near-linear in docs at the 10× replica, the whole reason
    * g02 introduced it). Each peeling round is one degree aggregate over
    * alive-filtered edges (two semi-join-shaped broadcast-or-shuffle hash
    * joins + a partial-agged groupBy) and rounds are bounded by the
    * graph's degeneracy ordering depth — [[CoreMaxRounds]] enforced, in
    * the d07 spirit of guarded iteration. Driver sees only per-round
    * COUNTS; alive sets live in `localCheckpoint`ed executors. */
  def g03KCore(s: SparkSession, d: String): DataFrame = {
    val edges = fullSigDirected(s, d)
    def coreDegrees(alive: DataFrame): DataFrame = edges
      .join(alive.selectExpr("doc_id AS x"), "x")
      .join(alive.selectExpr("doc_id AS y"), "y")
      .groupBy(col("x").as("doc_id")).agg(count(lit(1)).as("core_degree"))
    var alive = edges.select(col("x").as("doc_id")).distinct().localCheckpoint(true)
    var n = alive.count()
    var rounds = 0
    var converged = n == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= CoreMaxRounds,
        s"k-core peeling exceeded $CoreMaxRounds rounds — raise CoreMaxRounds " +
          "and the oracle's unroll depth together")
      val next = coreDegrees(alive).filter(col("core_degree") >= CoreK)
        .select("doc_id").localCheckpoint(true)
      val m = next.count()
      converged = m == n // next ⊆ alive, so count equality is set equality
      alive = next; n = m
    }
    coreDegrees(alive)
  }

  /** g04: superstep count — part of the operator CONTRACT, not a tuning
    * knob: synchronous LPA may oscillate between two labelings forever,
    * so "propagate for exactly K rounds" is the deterministic semantics
    * both the engine and the unrolled oracle compute (unlike g03, where
    * the fixpoint is unique and the bound is just a guard). */
  val LpaRounds = 4

  /** g04: LABEL PROPAGATION communities (Raghavan et al. 2007, "Near
    * linear time algorithm to detect community structures in large-scale
    * networks") over the g02/g03 full-signature template graph. The
    * fourth graph cut over the dedup edges: components (d07) lump every
    * transitively-touching doc together, triangles (g02) and cores (g03)
    * score local density — LPA finds the mesoscale COMMUNITIES (template
    * families that share boilerplate but split into dialects), the
    * granularity a curation pipeline prunes at. Classic LPA breaks ties
    * randomly and updates asynchronously; this operator is the
    * DETERMINISTIC synchronous form: every node starts as its own label,
    * and each of exactly [[LpaRounds]] supersteps relabels every node to
    * its neighbors' mode label, ties broken (count DESC, label ASC) — a
    * pure function of the edge set, so the unrolled oracle recomputes it
    * row-identically. Output: (doc_id, community, comm_size) for every
    * node of the template graph.
    *
    * Scale shape: one superstep = one equi-join of edges against the
    * (node, label) relation + a two-level aggregate — all shuffles are
    * EDGE-bounded (the full-signature band grows near-linearly in docs,
    * measured at the 10× probe for g02), labels are scalars, and the
    * argmax is `max(struct(cnt, -label))` — a partial-aggregable
    * commutative max, NOT a per-node window sort, so map-side combine
    * keeps superstep shuffle bytes at one (node, candidate-label) row
    * per distinct pair. Rounds are a compile-time constant; lineage is
    * cut per superstep ([[org.apache.spark.sql.Dataset#localCheckpoint]])
    * exactly like g01's rank iteration. */
  def g04LabelProp(s: SparkSession, d: String): DataFrame = {
    val edges = fullSigDirected(s, d)
    var lab = edges.select(col("x").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    (1 to LpaRounds).foreach { _ =>
      lab = lpaSuperstep(edges, lab).localCheckpoint(true)
    }
    val sz = lab.groupBy(col("label").as("community")).agg(count(lit(1)).as("comm_size"))
    lab.selectExpr("doc_id", "label AS community")
      .join(sz, "community")
      .select(col("doc_id"), col("community"), col("comm_size"))
  }

  /** One g04 superstep: relabel every node to its neighbors' mode label,
    * ties (count DESC, label ASC). Package-visible so PlanChecksSpec can
    * pin THIS plan (the `localCheckpoint` per round means the final g04
    * DataFrame's plan shows only the size join, not the superstep).
    * argmax by (cnt DESC, label ASC) = max of (cnt, -label) — a
    * partial-aggregable max, not a per-node window sort; every node of
    * the graph has ≥1 neighbor, so the inner join drops nobody. */
  private[queries] def lpaSuperstep(edges: DataFrame, lab: DataFrame): DataFrame =
    edges.join(lab.selectExpr("doc_id AS y", "label"), "y")
      .groupBy(col("x"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("x"))
      .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
      .selectExpr("x AS doc_id", "-m.nl AS label")

  /** Minimum block count for d05's exact all-pairs join. */
  val JaccardBlocks = 8

  /** Documents one block may hold: the task-memory budget of the block-pair
    * kernel (per task ≈ 2·budget token sets + their local-vocab bitsets). */
  val JaccardBlockDocs = 2000L

  /** The sizing rule, IMPLEMENTED (r4 — it was prose before): B grows with
    * the corpus so per-task memory stays CONSTANT while task count grows as
    * B²/2 — the quadratic work is intrinsic to the exact baseline, but no
    * task ever outgrows its executor. The block-pair decomposition is exact
    * for ANY B, so the oracle is unaffected by the choice. */
  def jaccardBlocks(corpusSize: Long): Int =
    math.max(JaccardBlocks,
      ((corpusSize + JaccardBlockDocs - 1) / JaccardBlockDocs).toInt)

  /** d05: n-gram Jaccard near-dup pairs — within-language token-set
    * Jaccard, EXACT, as a distributed BLOCK-PAIR join: each document is
    * replicated to the B unordered block pairs containing its block
    * (block = doc_id % B), and one `flatMapGroups` task per block pair
    * enumerates pairs with a LOCAL-VOCAB bitset kernel — the task builds a
    * token→bit index over just its two blocks' tokens, turns each token
    * set into a few machine words, and computes Jaccard as
    * `popcount(a AND b) / popcount(a OR b)`. Exact integer arithmetic →
    * bit-identical to the oracle's full O(n²) scan; the local vocabulary
    * is bounded by task content, so NO global vocabulary, driver state, or
    * corpus broadcast exists anywhere in the plan.
    *
    * Scale notes: exact all-pairs is intrinsically quadratic — this plan
    * distributes that work over B(B+1)/2 bounded-memory tasks (the same
    * shape as s02). A prefix-filtered candidate join (Bayardo WWW'07) was
    * measured here and LOST: this corpus's vocabulary is tiny (~155
    * tokens), so every token is hot and prefix candidates degenerate to
    * all pairs while paying three extra shuffles. When thresholds allow,
    * the MinHash+LSH candidates (d02/d03 → d06) replace the quadratic
    * sweep entirely. */
  def d05JaccardPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one metadata-cheap count sizes the decomposition (the count reads
    // parquet row-group stats, not the data)
    val b = jaccardBlocks(documents(s, d).count())
    val threshold = JaccardThreshold
    val docs = documents(s, d)
      .selectExpr("doc_id", "lang", s"array_distinct($toksExpr) AS t")
      .as[(Long, String, Seq[String])]
    docs
      .flatMap { case (id, lang, ts) =>
        val blk = (id % b).toInt
        (0 until b).iterator.map { o =>
          val lo = math.min(blk, o)
          val hi = math.max(blk, o)
          (lo * b + hi, blk, id, lang, ts)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (gk: Int, it: Iterator[(Int, Int, Long, String, Seq[String])]) =>
        val i = gk / b
        val j = gk % b
        // local token→bit index over this task's documents only
        val vocab = new scala.collection.mutable.HashMap[String, Int]
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Long], Int)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Long], Int)]
        val staged = it.map { case (_, blk, id, lang, ts) =>
          ts.foreach(t => vocab.getOrElseUpdate(t, vocab.size))
          (blk, id, lang, ts)
        }.toVector // vocab must be complete before sizing bitsets
        val words = (vocab.size + 63) / 64
        staged.foreach { case (blk, id, lang, ts) =>
          val bits = new Array[Long](words)
          ts.foreach { t => val ix = vocab(t); bits(ix >> 6) |= 1L << (ix & 63) }
          val entry = (id, lang, bits, ts.size)
          if (blk == i) left += entry else right += entry
        }
        def pair(a: (Long, String, Array[Long], Int), c: (Long, String, Array[Long], Int)) =
          if (a._2 != c._2) Iterator.empty // within-language only
          else {
            var inter = 0
            var w = 0
            while (w < words) { inter += java.lang.Long.bitCount(a._3(w) & c._3(w)); w += 1 }
            val union = a._4 + c._4 - inter
            val jac = inter.toDouble / union
            if (jac >= threshold) {
              if (a._1 < c._1) Iterator.single((a._1, c._1, jac))
              else Iterator.single((c._1, a._1, jac))
            } else Iterator.empty
          }
        if (i == j)
          left.indices.iterator.flatMap { x =>
            (x + 1 until left.length).iterator.flatMap(y => pair(left(x), left(y)))
          }
        else
          left.iterator.flatMap(a => right.iterator.flatMap(c => pair(a, c)))
      }
      .toDF("a", "b", "jaccard")
  }

  /** d07: dedup CLUSTERS — connected components over the MinHash-LSH
    * candidate graph (d03), each document labeled with the minimum doc_id
    * of its component (the keeper). This is the final step of corpus
    * dedup at scale; [[clusterLabels]] runs it through the one
    * [[graft.operators.ConnectedComponents]] crossover. Singleton
    * documents are their own cluster. Deterministic: both branches label
    * with the component minimum. */
  def d07DedupClusters(s: SparkSession, d: String): DataFrame =
    clusterLabels(s, d03MinHashPairs(s, d).localCheckpoint(true),
      documents(s, d).select(col("doc_id")))

  /** (doc_id, cluster_rep) for every doc in `docIds`, given the candidate
    * `pairs` (a, b). The candidate EDGE set after LSH banding is orders of
    * magnitude smaller than the corpus (only near-dup pairs survive), so
    * [[graft.operators.ConnectedComponents.components]] usually answers
    * with a driver map: it is broadcast back and applied per-partition, so
    * singleton docs (the overwhelming majority) never leave their
    * partition. Past the crossover the distributed labels are left-joined
    * instead. The corpus itself is never shuffled either way. */
  private[queries] def clusterLabels(s: SparkSession, pairs: DataFrame, docIds: DataFrame): DataFrame = {
    import s.implicits._
    graft.operators.ConnectedComponents.components(s, pairs.toDF("x", "y")) match {
      case Left(rep) =>
        val bc = s.sparkContext.broadcast(rep)
        docIds.select(col("doc_id")).as[Long]
          .mapPartitions { ids =>
            val m = bc.value
            ids.map(id => (id, m.getOrElse(id, id)))
          }
          .toDF("doc_id", "cluster_rep")
      case Right(labels) =>
        docIds
          .join(labels, col("doc_id") === col("node"), "left")
          .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
    }
  }

  /** The dedup keepers (doc_id): each cluster's rep, singletons included. */
  private[queries] def clusterKeepers(s: SparkSession, pairs: DataFrame, docIds: DataFrame): DataFrame =
    clusterLabels(s, pairs, docIds).filter(col("doc_id") === col("cluster_rep")).select("doc_id")

  /** Decontamination gram size — 3 on the synthetic corpus (short docs over
    * a tiny vocabulary); production decontamination uses 13-gram overlap. */
  val DecontamN = 3
  /** Benchmark membership: doc_id % 50 == 0 is the deterministic stand-in
    * for the held-out evaluation suite. */
  val BenchmarkMod = 50L
  /** Contamination verdict: ≥ this many distinct overlapping grams. */
  val ContamMin = 2L

  /** d08: benchmark DECONTAMINATION — flag corpus documents sharing token
    * n-grams with a held-out benchmark set (the step every serious training
    * pipeline runs so eval data never leaks into training data).
    *
    * Scale shape: the benchmark gram set is SMALL by definition (eval
    * suites are fixed-size, corpus is 100 TB) → distinct benchmark grams
    * broadcast; the corpus side is a narrow explode filtered by the
    * broadcast join BEFORE any shuffle, so only grams that actually
    * overlap reach the distinct/count exchanges (99%+ of corpus grams
    * never shuffle). Short-doc guard mirrors d05: `greatest(…, 1)` emits
    * one (possibly truncated) gram so both engines agree on tiny docs. */
  def d08Decontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = normToks(s, d)
      .selectExpr("doc_id",
        s"explode(sequence(1, greatest(size(toks) - ${DecontamN - 1}, 1))) AS pos",
        "toks")
      .selectExpr("doc_id", s"array_join(slice(toks, pos, $DecontamN), ' ') AS gram")
    val bench = grams.filter(col("doc_id") % BenchmarkMod === 0)
      .select("gram").distinct()
    grams.filter(col("doc_id") % BenchmarkMod =!= 0)
      .join(broadcast(bench), "gram") // narrow pre-filter: no corpus shuffle
      .select("doc_id", "gram").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .selectExpr("doc_id", "n_overlap",
        s"n_overlap >= $ContamMin AS contaminated")
  }

  /** d10: decontamination behind a BLOOM pre-filter — d08's exact
    * semantics in the shape that survives a benchmark set too large to
    * broadcast as grams. d08 broadcasts the distinct benchmark n-grams
    * (fine for one eval suite; at a consortium-scale suite the gram set
    * is GBs); here ONE map-side-combined aggregate folds the benchmark
    * grams into a fixed-size bloom (q21's pattern: Spark's own
    * `BloomFilterMightContain`, codegen'd in the corpus scan's
    * whole-stage span), the 100 TB corpus side drops ~all non-overlapping
    * grams at scan speed, and only the bloom SURVIVORS reach the exact
    * gram join — unhinted, so Catalyst picks shuffle vs broadcast from
    * the survivors' size, not the benchmark's. False positives are
    * harmless (the exact join re-checks), false negatives impossible, so
    * the result — and the oracle — is IDENTICAL to d08's. Both sides key
    * the bloom on `xxhash64(gram)` longs (an engine-internal hash is fine
    * here: it never reaches the output, unlike the md5-based oracle-visible
    * keys). */
  def d10BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val grams = normToks(s, d)
      .selectExpr("doc_id",
        s"explode(sequence(1, greatest(size(toks) - ${DecontamN - 1}, 1))) AS pos",
        "toks")
      .selectExpr("doc_id", s"array_join(slice(toks, pos, $DecontamN), ' ') AS gram")
    // materialized once (r12): the benchmark gram set is read twice — the
    // bloom build (an eager aggregate job) and the exact re-check join —
    // and each read re-derived the tokenize+md5 gram stream of the
    // benchmark docs. It is small by definition (one eval suite), so the
    // checkpoint is bounded; the CORPUS gram side stays lazy/unmaterialized.
    val bench = grams.filter(col("doc_id") % BenchmarkMod === 0)
      .select("gram").distinct().localCheckpoint(true)
    val bloomBytes = graft.functions.GraftDsl.buildBloom(
      bench, xxhash64(col("gram")), 1 << 20, 0.01) // ~1.2 MB whatever the suite size
    grams.filter(col("doc_id") % BenchmarkMod =!= 0)
      .filter(graft.functions.GraftDsl.bloomMightContain(bloomBytes, xxhash64(col("gram"))))
      .join(bench, "gram") // exact re-check over bloom survivors only
      .select("doc_id", "gram").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .selectExpr("doc_id", "n_overlap",
        s"n_overlap >= $ContamMin AS contaminated")
  }

  /** Exact-duplicate span width (tokens). Production exact-substring dedup
    * uses 50-token windows (Lee et al. 2022); 8 fits the short synthetic
    * docs while keeping spans longer than any d05 shingle. */
  val DupSpanW = 8

  /** d11: EXACT duplicated-SPAN detection — the suffix-array dedup signal
    * of "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2022): any [[DupSpanW]]-token window that occurs verbatim in ≥ 2
    * distinct documents is a duplicated span, and per document we report
    * how many window positions are covered by one plus how many distinct
    * duplicated spans it carries. This is the signal exact-substring dedup
    * pipelines threshold on to CUT repeated boilerplate out of documents
    * (where whole-doc dedup like d01 can only drop documents).
    *
    * Suffix arrays don't distribute; the equivalent corpus-scale plan is a
    * window-hash inventory: every token position contributes one hash of
    * the W-token window starting there (a rolling/narrow per-row
    * computation, no shuffle), then ONE aggregate over uniformly
    * distributed hash keys finds windows spanning ≥ 2 docs, and the
    * per-doc rollup joins on those same uniform keys — no skew by
    * construction (a hot span is still one aggregate row). Volume is the
    * only cost: one 32-byte md5 per corpus token (md5 because the hash is
    * oracle-visible; production would key on xxhash64 longs, 4× narrower,
    * exactly as d10 does for its bloom keys).
    *
    * Shape (r7 restructure): ONE partial-agged pass collapses wins to
    * (doc_id, whash, cnt) — map-side combine absorbs within-doc repeats,
    * so a boilerplate-heavy doc cannot inflate its own span's doc count
    * AND every later exchange moves only collapsed rows. The ndocs
    * inventory, the dup join, and the per-doc rollup (plain SUMs — the
    * r6 `countDistinct` forced an Expand that re-shuffled the full
    * window-row volume twice) all run over that collapsed relation. */
  def d11DupSpans(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = normToksPar(s, d)
      .filter(s"size(toks) >= $DupSpanW")
      .selectExpr("doc_id",
        s"explode(sequence(1, size(toks) - ${DupSpanW - 1})) AS pos", "toks")
      .selectExpr("doc_id", "pos",
        s"md5(array_join(slice(toks, pos, $DupSpanW), ' ')) AS whash")
    val perDocHash = wins.groupBy("doc_id", "whash").agg(count(lit(1)).as("cnt"))
    // ndocs via ONE window over the collapsed relation (r13, guide §2.4):
    // the old dup derivation re-aggregated perDocHash by whash and joined
    // it back — and because the join's two inputs are the same unshared
    // subtree, the whole scan→explode→md5 inventory (the dominant stage)
    // was planned AND executed twice (PLANS.md r12: 6 exchanges, no
    // ReusedExchange). A count over (PARTITION BY whash) reads the same
    // ndocs off one pass: the inventory runs once, the self-join and its
    // (at scale non-broadcastable) dup relation disappear, and the
    // window's partition is one aggregate row per (doc, whash) — bounded
    // by the span's doc count, no skew (a hot span is still one row/doc).
    val nd = Window.partitionBy("whash")
    perDocHash
      .withColumn("ndocs", count(lit(1)).over(nd))
      .groupBy("doc_id")
      .agg(
        sum(col("cnt")).as("n_windows"),
        sum(when(col("ndocs") >= 2, col("cnt")).otherwise(0L)).as("n_dup_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
  }

  /** d12: exact duplicated-span REMOVAL — d11's detection signal turned
    * into the actual cut: every token covered by a [[DupSpanW]]-token
    * window that occurs verbatim in ≥ 2 distinct documents is removed, and
    * each document is reassembled from its surviving tokens in order. This
    * is the operation exact-substring dedup (Lee et al., 2022) exists for:
    * whole-doc dedup (d01) can only drop documents; span cut excises the
    * shared boilerplate (headers, license blocks, navigation chrome) while
    * keeping the unique prose around it. Output per doc: token counts
    * before/after plus an md5 fingerprint of the cleaned text, so the
    * oracle verifies the reassembled string exactly.
    *
    * Production note: this cuts the span from EVERY document carrying it
    * (symmetric cut — deterministic and order-free). The keep-one-copy
    * variant adds a rank over (whash → min(doc_id, pos)) and exempts the
    * winner; the plan shape is identical, so the symmetric form is what
    * the oracle pins.
    *
    * Scale shape: everything d11 says holds (window-hash inventory over
    * uniform keys, derived ONCE — a whash window decides cross-doc
    * duplication row-locally, r13); the additional work is bounded by the
    * DUPLICATED windows only — the coverage explode is W rows per
    * duplicated window (unique docs never enter it), the (doc_id, pos)
    * distinct and the token join co-key on doc_id, and the final rollup
    * reuses that partitioning. A 100 TB corpus with 1% span duplication
    * pays the d11 inventory plus ~8× rows on that 1%. */
  def d12SpanCut(s: SparkSession, d: String): DataFrame = {
    val base = normToksPar(s, d)
    val wins = base
      .filter(s"size(toks) >= $DupSpanW")
      .selectExpr("doc_id",
        s"explode(sequence(1, size(toks) - ${DupSpanW - 1})) AS pos", "toks")
      .selectExpr("doc_id", "pos",
        s"md5(array_join(slice(toks, pos, $DupSpanW), ' ')) AS whash")
    // "window occurs in ≥2 distinct docs" decided row-locally from ONE
    // pass (r13, guide §2.4): min(doc_id) < max(doc_id) over a whash
    // window ⟺ the old distinct-count ≥ 2 — so the second derivation of
    // the full scan→explode→md5 inventory (the old dup branch: distinct +
    // re-aggregate + join back, executed as a separate unshared subtree)
    // and the dup relation itself (non-broadcastable at scale) both
    // disappear. The one whash exchange moves the same inventory volume
    // the old distinct exchange already moved.
    import org.apache.spark.sql.expressions.Window
    val nd = Window.partitionBy("whash")
    val covered = wins
      .withColumn("mn", min(col("doc_id")).over(nd))
      .withColumn("mx", max(col("doc_id")).over(nd))
      .filter(col("mn") < col("mx"))
      .selectExpr("doc_id",
        s"explode(sequence(CAST(pos AS BIGINT), CAST(pos + ${DupSpanW - 1} AS BIGINT))) AS pos")
      .distinct()
      .withColumn("cut", lit(1L))
    base
      .selectExpr("doc_id", "posexplode(toks) AS (pos0, tok)")
      .selectExpr("doc_id", "CAST(pos0 + 1 AS BIGINT) AS pos", "tok")
      .join(covered, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(coalesce(col("cut"), lit(0L))).as("n_removed"),
        expr("md5(CAST(array_join(transform(array_sort(" +
          "collect_list(if(cut IS NULL, struct(pos, tok), NULL))), x -> x.tok), ' ') AS BINARY))")
          .as("cleaned_fp"))
  }

  /** "Rare" corpus frequency bound for t13: bigrams the corpus has seen at
    * most this many times. */
  val RareCfMax = 2L

  /** t13: n-gram LANGUAGE-MODEL rarity — per-document share of bigrams
    * that are rare in the whole corpus (corpus frequency ≤ [[RareCfMax]])
    * plus the hapax share (frequency exactly 1). This is the
    * integer-exact stand-in for perplexity filtering: a document whose
    * bigrams the corpus LM has barely seen is exactly a high-perplexity
    * document (garbled text, OCR noise, wrong language), and pipelines
    * drop or down-weight past a threshold. Counts stay integers and the
    * one ratio is a single double division, so the oracle matches
    * bit-for-bit — no log/exp, whose libm rounding differs across
    * engines.
    *
    * Scale shape: the narrow bigram explode pre-aggregates per (doc_id,
    * bigram) FIRST — within-doc repeats collapse map-side, so the Zipf
    * head ("of the" in every doc) carries at most one row per document
    * into the corpus-frequency join; corpus counts reuse that same
    * pre-aggregate (sum of tf, partial-agg combined). Both exchanges key
    * on the bigram string — Zipf-skewed in raw token volume but uniform
    * after the per-doc collapse; residual head skew is row-count only (no
    * multiplication) and AQE's skew split covers it. The final rollup is
    * co-keyed on doc_id. */
  /** t15: ZIPF COUNT-CLASS HISTOGRAM — the corpus-statistics report every
    * pretraining dataset ships (vocabulary size, token mass by frequency
    * decade): vocabulary terms grouped into power-of-two frequency
    * classes (class = ⌊log₂ count⌋), with type count, token mass and the
    * class's count extremes. Zipf's law reads directly off the rows (each
    * class holds ~constant token mass, type counts halve per class), and
    * the head/tail balance is what drives vocab-size and min-frequency
    * cuts in tokenizer training.
    *
    * Integer-exact everywhere: the class is `length(bin(cnt)) − 1` — the
    * binary-digit count, exactly ⌊log₂⌋ with no floating log whose libm
    * rounding could differ between engines (the b01/ts04 discipline).
    *
    * Scale shape: NO global rank — a naive Zipf plot needs
    * `row_number() OVER (ORDER BY cnt DESC)`, a corpus-vocabulary window
    * in ONE partition; the count-class histogram reads the same law from
    * two partial-agged groupBys (token, then class), so the only
    * vocabulary-sized exchange is hash-partitioned and the final exchange
    * carries ≤ 64 class rows. */
  def t15ZipfHistogram(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).selectExpr(s"$toksExpr AS toks")
    // two vocab streams — unigrams and bigrams (the bigram tail is where
    // Zipf structure actually lives on a small-vocab corpus)
    val uni = toks.selectExpr("explode(toks) AS item")
      .filter(col("item") =!= "").selectExpr("'tok' AS stream", "item")
    val bi = toks.filter(expr("size(toks) >= 2"))
      .selectExpr("explode(sequence(1, size(toks) - 1)) AS i", "toks")
      .selectExpr("'bigram' AS stream",
        "concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS item")
    uni.unionByName(bi)
      .groupBy(col("stream"), col("item")).agg(count(lit(1)).as("cnt"))
      .selectExpr("stream", "CAST(length(bin(cnt)) - 1 AS BIGINT) AS count_class", "cnt")
      .groupBy(col("stream"), col("count_class"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("n_tokens"),
        min(col("cnt")).as("min_count"), max(col("cnt")).as("max_count"))
  }

  val DsirTargetLang = "en"
  /** t16: hashed-feature space size — buckets are the first two md5 hex
    * digits of each token bigram, 256 cells (both engines share md5). */
  val DsirBuckets = 256
  /** t16: fixed-point scale of the per-bucket score (micro-units). */
  val DsirScale = 1000000L

  /** t16: DSIR-style data-selection weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much its hashed-n-gram profile looks like a
    * target domain vs the raw corpus, the weighting step of importance
    * resampling. Features are adjacent-token bigrams hashed to
    * [[DsirBuckets]] md5 cells; the target/raw bucket models are
    * add-one-smoothed unigram distributions over those cells, and the
    * per-bucket evidence is the BOUNDED log-likelihood-ratio surrogate
    * (λt−λs)/(λt+λs) = tanh(LLR/2)'s first-order form — monotone in the
    * true per-bucket LLR and saturating at ±1, the same odds-ratio
    * discipline b01 uses to dodge libm logs entirely. Cross-multiplying
    * the smoothed ratios keeps everything integral: num = (ct+1)(S+B),
    * den = (cs+1)(T+B); one correctly-rounded double division + an exact
    * floor gives a per-bucket integer in micro-units ([[DsirScale]]), and
    * a document's score is the INTEGER sum of its grams' bucket scores —
    * order-independent, so Spark and the oracle agree bit-for-bit.
    * Exactness bound: num/den stay < 2⁵³ while total grams < ~9·10⁷·√1;
    * beyond that, fit the model on a fixed-size sample (the paper does).
    *
    * Scale shape: two linear passes over the gram stream (DSIR is
    * inherently model-then-score). Pass 1 partial-aggregates onto ≤ 256
    * bucket rows; the model and its 1-row totals are broadcast, so pass 2
    * is a map-side BroadcastHashJoin followed by one doc-keyed partial
    * aggregate. No vocabulary-sized shuffle, no windows, no collect. */
  /** t16's gram stream: (doc_id, lang, bucket) — one row per adjacent-token
    * bigram, bucketed by the first two md5 hex digits. */
  private def dsirGrams(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .selectExpr("doc_id", "lang", s"$toksExpr AS t")
      .where(size(col("t")) >= 2)
      .selectExpr("doc_id", "lang",
        "explode(transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))) AS gram")
      .selectExpr("doc_id", "lang", "substring(md5(CAST(gram AS BINARY)), 1, 2) AS b")

  /** t16's fitted model: ≤ [[DsirBuckets]] rows of (bucket, fixed-point
    * score) — the broadcastable artifact an online scorer loads
    * ([[graft.streaming.EventStreams.dsirServe]] is that scorer). */
  def dsirBucketScores(s: SparkSession, d: String): DataFrame = {
    val b = DsirBuckets
    val grams = dsirGrams(s, d)
    val model = grams.groupBy("b").agg(
      count(lit(1)).as("cs"),
      sum(when(col("lang") === DsirTargetLang, 1L).otherwise(0L)).as("ct"))
    val totals = model.agg(sum("cs").as("s_total"), sum("ct").as("t_total"))
    model.join(broadcast(totals))
      .selectExpr("b",
        s"(ct + 1) * (s_total + $b) AS num",
        s"(cs + 1) * (t_total + $b) AS den")
      .selectExpr("b",
        s"CAST(floor(CAST($DsirScale AS DOUBLE) * ((CAST(num AS DOUBLE) - CAST(den AS DOUBLE)) / (CAST(num AS DOUBLE) + CAST(den AS DOUBLE)))) AS BIGINT) AS qb")
  }

  def t16DsirWeights(s: SparkSession, d: String): DataFrame =
    dsirGrams(s, d)
      .join(broadcast(dsirBucketScores(s, d)), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("qb").as("dsir_score"))

  def t13RareBigrams(s: SparkSession, d: String): DataFrame = {
    val perDoc = normToks(s, d)
      .filter("size(toks) >= 2")
      .selectExpr("doc_id", "explode(sequence(1, size(toks) - 1)) AS pos", "toks")
      .selectExpr("doc_id", "array_join(slice(toks, pos, 2), ' ') AS bigram")
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("tf"))
    val corpus = perDoc.groupBy("bigram").agg(sum("tf").as("cf"))
    perDoc
      .join(corpus, "bigram")
      .groupBy("doc_id")
      .agg(
        sum("tf").as("n_bigrams"),
        sum(when(col("cf") <= RareCfMax, col("tf")).otherwise(0L)).as("n_rare"),
        sum(when(col("cf") === 1L, col("tf")).otherwise(0L)).as("n_hapax"))
      .selectExpr("doc_id", "n_bigrams", "n_rare", "n_hapax",
        "CAST(n_rare AS DOUBLE) / n_bigrams AS rare_ratio")
  }

  /** t08: repetition quality filters (the Gopher/MassiveText family) —
    * per-document top-2-gram fraction (what share of all 2-grams is the
    * single most frequent one), duplicate-3-gram fraction (share of
    * 3-grams occurring more than once), and distinct-token ratio. High
    * values mean boilerplate/spam; pipelines drop docs past thresholds.
    *
    * All three are ratios of INTEGER counts (then one double division), so
    * the oracle matches bit-for-bit; no max-gram string is output, so ties
    * in "which gram is most frequent" cannot introduce nondeterminism.
    * Scale shape: narrow explode → two aggregations keyed (doc_id, gram)
    * then doc_id — uniform keys, partial aggregation on both; the final
    * joins are co-partitioned on doc_id. */
  def t08Repetition(s: SparkSession, d: String): DataFrame = {
    val tok = normToks(s, d)
    def gramStats(n: Int, pfx: String): DataFrame =
      tok
        .selectExpr("doc_id",
          s"explode(sequence(1, greatest(size(toks) - ${n - 1}, 1))) AS pos",
          "toks")
        .selectExpr("doc_id", s"array_join(slice(toks, pos, $n), ' ') AS gram")
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum("cnt").as(s"${pfx}_total"),
          max("cnt").as(s"${pfx}_max"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as(s"${pfx}_dup"))
    tok
      .selectExpr("doc_id",
        "CAST(size(toks) AS BIGINT) AS n_toks",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq")
      .join(gramStats(2, "g2"), "doc_id")
      .join(gramStats(3, "g3"), "doc_id")
      .selectExpr("doc_id", "n_toks", "n_uniq",
        "CAST(n_uniq AS DOUBLE) / n_toks AS uniq_ratio",
        "CAST(g2_max AS DOUBLE) / g2_total AS top2_frac",
        "CAST(g3_dup AS DOUBLE) / g3_total AS dup3_frac")
  }

  /** First-4-hex-digits-of-md5 → integer, as SQL (engine-parameterized on
    * the strpos function name: Spark `instr`, DuckDB `strpos`). The
    * deterministic [0, 65536) sampling key both engines compute
    * identically — the same no-hex-literal trick as the simhash oracle. */
  def hex4Sql(strposFn: String, col: String = "h"): String =
    (1 to 4).map(i =>
      s"(($strposFn('0123456789abcdef', substring($col, $i, 1)) - 1) * ${1 << (4 * (4 - i))})")
      .mkString(" + ")

  /** t10: SOURCE-MIX sampling — per-source sampling rates (the "data
    * mixing" step that weights domains when assembling a training corpus),
    * implemented as a DETERMINISTIC hash split: a document is kept iff
    * md5(doc_id)'s bucket (0..99) falls under its source's rate. Hash
    * splitting (vs rand()) is what makes the mix REPRODUCIBLE — the same
    * document is always in or out, so reruns, retries and incremental
    * extensions of the corpus agree; no seed plumbing, no RNG-order
    * dependence on partitioning. Rates here derive from the source index
    * (10..90%); production supplies a rate table the same way.
    * Scale: pure narrow projection + filter, one uniform-keyed agg. */
  def t10MixSample(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .selectExpr("doc_id", "source",
        "CAST(substring(source, 4) AS INT) AS src_idx",
        "md5(CAST(CAST(doc_id AS STRING) AS BINARY)) AS h")
      .selectExpr("source", "10 * (1 + src_idx % 9) AS rate_pct",
        s"(${hex4Sql("instr")}) % 100 AS bucket")
      .filter(col("bucket") < col("rate_pct"))
      .groupBy("source", "rate_pct").agg(count(lit(1)).as("n_kept"))
      .selectExpr("source", "CAST(rate_pct AS BIGINT) AS rate_pct", "n_kept")

  /** t14 split-bucket bounds: md5 buckets 0-89 train, 90-94 val,
    * 95-99 test (a 90/5/5 split in expectation). */
  val ValFromBucket = 90
  val TestFromBucket = 95

  /** t14: LEAKAGE-FREE train/val/test SPLIT assignment — each document's
    * split is decided by hashing its dedup-cluster REPRESENTATIVE (d07's
    * `cluster_rep`), not its own id, so two near-duplicate documents can
    * NEVER straddle train and eval: the entire near-dup cluster moves as
    * one unit. Splitting on raw doc ids silently leaks eval content into
    * training through near-dups — the failure mode decontamination
    * research keeps re-finding — and this is the standard fix. Hash
    * splitting (vs rand()) keeps assignment reproducible across runs,
    * engines and incremental corpus extensions, exactly as t10.
    *
    * Scale shape: d07's component labels (LSH-candidate union-find /
    * large-star-small-star, corpus never shuffled) + a narrow md5-bucket
    * projection — no exchange beyond what d07 already does. */
  def t14SplitAssign(s: SparkSession, d: String): DataFrame =
    d07DedupClusters(s, d)
      .selectExpr("doc_id", "cluster_rep",
        "md5(CAST(CAST(cluster_rep AS STRING) AS BINARY)) AS h")
      .selectExpr("doc_id", "cluster_rep",
        s"CAST((${hex4Sql("instr")}) % 100 AS BIGINT) AS bucket")
      .selectExpr("doc_id", "cluster_rep", "bucket",
        s"""CASE WHEN bucket >= $TestFromBucket THEN 'test'
           |     WHEN bucket >= $ValFromBucket THEN 'val'
           |     ELSE 'train' END AS split""".stripMargin)

  /** Salient terms kept per document (t09). */
  val SalientK = 3

  /** t09: TF-IDF-style salient-term extraction with EXACT arithmetic — per
    * document, the [[SalientK]] terms ranked by (term frequency DESC,
    * document frequency ASC, term ASC). That ordering is the rational-form
    * tf·idf ranking (maximize tf, minimize df) expressed entirely in
    * integer comparisons: no logarithm, so no libm last-ulp divergence
    * between JVM and DuckDB — the raw (tf, df) counts are emitted for
    * downstream scoring with whatever idf curve the consumer wants.
    *
    * Scale shape: tf is a (doc_id, tok)-keyed aggregation (uniform), df
    * re-aggregates tf's already-distinct doc×token rows by token (uniform;
    * stopword-ish hot tokens are ONE row per doc here, not one per
    * occurrence, so the token-key skew is capped at |docs|); the window
    * partitions by doc_id with per-partition rows bounded by per-doc
    * vocabulary. */
  def t09SalientTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = normToks(s, d)
      .selectExpr("doc_id", "explode(toks) AS tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // Top-k via the bounded-heap operator (r13, VERDICT r12 task 5): the
    // rank window used to SORT each partition's full per-doc vocabulary
    // before WindowGroupLimit could cut it to k rows; TopKPerGroup keeps a
    // k-row heap per doc instead (no full sort, O(n log k)) and moves only
    // O(docs·k) rows through its exchange. The trailing row_number window
    // ranks ≤ [[SalientK]] rows per doc on the operator's own doc_id
    // clustering (no second exchange) under the SAME total order
    // (tf DESC, df ASC, tok ASC — tok unique per doc), so the surviving
    // rows and their rnk values are identical to the full-sort plan.
    val top = graft.plans.TopKPerGroup(tf.join(df, "tok"), Seq("doc_id"),
      Seq("tf" -> true, "df" -> false, "tok" -> false), SalientK)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    top
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= SalientK)
      .select("doc_id", "rnk", "tok", "tf", "df")
  }

  val WindowTokens = 64
  val WindowOverlap = 16
  private val WindowStride = WindowTokens - WindowOverlap

  /** x01: context-window chunking — split each document's token stream into
    * fixed-size windows with overlap (the sequence-packing step that turns
    * a cleaned corpus into training examples). Pure narrow explode: window
    * starts at w·stride while that is inside the document, slices truncate
    * at the end. Integer/string outputs → exact oracle parity.
    * Empty-token-array guard (tokenization always yields ≥1 token today —
    * `split('', ' ')` is `[""]` on both engines — but the bound must not
    * depend on that): `greatest(…, 0)` clamps the sequence end so an empty
    * array yields exactly one empty window on BOTH engines — without it,
    * Spark's `sequence(0, -1)` emits a DESCENDING [0,-1] while DuckDB's
    * `generate_series(0,-1)` emits nothing. (A `size(toks) > 0` filter
    * would agree too, but recomputes the tokenization in the filter node —
    * measured 40% slower.) That one empty window then joins to `''` here
    * (Spark `array_join([], ' ') = ''`) but to NULL in a bare DuckDB
    * `array_to_string([], ' ')` — the oracle wraps it in
    * `coalesce(…, '')` to match. Pinned by BlockPairSpec's empty-toks
    * case. */
  def x01TokenWindows(s: SparkSession, d: String): DataFrame =
    x01From(normToks(s, d))

  private[queries] def x01From(tok: DataFrame): DataFrame =
    tok
      .selectExpr("doc_id", "toks",
        s"explode(sequence(0, greatest(CAST(floor((size(toks) - 1) / $WindowStride) AS INT), 0))) AS window_id")
      .selectExpr("doc_id", "CAST(window_id AS BIGINT) AS window_id",
        s"slice(toks, window_id * $WindowStride + 1, $WindowTokens) AS w")
      .selectExpr("doc_id", "window_id",
        "array_join(w, ' ') AS chunk_text",
        "CAST(size(w) AS BIGINT) AS n_tokens")

  /** Token budget of one packed training sequence (x02). */
  val PackBudget = 4096L
  /** Per-language sample size (t06). */
  val SampleK = 20
  /** Rare-token threshold: masked when df < MaskDfRatio · |lang docs| (t07). */
  val MaskDfRatio = 0.1

  /** Documents per prefix-sum shard in x02 — bounds every window
    * partition regardless of corpus size. */
  val PackShardDocs = 1000L

  /** x02: CROSS-document sequence packing — assign documents to fixed
    * token-budget training sequences ("bins") by running prefix sum:
    * within a language stream, documents are packed in doc_id order and a
    * document starts bin ⌊prev_tokens / budget⌋. This is the step after
    * x01's within-document chunking: a corpus becomes numbered training
    * sequences.
    *
    * Physical plan: the classic DISTRIBUTED two-level prefix sum — a
    * per-language window would put each whole language in ONE partition
    * (a wall at 100 TB), so the stream is sharded by doc_id range:
    * (1) within-(lang, shard) running sums — every window partition holds
    * ≤ [[PackShardDocs]] rows; (2) per-shard totals get their own (tiny:
    * one row per shard) cross-shard running sum; (3) prev_tokens = shard
    * offset + within-shard prefix. Output is IDENTICAL to the single
    * global window for any shard size — the decomposition is exact
    * integer arithmetic, which the oracle's global-window formulation
    * verifies. */
  def x02PackBins(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = normToks(s, d)
      .selectExpr("doc_id", "lang", "CAST(size(toks) AS BIGINT) AS n_tokens",
        s"doc_id div $PackShardDocs AS shard")
    val wIn = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inShard = docs.withColumn("prev_in_shard",
      coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    val wShard = Window.partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardOffsets = docs.groupBy("lang", "shard")
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_offset", coalesce(sum(col("shard_tokens")).over(wShard), lit(0L)))
      .select(col("lang"), col("shard"), col("shard_offset"))
    inShard.join(shardOffsets, Seq("lang", "shard"))
      .selectExpr("doc_id", "lang", "n_tokens",
        s"CAST(floor((shard_offset + prev_in_shard) / $PackBudget.0) AS BIGINT) AS bin_id")
  }

  /** t06: DETERMINISTIC stratified sampling — the data-mixing primitive
    * (balance languages/sources in a training mix): rank documents per
    * language by a content-free hash (md5 of the id) and keep the first
    * [[SampleK]]. Hash-rank sampling is reproducible across runs and
    * engines (no RNG), uniform in expectation, and one window per
    * stratum — the shape that holds at any scale. */
  def t06StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Scale shape (fixed r3b): a bare per-lang row_number window would put
    // each whole language stratum in ONE partition — the wall x02's
    // prefix sum was decomposed to avoid. The top-k operator bounds the
    // shuffle to SampleK rows per stratum first; the rank window then
    // runs over ≤ SampleK rows per language, so no partition ever exceeds
    // the (fixed) sample size regardless of corpus scale.
    val ranked = documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("h", expr("md5(CAST(doc_id AS STRING))"))
    val top = graft.plans.TopKPerGroup(ranked, Seq("lang"),
      Seq("h" -> false, "doc_id" -> false), SampleK)
    top
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))).cast("long"))
      .select("doc_id", "lang", "rnk")
  }

  /** t07: rare-token masking (vocabulary truncation / OOV handling) — the
    * preprocessing step that replaces tokens below a document-frequency
    * floor with `<unk>` before tokenizer training: per (lang, token) df
    * from a distributed groupBy, tokens masked when
    * df < [[MaskDfRatio]] · |docs in lang|, documents re-assembled in
    * original token order. String + integer outputs → exact oracle parity.
    *
    * Join shape (r13, VERDICT r12 task 3 — guide §3.1/§3.2 "reduce the big
    * side before shuffling"): the position stream used to inner-join the
    * FULL (lang, tok, df) vocabulary relation — an attach, not a filter
    * (every position's token is in the vocabulary by construction), so at
    * scale the whole token-position stream shuffled on (lang, tok) just to
    * read one bit: "is this token masked?" (BENCH_sf1 watch ratio 11.2,
    * the worst in the suite). That bit is membership in the KEPT set —
    * tokens with df ≥ ratio·n_docs — whose size is PROVABLY bounded:
    * Σ_tok df = Σ_doc |distinct tokens|, so at most (1/ratio)·avg-doc-vocab
    * tokens per language can clear the floor (~10·avg-doc-vocab rows here)
    * REGARDLESS of corpus size. The kept set is therefore always
    * broadcastable, the position stream left-joins it broadcast-side and
    * never shuffles before its final per-doc rollup, and the
    * vocabulary-sized df relation stays where it is cheap (one aggregate,
    * never broadcast, never joined against positions). The explicit
    * `lang IS NOT NULL` filter preserves the old inner joins' only
    * filtering effect (null-lang docs never reached the output). */
  def t07VocabMask(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .filter(col("lang").isNotNull)
      .selectExpr("doc_id", "lang", s"$toksExpr AS toks")
      .selectExpr("doc_id", "lang", "posexplode(toks) AS (pos, tok)")
    val langDocs = documents(s, d).groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // df from the distinct-per-doc explode: one row per (doc, token) feeds
    // a plain count — same value as countDistinct(doc_id) over the full
    // position stream, without its two-phase distinct shuffle, and the
    // exploded input is |distinct tokens| per doc instead of |positions|
    val dfreq = documents(s, d)
      .selectExpr("lang", s"explode(array_distinct($toksExpr)) AS tok")
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("df"))
    // kept = NOT(df < ratio·n_docs): the exact negation of the mask
    // predicate, same literal/decimal arithmetic as before the rewrite
    val kept = dfreq.join(langDocs, "lang")
      .filter(expr(s"NOT (df < $MaskDfRatio * n_docs)"))
      .select(col("lang"), col("tok"), lit(1L).as("keep"))
    toks
      .join(broadcast(kept), Seq("lang", "tok"), "left")
      .selectExpr("doc_id", "pos",
        "CASE WHEN keep IS NULL THEN '<unk>' ELSE tok END AS masked",
        "CASE WHEN keep IS NULL THEN 1L ELSE 0L END AS is_m")
      .groupBy("doc_id")
      .agg(
        expr("array_join(transform(sort_array(collect_list(struct(pos, masked))), x -> x.masked), ' ')")
          .as("masked_text"),
        sum(col("is_m")).as("n_masked"))
  }

  val CleanMinTokens = 30L
  val CleanMinTtr = 0.35

  /** p01: the corpus-cleaning PIPELINE — the composition a training-data
    * run actually executes, as one plan: keep only documents that are
    * (a) their dedup cluster's keeper (d07), (b) above quality thresholds
    * (t02), and (c) language-consistent (t03 heuristic agrees with the
    * label). Each stage is independently oracle-checked; this checks their
    * composition. All joins key on doc_id — co-partitioned after the first
    * shuffle; at scale the d07 keeper set is the (small) broadcast side. */
  def p01CleanCorpus(s: SparkSession, d: String): DataFrame = {
    // ONE normalization+tokenization pass feeds every signal: the corpus is
    // scanned and tokenized once (materialized), then quality, language and
    // the minhash-signature pipeline all derive from it — at 100 TB the
    // tokenize pass dominates, so running it per-signal would triple the
    // dominant cost. Expressions are identical to the standalone queries,
    // so each leg (and the composition) still matches its oracle exactly.
    val tok = normToks(s, d).localCheckpoint(true)
    val pairs = d03From(d02From(s, tok)).localCheckpoint(true)
    val keepers = clusterKeepers(s, pairs, tok.select(col("doc_id")))
    val quality = t02From(tok).select("doc_id", "n_tokens", "ttr")
    val lang = t03From(tok)
      .filter(col("pred_lang") === col("lang")).select("doc_id", "lang")
    keepers
      .join(quality, "doc_id")
      .join(lang, "doc_id")
      .filter(col("n_tokens") >= CleanMinTokens && col("ttr") >= CleanMinTtr)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ttr"))
  }

  /** p03: CURATION FUNNEL REPORT — the per-stage survivor counts every
    * pipeline run publishes (and the first thing anyone debugging a
    * data-mixture change looks at): raw → language-consistent (t03) →
    * quality-gated (t02 thresholds) → dedup keepers (d07 cluster reps) →
    * per-source quota (d14's cap applied to the survivors). Cumulative
    * by construction — each stage filters the previous one's survivors,
    * so the counts are monotonically non-increasing and any regression
    * localizes to a stage.
    *
    * Scale shape: ONE tokenize pass feeds every signal (the p01
    * discipline — at 100 TB the tokenize scan dominates); all joins
    * co-key on doc_id; the quota cut reuses the TopKPerGroup operator
    * (bounded per-source shuffle); the five stage counts are one-row
    * aggregates unioned. */
  def p03CurationFunnel(s: SparkSession, d: String): DataFrame = {
    val tok = normToks(s, d).localCheckpoint(true)
    val pairs = d03From(d02From(s, tok)).localCheckpoint(true)
    val keepers = clusterKeepers(s, pairs, tok.select(col("doc_id")))
    val quality = t02From(tok).select("doc_id", "n_tokens", "n_distinct", "ttr")
    // each stage is materialized once (r12): the five union branches below
    // are evaluated independently, so an un-checkpointed s2 would re-run
    // the t03 language vote four times (and s3 the t02 join three times).
    // The checkpoints are doc_id-narrow survivor lists — tiny by design.
    val s2 = t03From(tok).filter(col("pred_lang") === col("lang")).select("doc_id")
      .localCheckpoint(true)
    val s3 = s2.join(quality, "doc_id")
      .filter(col("n_tokens") >= CleanMinTokens && col("ttr") >= CleanMinTtr)
      .select("doc_id", "n_distinct")
      .localCheckpoint(true)
    val s4 = s3.join(keepers, "doc_id").localCheckpoint(true)
    val s5 = graft.plans.TopKPerGroup(
      s4.join(documents(s, d).select(col("doc_id"), col("source")), "doc_id"),
      Seq("source"), Seq("n_distinct" -> true, "doc_id" -> false), SourceQuota)
    def stage(n: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .selectExpr(s"CAST($n AS BIGINT) AS stage", s"'$name' AS stage_name", "n_docs")
    stage(1, "raw", documents(s, d))
      .unionByName(stage(2, "lang", s2))
      .unionByName(stage(3, "quality", s3))
      .unionByName(stage(4, "dedup", s4))
      .unionByName(stage(5, "quota", s5))
  }

  /** Bit width of the hashed token fingerprint used by d06 (512-byte
    * bitsets). Fixed width — no global vocabulary exists anywhere in the
    * plan, so the query is scale-independent of vocabulary size. */
  val HashBits = 4096

  /** d06: the PRODUCTION dedup-verify shape at scale — LSH candidate pairs
    * (d03) verified by the engine's custom Catalyst expressions:
    * `tokens_to_hashbits` builds a fixed-width hashed token fingerprint
    * (bit = first-5-hex-digits of md5(token) mod [[HashBits]] — no vocab,
    * no driver state), and the codegen'd `bitset_jaccard` runs popcount
    * AND/OR inside whole-stage codegen. The verified similarity is the
    * Jaccard of the hashed position SETS (collisions are part of the
    * definition; the oracle computes the identical function), which tracks
    * true token Jaccard to within collision noise at 512 bytes/doc.
    * Plan: candidate pairs join the fingerprint table twice on doc_id —
    * candidates, not the corpus, drive the work; every stage is
    * shuffle-bounded by the candidate count. */
  def d06BitsetJaccardExpr(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val bits = documents(s, d)
      .selectExpr("doc_id", s"array_distinct($toksExpr) AS t")
      .selectExpr("doc_id", s"tokens_to_hashbits(t, $HashBits) AS bits")
    val cand = d03MinHashPairs(s, d)
    cand
      .join(bits.selectExpr("doc_id AS a", "bits AS ab"), "a")
      .join(bits.selectExpr("doc_id AS b", "bits AS bb"), "b")
      .selectExpr("a", "b", "bitset_jaccard(ab, bb) AS jaccard")
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** d15 keep threshold on the DIRECTIONAL containment coefficient. */
  val ContainThreshold = 0.8

  /** x07's leakage-UNAWARE hash split: md5 first hex digit → 12/2/2
    * sixteenths train/val/test. String compares are engine-portable. */
  private[graft] def splitCaseSql(md5fn: String): String =
    s"""CASE WHEN substring($md5fn, 1, 1) <= 'b' THEN 'train'
       |     WHEN substring($md5fn, 1, 1) <= 'd' THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** x07: split-leakage audit — how many VERIFIED near-duplicate pairs
    * (the d06 banded candidates at Jaccard ≥ [[JaccardThreshold]])
    * straddle a hash-assigned train/val/test split. Splitting by
    * per-document hash is the common default and it leaks: near-dups of a
    * test document sit in train, inflating eval (the reason t14 splits by
    * CLUSTER key instead). This query is the audit that motivates t14 —
    * the per-(split, split) pair counts with a cross_split flag; run it
    * before shipping any hash-split release.
    *
    * Scale shape: d06's candidate-bounded pair set (never all pairs)
    * joined twice against the narrow (doc_id, split) projection, then a
    * 6-row partial-aggregated rollup — the audit costs one pass over the
    * verified pairs. */
  def x07SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val splits = documents(s, d)
      .selectExpr("doc_id",
        s"${splitCaseSql("md5(CAST(doc_id AS STRING))")} AS split")
    d06BitsetJaccardExpr(s, d)
      .join(splits.selectExpr("doc_id AS a", "split AS sa"), "a")
      .join(splits.selectExpr("doc_id AS b", "split AS sb"), "b")
      .selectExpr("least(sa, sb) AS split_lo", "greatest(sa, sb) AS split_hi")
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .selectExpr("split_lo", "split_hi", "n_pairs",
        "split_lo != split_hi AS cross_split")
  }

  /** x08 dominance: a ≥ b on every goal (longer, higher type-token ratio,
    * LESS bigram repetition) and strictly better on at least one. */
  private[queries] def skyDominates(a: SkyPoint, b: SkyPoint): Boolean =
    a.n_tokens >= b.n_tokens && a.ttr_fp >= b.ttr_fp && a.g2_max <= b.g2_max &&
      (a.n_tokens > b.n_tokens || a.ttr_fp > b.ttr_fp || a.g2_max < b.g2_max)

  /** One block-nested-loop skyline pass. Points are sorted best-first
    * (n_tokens DESC, ttr_fp DESC, g2_max ASC), under which a later point
    * can never dominate an earlier kept one — so the pass is
    * insertion-only: keep p iff no kept q dominates it. Worst case
    * O(n·|skyline|) comparisons, O(|skyline|) memory. */
  private[queries] def skylinePass(it: Iterator[SkyPoint]): Iterator[SkyPoint] = {
    val pts = it.toArray
    java.util.Arrays.sort(pts, (a: SkyPoint, b: SkyPoint) => {
      val c1 = java.lang.Long.compare(b.n_tokens, a.n_tokens)
      if (c1 != 0) c1 else {
        val c2 = java.lang.Long.compare(b.ttr_fp, a.ttr_fp)
        if (c2 != 0) c2 else java.lang.Long.compare(a.g2_max, b.g2_max)
      }
    })
    val kept = scala.collection.mutable.ArrayBuffer.empty[SkyPoint]
    pts.foreach { p => if (!kept.exists(q => skyDominates(q, p))) kept += p }
    kept.iterator
  }

  /** x08: PARETO SKYLINE selection (Börzsönyi, Kossmann, Stocker, "The
    * Skyline Operator", ICDE 2001) — the multi-criteria data-curation cut:
    * keep every document NOT dominated on all of (token count ↑,
    * type-token ratio ↑, max-bigram-repetition ↓) at once. Unlike a
    * weighted score (x04's curriculum) or per-axis quotas (d14), the
    * skyline needs no weights and returns exactly the trade-off frontier.
    * All three dims are integers (ttr as exact ⌊10⁶·nd/nt⌋ fixed point),
    * so dominance is long comparisons and the oracle (the literal
    * NOT EXISTS dominance anti-join) hash-matches bit-for-bit. The
    * skyline SET is partition-independent, so the result is deterministic
    * under any parallelism.
    *
    * Scale shape: skyline distributes because it is idempotent and
    * distributive — skyline(∪ᵢ Pᵢ) = skyline(∪ᵢ skyline(Pᵢ)). Metrics are
    * one linear tokenize + the t08-shaped per-doc bigram aggregate (all
    * partial-agged); each task then runs an insertion-only BNL pass over
    * ITS partition (sorted best-first, memory = its local frontier) and
    * only local frontiers — vanishingly small vs n for correlated
    * quality dims — cross the single repartition(1) exchange for the
    * final pass. The quadratic NOT EXISTS never touches the cluster;
    * mapPartitions is used exactly where the brief reserves it: genuine
    * per-partition imperative logic with no relational equivalent. */
  def x08ParetoSkyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = documents(s, d).selectExpr("doc_id", s"$toksExpr AS toks")
    val g2max = tok
      .selectExpr("doc_id",
        "explode(sequence(1, greatest(size(toks) - 1, 1))) AS pos", "toks")
      .selectExpr("doc_id", "array_join(slice(toks, pos, 2), ' ') AS gram")
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("g2_max"))
    val metrics = tok
      .selectExpr("doc_id",
        "CAST(size(toks) AS BIGINT) AS nt",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS nd")
      .join(g2max, "doc_id")
      .selectExpr("doc_id", "nt AS n_tokens",
        "CAST(floor(1000000.0D * (CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT) AS ttr_fp",
        "g2_max")
    metrics.as[SkyPoint]
      .mapPartitions(skylinePass)
      .repartition(1)
      .mapPartitions(skylinePass)
      .toDF()
  }

  /** d15: containment dedup — Broder's asymmetric coefficient
    * |A∩B|/|A| over the d03 LSH candidates. Union-normalized Jaccard
    * (d05/d06) misses near-SUPERSET duplication: a page that embeds a
    * whole shorter document scores J ≈ |B|/|A| (small) but containment of
    * the smaller side ≈ 1.0 — the signal behind "quote farm" and
    * boilerplate-wrapper removal (Broder 1997's resemblance vs
    * containment pair). Both directions are computed with the codegen'd
    * [[graft.plans.BitsetContain]] popcount kernel over the same
    * hashed-bitset fingerprints d06 uses, and a pair is kept when EITHER
    * direction clears [[ContainThreshold]], labeled `a_in_b` / `b_in_a` /
    * `mutual`. The division is one double op on integer popcounts, so
    * the oracle hash-matches bit-for-bit.
    *
    * Scale shape: identical to d06 — candidates come from the banded
    * equi-join (never all pairs), fingerprints attach by two co-keyed
    * broadcast-or-shuffle hash joins on doc_id, and the kernel runs
    * inside whole-stage codegen with zero extra shuffles. Empty token
    * sets are excluded before the join (containment of ∅ is undefined;
    * the kernel's 0.0 would silently pass nothing anyway). */
  def d15Containment(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val bits = documents(s, d)
      .selectExpr("doc_id", s"array_distinct($toksExpr) AS t")
      .filter(size(col("t")) > 0)
      .selectExpr("doc_id", s"tokens_to_hashbits(t, $HashBits) AS bits")
    d03MinHashPairs(s, d)
      .join(bits.selectExpr("doc_id AS a", "bits AS ab"), "a")
      .join(bits.selectExpr("doc_id AS b", "bits AS bb"), "b")
      .selectExpr("a", "b",
        "bitset_contain(ab, bb) AS c_a_in_b",
        "bitset_contain(bb, ab) AS c_b_in_a")
      .filter(col("c_a_in_b") >= ContainThreshold ||
        col("c_b_in_a") >= ContainThreshold)
      .selectExpr("a", "b", "c_a_in_b", "c_b_in_a",
        s"""CASE WHEN c_a_in_b >= $ContainThreshold AND c_b_in_a >= $ContainThreshold THEN 'mutual'
           |     WHEN c_a_in_b >= $ContainThreshold THEN 'a_in_b'
           |     ELSE 'b_in_a' END AS relation""".stripMargin)
  }

  /** Batch/stream-shared cleaning signals over any frame with
    * (doc_id, lang, text, …): ONE tokenize projection plus the t02 quality
    * and t03 language-ID expressions, preserving every other input column
    * (a streaming source keeps its event-time column for watermarking).
    * Used by [[graft.streaming.EventStreams.cleanGate]] so the streaming
    * gate filters with IDENTICAL expressions to the oracle-checked batch
    * queries — same thresholds, same argmax precedence, same arithmetic.
    * Stateless and narrow: safe in append-mode streams. */
  def cleanSignals(docs: DataFrame): DataFrame =
    docs
      .selectExpr("*", s"$toksExpr AS toks")
      .selectExpr(Seq("*", NTokensSql, NDistinctSql) ++ LangHitsSql: _*)
      .selectExpr("*", TtrSql, PredLangSql)
      .drop("toks", "n_distinct", "en_hits", "de_hits", "fr_hits", "es_hits")

  /** Batch/stream-shared PER-DOC funnel signals (r8, the p03 streaming
    * twin's stateless leg): for any frame with (doc_id, lang, source,
    * text, …) emit one narrow row per doc —
    * (doc_id, source, pass_lang, pass_quality, band0, band1) — using the
    * EXACT batch kernels: [[cleanSignals]]' quality/language expressions
    * with the p01/p03 thresholds, and d02's [[minHashHex]] kernel and
    * band SQL, so the streaming funnel's dedup components are built from
    * the SAME LSH buckets the batch d03 pair join keys on. Stateless and
    * narrow — all state lives downstream. */
  private[graft] def funnelSignals(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val flags = Seq("doc_id", "source", "pass_lang", "pass_quality")
    cleanSignals(docs)
      .selectExpr("doc_id", "source", s"$normExpr AS norm",
        "pred_lang = lang AS pass_lang",
        s"n_tokens >= $CleanMinTokens AND ttr >= $CleanMinTtr AS pass_quality")
      .as[(Long, String, String, Boolean, Boolean)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, src, norm, pl, pq) =>
          val h = minHashHex(md, norm)
          (id, src, pl, pq, h(0), h(1), h(2), h(3), h(4), h(5), h(6), h(7))
        }
      }
      .toDF(flags ++ MinHashCols: _*)
      .selectExpr(flags ++ BandsSql: _*)
  }

  /** Query terms for b01 — a fixed, broadcast-sized keyword set (real
    * deployments parameterize this; the plan shape is identical). */
  val Bm25Terms = Seq("spark", "table", "hash")

  /** One BM25 term's score over DOUBLE columns (tf$i, df$i, dl, avgdl,
    * n_docs). The fragment is TEXTUALLY identical in Spark SQL and DuckDB
    * and fully parenthesized, so both engines execute the same sequence of
    * correctly-rounded IEEE-754 double operations — bit-identical results
    * with no transcendental functions involved (see [[b01Bm25]]). k1 = 1.2,
    * b = 0.75; 2.2 = k1+1, 0.25 = 1−b are written as literals so neither
    * engine folds them differently. */
  def bm25TermSql(i: Int): String =
    s"(((n_docs - df$i) + 0.5) / (df$i + 0.5)) * " +
      s"((tf$i * 2.2) / (tf$i + (1.2 * (0.25 + ((0.75 * dl) / avgdl)))))"

  /** Sum of the per-term scores in fixed textual order — addition order is
    * pinned (no aggregation over doubles anywhere), so the result is
    * deterministic under any partitioning. */
  def bm25ScoreSql: String =
    Bm25Terms.indices.map(i => s"(${bm25TermSql(i)})").mkString("(", " + ", ")")

  /** b01: KEYWORD SEARCH scoring — BM25 over the corpus for a fixed query
    * term set, the retrieval primitive of a training-data pipeline
    * (curriculum selection, topic filtering, eval-set mining). Uses the
    * Robertson idf ODDS RATIO (N−df+0.5)/(df+0.5) rather than its
    * logarithm: every input is integer-derived and every operation is a
    * correctly-rounded double op, so the DuckDB oracle matches bit-for-bit
    * — `ln` is transcendental and NOT guaranteed identical across engines'
    * libm builds, which would make an exact-hash gate flaky. The tf
    * saturation and length normalization are standard BM25 (k1=1.2,
    * b=0.75).
    *
    * Scale shape: per-term tf is computed with `size(filter(toks, …))`
    * inside the tokenize projection — NO explode, NO per-token shuffle
    * (query terms are a constant). Corpus statistics (N, Σdl, df per term)
    * are ONE map-side-combined aggregate producing a single row, broadcast
    * back via crossJoin; scoring is then a narrow projection. Total: one
    * scalar-sized exchange for a corpus of any size — the same two-pass
    * shape s06/s07 use for model-sized state. */
  def b01Bm25(s: SparkSession, d: String): DataFrame = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(size(filter(toks, x -> x = '$t')) AS BIGINT) AS tfi$i"
    }
    val tf = documents(s, d)
      .selectExpr("doc_id", s"$toksExpr AS toks")
      .selectExpr("doc_id" +: "CAST(size(toks) AS BIGINT) AS dli" +: tfCols: _*)
    // corpus stats: all-integer aggregates (exact, order-independent)
    val dfAggs = Bm25Terms.indices.map(i =>
      sum(when(col(s"tfi$i") > 0, 1L).otherwise(0L)).as(s"dfi$i"))
    val stats = tf.agg(
      count(lit(1)).as("ni"),
      sum(col("dli")).as("sdl") +: dfAggs: _*)
    // doubles appear only HERE, in one deterministic projection
    val doubled = tf.crossJoin(broadcast(stats)).selectExpr(
      Seq("doc_id",
        "CAST(dli AS DOUBLE) AS dl",
        "CAST(ni AS DOUBLE) AS n_docs",
        "CAST(sdl AS DOUBLE) / CAST(ni AS DOUBLE) AS avgdl") ++
        Bm25Terms.indices.flatMap(i => Seq(
          s"CAST(tfi$i AS DOUBLE) AS tf$i",
          s"CAST(dfi$i AS DOUBLE) AS df$i")): _*)
    doubled.selectExpr(
      Seq("doc_id", s"$bm25ScoreSql AS bm25") ++
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          s"CAST(tf$i AS BIGINT) AS tf_$t"
        }: _*)
  }

  /** b02's exact phrase, in token order. */
  val PhraseTerms: Seq[String] = Seq("hash", "join")

  /** b02: exact PHRASE SEARCH by positional posting-list intersection —
    * the inverted-index primitive under every "quoted query" in retrieval
    * (and under keyword-gated corpus curation): a document matches at
    * anchor position p iff term_i appears at p+i for every i. Each term's
    * posting list is (doc_id, pos − i) — the subtraction aligns all legs
    * on the ANCHOR position — and the phrase occurrences are exactly the
    * n-way equi-join on (doc_id, anchor).
    *
    * Scale shape: the per-term filter happens in the tokenize projection
    * BEFORE any shuffle, so only posting-list-sized rows (term frequency,
    * not corpus size) ever move; every join and the final rollup co-key on
    * doc_id(+anchor), so one partitioning serves the whole intersection.
    * This is the distributed form of Lucene's phrase scorer: at 100 TB,
    * phrase cost scales with the RAREST term's posting list, not the
    * corpus. */
  def b02PhraseSearch(s: SparkSession, d: String): DataFrame = {
    val pos = normToks(s, d)
      .selectExpr("doc_id", "posexplode(toks) AS (p0, tok)")
      .selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS pos", "tok")
    val legs = PhraseTerms.zipWithIndex.map { case (t, i) =>
      pos.filter(col("tok") === t).selectExpr("doc_id", s"pos - $i AS mpos")
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "mpos")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("mpos").as("first_pos"))
  }

  /** d14 per-source document quota. */
  val SourceQuota = 15

  /** d14: PER-SOURCE QUOTA CURATION — cap every source at
    * [[SourceQuota]] documents, keeping the lexically RICHEST (most
    * distinct tokens, doc_id tiebreak): the domain-balancing step of
    * pretraining curation (a crawl's mega-domains would otherwise drown
    * the mixture; cf. per-domain caps in C4/RefinedWeb-style pipelines).
    * Output is the kept set with each doc's within-source rank — the
    * columns a mixture-weighting stage consumes.
    *
    * Scale shape: the richness score is a narrow projection (no
    * explode — `size(array_distinct(toks))` inside the tokenize
    * projection), and the per-source cut runs through the
    * [[graft.plans.TopKPerGroup]] custom operator — partial per-partition
    * heaps, so the shuffle carries ≤ K rows per (partition, source) and
    * NO source ever occupies a whole window partition; the rank window
    * afterwards touches ≤ K rows per source. Ordering is integer-exact
    * (count, id) — no double score whose ties could differ across
    * engines. */
  def d14SourceQuota(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = documents(s, d)
      .selectExpr("doc_id", "source",
        s"CAST(size(array_distinct($toksExpr)) AS BIGINT) AS n_distinct")
    val top = graft.plans.TopKPerGroup(scored, Seq("source"),
      Seq("n_distinct" -> true, "doc_id" -> false), SourceQuota)
    top.withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_distinct").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "source", "n_distinct", "rnk")
  }

  /** b03 query terms (unordered proximity) and token window. */
  val ProximityTerms: Seq[String] = Seq("hash", "join", "scan")
  val ProximityWindow = 12L

  /** b03: PROXIMITY SEARCH — all query terms within a [[ProximityWindow]]-
    * token window in ANY order (the `"hash join scan"~12` operator of a
    * retrieval stack; b02 is the exact-phrase special case). Per matching
    * document: the number of qualifying position combinations and the
    * tightest span — the inputs to proximity-weighted ranking
    * (Büttcher et al., CIKM'06).
    *
    * Scale shape: per-term posting lists (narrow posexplode + term
    * filter) joined CO-KEYED on doc_id — the only shuffles key on doc_id,
    * and the span predicate `greatest(...) − least(...) ≤ W` runs as the
    * hash-join residual, never a nested loop. Per-doc work is Π tf(term)
    * position combinations — the intrinsic proximity-search cost, bounded
    * by the rarest term exactly as in a postings-based engine. Integer
    * positions end-to-end. */
  def b03ProximitySearch(s: SparkSession, d: String): DataFrame = {
    val pos = normToks(s, d)
      .selectExpr("doc_id", "posexplode(toks) AS (p0, tok)")
      .selectExpr("doc_id", "CAST(p0 + 1 AS BIGINT) AS pos", "tok")
    val legs = ProximityTerms.zipWithIndex.map { case (t, i) =>
      pos.filter(col("tok") === t).selectExpr("doc_id", s"pos AS p$i")
    }
    val ps = ProximityTerms.indices.map(i => s"p$i")
    legs.reduce((a, b) => a.join(b, Seq("doc_id")))
      .selectExpr("doc_id",
        s"greatest(${ps.mkString(", ")}) - least(${ps.mkString(", ")}) AS span")
      .filter(col("span") <= ProximityWindow)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("span")).as("min_span"))
  }

  /** Merge-pair report size for t11. */
  val MergePairK = 20

  /** t11: BPE MERGE-PAIR COUNTING — frequencies of adjacent token pairs
    * over the corpus, the counting job at the heart of BPE/WordPiece
    * tokenizer training (each training iteration merges the argmax pair;
    * this emits the top-[[MergePairK]] with ranks). Distinct from t05's
    * char-trigram profile: pairs are over the TOKEN stream.
    *
    * Scale shape: the pair stream is a narrow explode (positions 1..n−1
    * via element_at — docs shorter than 2 tokens filtered on both
    * engines), and the groupBy's map-side partial aggregation means the
    * exchange moves |distinct pairs per partition| rows, not the raw
    * position stream. The global top-k is orderBy+limit (TakeOrdered — a
    * per-partition heap, no global sort); ranks over the [[MergePairK]]
    * survivors come from a triangular join on the checkpointed 20-row
    * result (rank = 1 + #rows strictly ahead in the (n DESC, pair ASC)
    * total order) — r10: no unpartitioned window anywhere, and the heavy
    * aggregate runs exactly once. */
  def t11MergePairs(s: SparkSession, d: String): DataFrame = {
    val top = documents(s, d)
      .selectExpr(s"$toksExpr AS toks")
      .filter(col("toks").isNotNull && expr("size(toks) >= 2"))
      .selectExpr("explode(sequence(1, size(toks) - 1)) AS i", "toks")
      .selectExpr("concat(element_at(toks, i), ' ', element_at(toks, i + 1)) AS pair")
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(MergePairK)
      .localCheckpoint(true)
    top.as("a")
      .join(broadcast(top.as("b")),
        col("b.n") > col("a.n") ||
          (col("b.n") === col("a.n") && col("b.pair") < col("a.pair")), "left")
      .groupBy(col("a.pair").as("pair"), col("a.n").as("n"))
      .agg((count(col("b.pair")) + 1L).as("rnk"))
  }

  /** Shard count for x03. 8 keeps the oracle's per-shard windows readable;
    * a production epoch shuffle sets shards ≈ corpus / target-partition
    * size — the decomposition below is exact for ANY shard count. */
  val ShuffleShards = 8

  /** x03: DETERMINISTIC EPOCH SHUFFLE — assign every document a
    * pseudo-random but reproducible training order: shard + position, the
    * step that turns a cleaned corpus into the read order of a training
    * run (same seed ⇒ same order, any cluster size ⇒ same order). The
    * random key is md5(doc_id); shard is its first hex digit mod
    * [[ShuffleShards]].
    *
    * Physical plan — the same two-level trick as x02's prefix sum: a naive
    * `row_number() OVER (PARTITION BY shard ORDER BY rk)` puts corpus/8 in
    * ONE window partition (a wall at 100 TB). Instead the rank is
    * decomposed by the first TWO hex digits of rk: `sub` = digits(1,2) as
    * 0..255, which is a PREFIX of the rk sort order, so
    * rank = (rows in earlier subs of the shard) + (rank within sub).
    * Within-sub windows hold ~corpus/256 rows (add digits for more
    * fan-out), and the cross-sub offsets are a ≤shards×256-row aggregate
    * broadcast back. Output is IDENTICAL to the global window — the oracle
    * verifies exactly that formulation. */
  def x03ShuffleShards(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hexDigit(i: Int) = s"(instr('0123456789abcdef', substr(rk, $i, 1)) - 1)"
    val ranked = documents(s, d)
      .selectExpr("doc_id", "md5(CAST(doc_id AS STRING)) AS rk")
      .selectExpr("doc_id", "rk",
        s"CAST(${hexDigit(1)} % $ShuffleShards AS BIGINT) AS shard",
        s"(${hexDigit(1)} * 16 + ${hexDigit(2)}) AS sub")
    val wIn = Window.partitionBy("shard", "sub").orderBy(col("rk"), col("doc_id"))
    val inSub = ranked.withColumn("r_in", row_number().over(wIn).cast("long"))
    val wOff = Window.partitionBy("shard").orderBy("sub")
    val offsets = ranked.groupBy("shard", "sub")
      .agg(count(lit(1)).as("n"))
      .withColumn("off", (sum("n").over(wOff) - col("n")).cast("long"))
      .select("shard", "sub", "off")
    inSub.join(broadcast(offsets), Seq("shard", "sub"))
      .selectExpr("doc_id", "shard", "off + r_in AS pos")
  }

  /** x04 curriculum stage thresholds (token-count terciles of the test
    * corpus; length is the canonical cheap difficulty proxy). */
  val CurriculumStage1 = 40L
  val CurriculumStage2 = 70L

  /** x04: CURRICULUM ordering — the training-order schedule that feeds
    * short/easy sequences first (Bengio et al. 2009): documents are
    * bucketed into difficulty stages by token count, and within each
    * stage ordered by the deterministic md5 rank (x03's reproducibility
    * contract: same order on any engine, no RNG). The emitted `pos` is
    * the GLOBAL curriculum position — equal to one
    * `row_number() OVER (ORDER BY stage, rk, doc_id)` — but computed by
    * THREE-level decomposition so no corpus-sized window partition ever
    * exists: within-(stage, sub) windows (256 subs per stage, bounded),
    * plus tiny (stage, sub)-count offset tables that broadcast.
    *
    * Scale shape: x03's machinery with one more offset level — every
    * window partition is ~corpus/768, the offset joins broadcast, and the
    * narrow stage projection reads only (doc_id, text-length). */
  def x04Curriculum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def hexDigit(i: Int) = s"(instr('0123456789abcdef', substr(rk, $i, 1)) - 1)"
    val staged = documents(s, d)
      .selectExpr("doc_id", s"CAST(size($toksExpr) AS BIGINT) AS n_tokens")
      .selectExpr("doc_id",
        s"""CAST(CASE WHEN n_tokens < $CurriculumStage1 THEN 0
           |          WHEN n_tokens < $CurriculumStage2 THEN 1
           |          ELSE 2 END AS BIGINT) AS stage""".stripMargin,
        "md5(CAST(doc_id AS STRING)) AS rk")
      .selectExpr("doc_id", "stage", "rk",
        s"(${hexDigit(1)} * 16 + ${hexDigit(2)}) AS sub")
    val wIn = Window.partitionBy("stage", "sub").orderBy(col("rk"), col("doc_id"))
    val inSub = staged.withColumn("r_in", row_number().over(wIn).cast("long"))
    val counts = staged.groupBy("stage", "sub").agg(count(lit(1)).as("n"))
    val wSub = Window.partitionBy("stage").orderBy("sub")
    val subOff = counts
      .withColumn("sub_off", (sum("n").over(wSub) - col("n")).cast("long"))
    // exclusive stage offsets over ≤ 3 rows: triangular join instead of an
    // unpartitioned window (r10 — see SpinePrefix's Scaladoc)
    val stageTot = counts.groupBy("stage").agg(sum("n").as("sn"))
    val stageOff = stageTot.as("a")
      .join(stageTot.as("b"), col("b.stage") < col("a.stage"), "left")
      .groupBy(col("a.stage").as("stage"))
      .agg(coalesce(sum(col("b.sn")), lit(0L)).cast("long").as("stage_off"))
    inSub
      .join(broadcast(subOff.select("stage", "sub", "sub_off")), Seq("stage", "sub"))
      .join(broadcast(stageOff), Seq("stage"))
      .selectExpr("doc_id", "stage", "stage_off + sub_off + r_in AS pos")
  }

  /** Denylist pattern for t12 — word-boundary alternation kept inside the
    * ASCII subset where Java regex and RE2 agree exactly (`\b` is the
    * ASCII word boundary in both; no classes, no backrefs). */
  val RedactPattern = "\\b(customer|vector|secret)\\b"

  /** t12: POLICY REDACTION — regex denylist masking over the corpus, the
    * compliance pass every training-data pipeline runs before a corpus
    * ships (PII patterns, forbidden terms, canary strings): every
    * denylisted term is replaced with a fixed mask token, and each doc
    * reports its mask count plus a fingerprint of the redacted text (the
    * full redacted corpus would just echo megabytes through the gate; the
    * md5 proves byte-identical redaction output).
    *
    * Scale shape: a pure narrow per-row projection — zero exchanges, the
    * regex runs inside whole-stage codegen, and the scan reads exactly
    * (doc_id, text). At 100 TB this is scan-bound by construction; the
    * identical kernel serves streaming ingest unchanged. Patterns stay in
    * the Java∩RE2 common dialect so the DuckDB oracle replays them
    * verbatim. */
  def t12TermRedact(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(RedactPattern), lit(0)))
        .cast("bigint").as("n_masked"),
      md5(regexp_replace(col("text"), RedactPattern, "[MASKED]")).as("redacted_fp"),
      length(regexp_replace(col("text"), RedactPattern, "[MASKED]"))
        .cast("bigint").as("redacted_len"))

  /** Sketch sizes for a06 — chosen so BOTH streams have ≥ 1 guaranteed
    * heavy hitter AND the sketch is genuinely lossy (k < distinct items,
    * so decrements/merge-reductions actually fire): first-char stream has
    * ~19 distinct items with the top one at ~20% > 1/(6+1); lang has 5
    * with the top at ~44% > 1/(2+1). */
  val MgCharK = 6
  val MgLangK = 2

  /** a06: HEAVY HITTERS via the native Misra-Gries aggregate
    * ([[graft.plans.MisraGriesSketch]], `mg_sketch(item, k)`) — gated the
    * a01 way: the deterministic output is the EXACT count of every
    * guaranteed heavy hitter (true count > n/(k+1)), and the live sketch
    * contributes only its two ORDER-INDEPENDENT guarantees as 0/1 flags:
    *
    *  - `present_ok`: every guaranteed heavy hitter MUST be in the
    *    k-counter summary (absent ⇒ estimate 0 < c − n/(k+1));
    *  - `est_ok`: its estimate must sit in [c − n/(k+1), c].
    *
    * Both hold for ANY merge tree (Agarwal et al. PODS'12), so the flags
    * are deterministically 1 under any partitioning even though raw
    * counter values are not; a buggy sketch flips a flag and fails
    * rows+hash. Two streams exercise the operator at different k: token
    * first-chars (k=6 over ~19 items) and document languages (k=2 over 5).
    *
    * Scale shape: the sketch is a constant k-counter map — partial
    * aggregation reduces every partition map-side and the exchange moves
    * O(k) bytes/partition ("top talkers over 100 TB with a constant-size
    * shuffle"). The exact-count leg is a uniform-key groupBy bounded by
    * the alphabet, and the sketch row broadcasts back — no corpus-sized
    * state anywhere. */
  def a06HeavyHitters(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    def gate(items: DataFrame, stream: String, k: Int): DataFrame = {
      val sk = items.agg(
        expr(s"mg_sketch(item, $k)").as("sk"), count(lit(1)).as("n"))
      items.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(sk))
        .filter(col("cnt") * (k + 1) > col("n"))
        .selectExpr(s"'$stream' AS stream", "item", "cnt", "n",
          "CAST(CASE WHEN map_contains_key(sk, item) THEN 1 ELSE 0 END AS BIGINT) AS present_ok",
          // try_element_at: under ANSI mode a sketch that dropped a
          // guaranteed heavy hitter must flip the flag to 0, not throw.
          s"""CAST(CASE WHEN try_element_at(sk, item) <= cnt
             |          AND (cnt - try_element_at(sk, item)) * ${k + 1} <= n
             |     THEN 1 ELSE 0 END AS BIGINT) AS est_ok""".stripMargin)
    }
    val docs = documents(s, d)
    // pin ONE evaluation of each stream: it feeds both the sketch
    // aggregate and the exact-count groupBy, and an un-checkpointed plan
    // would tokenize+explode the corpus once per leg (d13/a01 precedent)
    val chars = docs.selectExpr(s"explode($toksExpr) AS tok")
      .filter(col("tok") =!= "")
      .selectExpr("substring(tok, 1, 1) AS item")
      .localCheckpoint(true)
    val langs = docs.selectExpr("lang AS item").localCheckpoint(true)
    gate(chars, "ch", MgCharK).unionByName(gate(langs, "lang", MgLangK))
  }

  /** x05: TEMPERATURE-SMOOTHED SOURCE MIXING — per-source selection
    * quotas ∝ n_s^α with α = 1/2 (the up-/down-sampling rule multilingual
    * corpora use so head sources stop dominating without starving the
    * tail), realized as exact top-quota selection by deterministic hash
    * rank. Distinct from t10 (CONFIGURED per-source rates, expected
    * fraction via hash threshold) and d14 (fixed quota K per source):
    * here the quotas derive from the corpus's own source histogram, and
    * selection is an exact count, not an expectation.
    *
    * Exactness across engines: the weight is the INTEGER floor of
    * √n_s (correctly-rounded IEEE sqrt of an exactly-representable
    * count — both engines floor the same double), and the quota is pure
    * integer ceil-division ⌈target·w_s / Σw⌉ — no float sums anywhere, so
    * the strict hash gate holds at any scale.
    *
    * Scale: the source histogram is a partial-agged aggregate with one
    * row per source (collected — bounded by the source alphabet, same
    * audit class as q27's 64 hot keys); the corpus-side selection is
    * [[graft.plans.TopKPerGroup]] per-partition heaps at k = max quota —
    * the shuffle carries ≤ k rows per (partition, source), never the
    * corpus — and the rank window runs over survivors only. */
  /** Shared exact-quota member selection (x05 / x09): md5-rank prefix per
    * group, with TopKPerGroup per-partition heaps bounding the shuffle to
    * k = max quota rows per (partition, group) and the rank window running
    * over survivors only — no stratum-sized window partition. The quota
    * table is metadata-sized and driver-built (strata counts, not data). */
  private def quotaSelect(docs: DataFrame, groupCols: Seq[String],
                          quotas: Seq[(Seq[String], Long)],
                          rankName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kMax = quotas.map(_._2).max
    val quotaExpr = quotas.map { case (vals, q) =>
      val cond = groupCols.zip(vals).map { case (c, v) => s"$c = '$v'" }.mkString(" AND ")
      s"WHEN $cond THEN CAST($q AS BIGINT)"
    }.mkString("CASE ", " ", " ELSE CAST(0 AS BIGINT) END")
    val scored = docs.selectExpr(
      Seq("doc_id") ++ groupCols :+ "md5(CAST(CAST(doc_id AS STRING) AS BINARY)) AS h": _*)
    val top = graft.plans.TopKPerGroup(scored, groupCols,
      Seq("h" -> false, "doc_id" -> false), kMax.toInt)
    top.withColumn(rankName, row_number().over(
        Window.partitionBy(groupCols.map(col): _*).orderBy(col("h"), col("doc_id"))).cast("long"))
      .withColumn("quota", expr(quotaExpr))
      .filter(col(rankName) <= col("quota"))
      .select((Seq("doc_id") ++ groupCols ++ Seq(rankName, "quota")).map(col): _*)
  }

  def x05MixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"))
    val hist = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val target = hist.map(_._2).sum / 2
    val ws = hist.map { case (src, n) => (src, math.sqrt(n.toDouble).toLong) }
    val wsum = ws.map(_._2).sum
    val quotas = ws.map { case (src, w) =>
      (Seq(src), (target * w + wsum - 1) / wsum)
    }
    quotaSelect(docs, Seq("source"), quotas, "rnk")
  }

  /** x09: the eval budget denominator — budget = ⌊N / EvalDenom⌋ docs. */
  val EvalDenom = 20L

  /** x09: EVAL-SPLIT APPORTIONMENT by the LARGEST-REMAINDER method
    * (Hamilton's apportionment): size a held-out split to exactly
    * ⌊N/[[EvalDenom]]⌋ documents distributed across (source, language)
    * strata in proportion to their mass — the representative-eval-set
    * construction. Naive per-stratum rounding misses the total (floor
    * undershoots, round oscillates); Hamilton gives every stratum its
    * integer floor quota and hands the remaining seats to the largest
    * fractional remainders (ties broken on stratum key), hitting the
    * budget EXACTLY. All integer arithmetic — base = (B·n_s) div N,
    * remainder = (B·n_s) mod N — so both engines agree bit-for-bit
    * (bound: B·n_s < 2⁶³, i.e. exact past 10⁹ docs; beyond that quotas
    * come from a DECIMAL pass). Within a stratum the members are the
    * md5-rank prefix, the deterministic-sampling order t06/x05 use.
    *
    * Scale shape: the stratum histogram is one partial-agged aggregate
    * collapsing to |sources×langs| driver rows (the x05 pattern — the
    * apportionment itself is metadata-sized); selection rides
    * TopKPerGroup per-partition heaps at k = max quota, so the shuffle
    * carries ≤ k rows per (partition, stratum) and the rank window runs
    * over survivors only — no corpus-sized window partition. */
  /** Hamilton's largest-remainder apportionment (pure): distribute
    * `budget` integer seats over strata proportionally to their masses —
    * every stratum gets its floor quota and the leftover seats go to the
    * largest fractional remainders, ties broken on the stratum key.
    * Laws (property-tested in DecompositionLawsSpec): Σ quotas = budget
    * exactly, and each quota ∈ {⌊share⌋, ⌈share⌉} of the exact
    * proportional share. Bound: budget·mass < 2⁶³. */
  private[queries] def hamiltonApportion(
      strata: Seq[((String, String), Long)], budget: Long): Seq[((String, String), Long)] = {
    val n = strata.map(_._2).sum
    val based = strata.map { case (k, ns) =>
      (k, (budget * ns) / n, (budget * ns) % n)
    }
    val extra = (budget - based.map(_._2).sum).toInt
    based.sortBy { case ((src, lg), _, rem) => (-rem, src, lg) }
      .zipWithIndex
      .map { case ((k, base, _), i) => (k, base + (if (i < extra) 1L else 0L)) }
  }

  def x09EvalApportion(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("lang"))
    val strata = docs.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .sortBy(_._1).toSeq
    val n = strata.map(_._2).sum
    val budget = if (n == 0L) 0L else n / EvalDenom
    if (budget == 0L) // corpus smaller than the denominator: empty split
      return docs.limit(0).selectExpr("doc_id", "source", "lang",
        "CAST(0 AS BIGINT) AS rk", "CAST(0 AS BIGINT) AS quota")
    quotaSelect(docs, Seq("source", "lang"),
      hamiltonApportion(strata, budget).map { case ((src, lg), q) => (Seq(src, lg), q) }, "rk")
  }

  /** p04: DATASET CARD — the per-(source, language) corpus report every
    * curated-release ships (docs, token volume, per-doc length extremes,
    * quality-gate survivors at p01's thresholds, vocabulary size): the
    * numbers a consumer reads before training on the release, produced by
    * the engine that curated it rather than a side pipeline.
    *
    * Scale: one tokenize pass feeds BOTH rollups; the doc-level leg is a
    * partial-agged groupBy with one row per (source, lang); the
    * vocabulary leg is countDistinct — Spark's two-phase expansion
    * partial-aggregates (source, lang, token) before the exchange, so the
    * shuffle carries the per-partition vocabulary, not token
    * occurrences. Output is |sources|×|langs| rows. All aggregates are
    * integers; the quality predicate reuses p01's exact form. */
  def p04DatasetCard(s: SparkSession, d: String): DataFrame = {
    val perDoc = documents(s, d)
      .selectExpr("source", "lang", s"$toksExpr AS toks")
      .selectExpr("source", "lang", "toks",
        "CAST(size(toks) AS BIGINT) AS n_toks",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq")
      .localCheckpoint(true) // one tokenize pass feeds both rollups
    val base = perDoc.groupBy(col("source"), col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("total_tokens"),
      min(col("n_toks")).as("min_doc_tokens"),
      max(col("n_toks")).as("max_doc_tokens"),
      sum(when(col("n_toks") >= CleanMinTokens &&
            col("n_uniq").cast("double") / col("n_toks") >= CleanMinTtr,
          1L).otherwise(0L)).as("n_quality"))
    val vocab = perDoc.selectExpr("source", "lang", "explode(toks) AS tok")
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("lang"))
      .agg(countDistinct(col("tok")).as("vocab"))
    base.join(vocab, Seq("source", "lang"))
  }
}
