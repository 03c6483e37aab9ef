package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** The COMPOSABLE column API of the engine: every text / similarity
  * primitive the prebuilt queries use, as plain `Column` functions a user
  * can drop into their own `select`/`filter`/`groupBy` — the library
  * surface for people who want to BUILD pipelines, not run ours.
  *
  * Semantics are the oracle-checked ones: each function is the same
  * expression tree the corresponding `SparkEntry` query runs (equivalence
  * is spec-asserted against those queries), so a user-composed pipeline
  * inherits the bit-exact determinism contracts documented there. All of
  * it is built from codegen'd builtins / registered native expressions —
  * no UDFs, so user pipelines stay inside whole-stage codegen.
  *
  * The `vec*`/`bitset*`/`topK` entries need the engine's native
  * expressions registered once per session:
  * `graft.plans.GraftFunctions.register(spark)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object GraftDsl {

  // --- text normalization / tokenization ----------------------------------

  /** Canonical normalized text: lowercase, whitespace collapsed — the form
    * every fingerprint and dedup signal hashes. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normText(text), " ")

  /** BPE-ish regex token stream (letter runs / digit runs / single other
    * chars) — the t01 alternative tokenizer. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  // --- quality signals (t02) ----------------------------------------------

  def tokenCount(toks: Column): Column = size(toks).cast("long")

  def distinctTokenCount(toks: Column): Column =
    size(array_distinct(toks)).cast("long")

  /** Hits against a (tiny, literal) stopword list. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, x => x.isin(stopwords.map(s => lit(s)): _*))).cast("long")

  /** Type-token ratio — the lexical-diversity quality signal. */
  def typeTokenRatio(toks: Column): Column =
    distinctTokenCount(toks).cast("double") / tokenCount(toks)

  def stopwordRatio(toks: Column, stopwords: Seq[String] = TextQueries.StopEn): Column =
    stopwordHits(toks, stopwords).cast("double") / tokenCount(toks)

  def avgTokenLength(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
      .cast("long").cast("double") / tokenCount(toks)

  // --- language ID (t03) --------------------------------------------------

  /** Stopword-hit argmax over the four built-in language lists, fixed
    * precedence (en, de, fr, es) — identical tie-breaks to t03. */
  def langId(toks: Column): Column = {
    val en = stopwordHits(toks, TextQueries.StopEn)
    val de = stopwordHits(toks, TextQueries.StopDe)
    val fr = stopwordHits(toks, TextQueries.StopFr)
    val es = stopwordHits(toks, TextQueries.StopEs)
    when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  // --- fingerprints (t04 / d01) -------------------------------------------

  def fingerprintFull(text: Column): Column = md5(text.cast("binary"))

  def fingerprintNorm(text: Column): Column = md5(normText(text).cast("binary"))

  /** Order-independent token-BAG fingerprint — d01's dedup key. */
  def fingerprintBag(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " ").cast("binary"))

  /** Winnowing-style min-shingle fingerprint: minimum md5 over all
    * character n-gram shingles of the normalized text (final short
    * shingles included, as in t04). */
  def minShingleMd5(text: Column, n: Int = TextQueries.ShingleSize): Column = {
    val norm = normText(text)
    array_min(transform(
      sequence(lit(1), greatest(length(norm) - (n - 1), lit(1))),
      i => md5(norm.substr(i, lit(n)).cast("binary"))))
  }

  /** Per-position W-token window hashes — d11's duplicated-span
    * inventory key: element i is the md5 of the window starting at token
    * i+1. Empty array when the document is shorter than the window. */
  def spanHashes(toks: Column, w: Int = TextQueries.DupSpanW): Column =
    when(size(toks) >= w,
      transform(sequence(lit(1), size(toks) - (w - 1)),
        i => md5(array_join(slice(toks, i, lit(w)), " ").cast("binary"))))
      .otherwise(array().cast("array<string>"))

  /** Adjacent-token bigram strings (t08's 2-grams, t13's LM units). */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => array_join(slice(toks, i, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Deterministic md5 bucket in [0, buckets) — the reproducible-split
    * primitive behind t10's source mixing and t14's leakage-free
    * train/val/test assignment. Same arithmetic as the oracle's
    * strpos-hex form, so buckets agree cross-engine. */
  def hashBucket(key: Column, buckets: Int = 100): Column = {
    val h = md5(key.cast("string").cast("binary"))
    val hex4 = (1 to 4).map { i =>
      (instr(lit("0123456789abcdef"), substring(h, i, 1)) - 1) *
        lit(1 << (4 * (4 - i)))
    }.reduce(_ + _)
    (hex4 % buckets).cast("long")
  }

  // --- similarity / vectors (native expressions) --------------------------

  /** Sequential-fold dot product (codegen'd native expression — requires
    * [[graft.plans.GraftFunctions.register]]). Bit-identical to the
    * `aggregate(zip_with(...))` HOF formulation, compiled. */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def vecNorm(v: Column): Column = sqrt(vecDot(v, v))

  /** Cosine similarity with the engine's canonical operand order
    * (dot(a,b) / (norm(a) · norm(b))) — the s01–s04 scoring function. */
  def cosineSim(a: Column, b: Column): Column =
    vecDot(a, b) / (vecNorm(a) * vecNorm(b))

  /** Fixed-width hashed token fingerprint (no vocabulary, no driver
    * state) — d06's verify-side representation. */
  def tokensToHashbits(toks: Column, widthBits: Int = TextQueries.HashBits): Column =
    call_function("tokens_to_hashbits", toks, lit(widthBits))

  /** Popcount AND/OR Jaccard of two hashed-bitset fingerprints
    * (codegen'd). */
  def bitsetJaccard(a: Column, b: Column): Column =
    call_function("bitset_jaccard", a, b)

  /** Directional Broder containment |a∩b|/|a| of two hashed-bitset
    * fingerprints (codegen'd) — catches near-superset duplication that
    * union-normalized Jaccard misses. */
  def bitsetContain(a: Column, b: Column): Column =
    call_function("bitset_contain", a, b)

  // --- DataFrame-level scale helpers (r5) ---------------------------------

  import org.apache.spark.sql.DataFrame

  /** Fold `keys` (long-valued) into a serialized bloom filter with one
    * map-side-combined aggregate — the build side of the q21/d10 pattern.
    * The returned bytes are a broadcastable fixed-size pre-filter whatever
    * the key count. */
  def buildBloom(df: DataFrame, key: Column,
                 expectedKeys: Long, fpp: Double): Array[Byte] = {
    val bloom = df.select(key.as("k")).stat.bloomFilter("k", expectedKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Probe-side bloom membership — Spark's own codegen'd
    * `BloomFilterMightContain` (requires
    * [[graft.plans.GraftFunctions.register]]), NEVER a boxed UDF. False
    * positives only: follow with the exact join, never with a bare trust
    * of the filter. */
  def bloomMightContain(bloomBytes: Array[Byte], key: Column): Column =
    call_function("graft_might_contain", lit(bloomBytes), key)
}
