package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus processing —
  * engine extensions beyond the reference (whose only "function system"
  * is user PHP callables, SURVEY §2.8). Everything here is built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs — so the whole
  * text pipeline stays inside whole-stage codegen and scales linearly
  * with executors.
  *
  * Cross-engine determinism: every derived value must be reproducible by
  * the DuckDB oracle, so hashing goes through [[portableHash]] (md5-based,
  * identical in any engine with md5) rather than Spark's murmur3 `hash()`,
  * and floating-point reductions are strict left folds in array order on
  * both sides.
  */
object TextFunctions {

  /** Lower-cased alphanumeric tokens. The cross-engine contract is the
    * regex form — DuckDB side [[tokensSql]] — and the Spark
    * side evaluates it with the native byte scanner
    * [[org.apache.spark.sql.graft.AsciiTokensExpr]]: the token class is
    * pure ASCII and UTF-8 multi-byte code points never contain ASCII
    * bytes, so maximal [a-z0-9] byte runs ARE the regex matches
    * (value-identity property-pinned in ScanExpressionsSpec and
    * corpus-verified against the regex form). `lower` stays the
    * built-in so Unicode case mapping is unchanged. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.ScanExpressions.asciiTokens(lower(text))

  /** DuckDB twin of [[tokens]] over the SQL expression `textSql`. */
  private[graft] def tokensSql(textSql: String): String =
    s"regexp_extract_all(lower($textSql), '[a-z0-9]+')"

  /** BPE-ish sub-word segmentation regex: words, digits, or single
    * punctuation marks — the standard pre-tokenizer shape. */
  val bpeTokenPattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(bpeTokenPattern), lit(0))

  /** DuckDB twin of [[bpeTokens]]. */
  private[graft] def bpeTokensSql(textSql: String): String =
    s"regexp_extract_all(lower($textSql), '$bpeTokenPattern')"

  /** Deterministic 60-bit hash usable identically from any engine with
    * md5: interpret the first 15 hex chars of md5(salt ++ ":" ++ value)
    * as an unsigned integer (always fits a positive Long).
    * DuckDB equivalent: `CAST(('0x' || substr(md5(...),1,15)) AS BIGINT)`.
    *
    * Evaluated by the native codegen'd
    * [[org.apache.spark.sql.graft.PortableHashExpr]] — same value as
    * the composed `conv(substring(md5(concat(...)),1,15),16,10)` chain
    * (parity pinned in ExpressionsSpec) but digest-to-long directly,
    * with no per-row hex string. This hash underlies every
    * shingle/minhash/band/bloom/split computation. */
  def portableHash(value: Column, salt: Int): Column =
    org.apache.spark.sql.graft.VectorExpressions.phashNative(value, salt)

  /** SQL text of [[portableHash]] for DuckDB oracles. */
  def portableHashSql(valueSql: String, salt: Int): String =
    s"CAST(('0x' || substr(md5('$salt:' || $valueSql), 1, 15)) AS BIGINT)"

  /** JVM twin of [[portableHash]] — for executor-side state logic
    * (streaming sketches) and tests that must produce the SAME hash a
    * column expression would. Keep the three in lockstep. */
  def portableHashJvm(value: String, salt: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$salt:$value".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Word n-gram shingles over a token array: positions i..i+n-1 joined
    * by a single space; empty when the doc has fewer than n tokens.
    * DuckDB: `[array_to_string(t[i:i+n-1], ' ') for i in range(1, greatest(len(t)-(n-2), 1))]`.
    *
    * Spark side is the native one-pass
    * [[org.apache.spark.sql.graft.ShinglesExpr]] (r17: the interpreted
    * `transform(sequence, i -> concat_ws(' ', slice(t,i,n)))` lambda
    * chain measured 10× slower over the corpus — Catalyst HOFs evaluate
    * per element, never codegen). The coalesce preserves the old
    * when/otherwise null contract: a NULL token array yields an EMPTY
    * shingle array, not NULL. */
  def shingles(toks: Column, n: Int = 3): Column =
    coalesce(
      org.apache.spark.sql.graft.ScanExpressions.shinglesNative(toks, n),
      array().cast("array<string>"))

  /** Strict left-fold sum of a double array — matches DuckDB's
    * `list_reduce(l, (a,b) -> a+b)` bit-for-bit (same order, same type),
    * unlike engine-specific `list_sum`/pairwise summation. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two float-array embeddings, computed in double, in
    * array order. */
  def dot(a: Column, b: Column): Column =
    foldSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** Cosine similarity rounded to 6 decimals. The rounding is the
    * cross-engine contract: inputs are identical float32 parquet values
    * and both sides fold in array order, so the doubles agree exactly;
    * rounding just guards the division/sqrt boundary. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b)), 6)

  /** DuckDB SQL for [[cosine]] (same fold order, same rounding). */
  def cosineSql(a: String, b: String): String = {
    def d(x: String, y: String) =
      s"list_reduce(list_transform(range(1, len($x)+1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)), (acc, v) -> acc + v)"
    s"round(${d(a, b)} / sqrt(${d(a, a)}) / sqrt(${d(b, b)}), 6)"
  }

  /** Derived minhash family: h_i = h0 XOR (i · low32(h1)) from two base
    * [[portableHash]] values — 2 md5 evaluations instead of k, with no
    * overflow on either engine (i·low32 < 2^36). Standard
    * Carter-Wegman-style derivation; the family only needs pairwise
    * near-uniformity for minhash. DuckDB: `xor(h0, i * (h1 & 4294967295))`. */
  def minhashDerived(h0: Column, h1: Column, i: Int): Column =
    h0.bitwiseXOR(lit(i.toLong) * h1.bitwiseAND(lit(4294967295L)))

  def minhashDerivedSql(h0: String, h1: String, i: Int): String =
    s"xor($h0, $i * ($h1 & 4294967295))"

  /** Fast dot product: the native codegen'd
    * [[graft.functions.DotProductExpr]] — same strict left fold in
    * double as [[dot]] (bit-identical result, oracle parity unchanged)
    * but zero allocation per row instead of an interpreted
    * higher-order function. */
  def dotFast(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dotNative(a, b)

  /** Per-document repetition counters from a token array (native
    * codegen'd [[org.apache.spark.sql.graft.RepetitionStatsExpr]]):
    * struct(n_bg, top_bg, n_tg, n_dist_tg) in one pass — the
    * narrow-plan engine for `text_repetition`. See the expression's
    * scaladoc for the measured alternatives it replaces. */
  def repetitionStats(tokensArr: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.repetitionStatsNative(tokensArr)

  /** Unicode NFC canonicalization (native codegen'd
    * [[org.apache.spark.sql.graft.NfcNormalizeExpr]]) — run before any
    * text hashing: composed and decomposed accent sequences render
    * identically but hash differently without it. DuckDB twin:
    * `nfc_normalize`. */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.nfcNative(c)

  /** The exact-dedup text normalisation: NFC → lower → every whitespace
    * run collapsed to one space. [[normTextSql]] is its DuckDB twin. */
  private[graft] def normText(text: Column): Column =
    regexp_replace(lower(nfcNormalize(text)), "\\s+", " ")

  private[graft] def normTextSql(textSql: String): String =
    s"regexp_replace(lower(nfc_normalize($textSql)), '\\s+', ' ', 'g')"

  /** Exact-dup fingerprint: md5 of [[normText]], a 16-byte group key
    * instead of the document. [[exactFpSql]] is its DuckDB twin. */
  private[graft] def exactFp(text: Column): Column = md5(normText(text))

  private[graft] def exactFpSql(textSql: String): String =
    s"md5(${normTextSql(textSql)})"

  /** A vector's L2 norm, `sqrt(dotFast(v, v))`: the `nrm` column the
    * vector queries project once per vector for [[cosineFast]]. */
  def l2Norm(v: Column): Column = sqrt(dotFast(v, v))

  /** Cosine from precomputed norms (`nrm` = [[l2Norm]] of the vector,
    * projected once per vector before the pairwise join): identical
    * double arithmetic to [[cosine]] — dot / sqrt(na2) / sqrt(nb2) —
    * but norms are computed |V| times instead of |V|² times. */
  def cosineFast(a: Column, b: Column, aNorm: Column, bNorm: Column): Column =
    round(dotFast(a, b) / aNorm / bNorm, 6)

  /** Stopword marker lists per language for the n-gram/stopword
    * language-ID heuristic. Deliberately small and fixed: they are part
    * of the cross-engine contract (the oracle embeds the same lists). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "you"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "fr" -> Seq("le", "les", "des", "est", "dans", "pour"),
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht"))

  /** Count of tokens that appear in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words.map(lit))))

  def stopwordHitsSql(toksSql: String, words: Seq[String]): String =
    s"len(list_filter($toksSql, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Polynomial rolling hash over the token stream (mod 1e9+7): the
    * document-fingerprinting primitive. Order-sensitive, so reordered
    * text fingerprints differently while identical token streams collide
    * — exactly what a content fingerprint wants.
    * DuckDB: `list_reduce(list_prepend(0, list_transform(t, x -> h(x) % P)), (acc, x) -> (acc * 31 + x) % P)`. */
  val rollPrime = 1000000007L
  def rollingHash(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * 31 + portableHash(t, 0) % rollPrime) % rollPrime)

  def rollingHashSql(toksSql: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($toksSql, x -> ${portableHashSql("x", 0)} % $rollPrime)), (acc, x) -> (acc * 31 + x) % $rollPrime)"

  /** 32-bit SimHash aggregation columns: for bit j, the per-doc vote is
    * sum(+1 if bit j of the token hash is set else -1) over every token
    * occurrence; the simhash sets bit j when the vote is positive.
    * Returns the 32 vote aggregates; combine with [[simhashFromVotes]].
    * One hash-aggregate pass, map-side combinable — scales like a
    * groupBy count. */
  def simhashVotes(tokenHash: Column): Seq[Column] =
    (0 until 32).map { j =>
      sum(when(shiftright(tokenHash, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
        .as(s"v$j")
    }

  def simhashFromVotes(prefix: String => Column): Column =
    (0 until 32).map { j =>
      when(prefix(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}
