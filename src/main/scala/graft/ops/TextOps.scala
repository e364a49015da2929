package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting, and the
  * shingle machinery shared by the dedup family ([[Dedup]]).
  *
  * All functions are pure `Column => Column` compositions of codegen'd
  * Spark builtins — no UDFs, so whole-stage codegen survives and every
  * operator runs at scan speed on a 1000-executor cluster. Counting uses
  * integer builtins (`regexp_count`, `length`) so results are
  * bit-reproducible against any SQL engine computing the same definition.
  */
object TextOps {

  /** Canonical normalization for dedup keys: lowercase, collapse internal
    * whitespace, trim.
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), lit("\\s+"), lit(" ")))

  /** Whitespace token count = number of non-whitespace runs. Robust by
    * construction on degenerate text (empty, whitespace-only, leading or
    * trailing tabs/newlines all count 0 extra), unlike split-and-count
    * which keeps boundary fragments; equal on clean text. One
    * `regexp_count` — no token array is materialized. DuckDB twin:
    * `len(regexp_extract_all(text, '\S+'))` (Java and RE2 agree on the
    * ASCII `\S` class).
    */
  def tokenCount(c: Column): Column = regexp_count(c, lit("\\S+"))

  /** GPT-2-style pre-tokenizer pattern (simplified): contractions, letter
    * runs, digit runs, punctuation runs, whitespace runs — the standard
    * BPE pre-split. Alternation is leftmost-first in both Java regex and
    * RE2, so counts reproduce across engines.
    */
  val BpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count: matches of [[BpePattern]] (leading spaces are
    * absorbed into tokens as in GPT pre-tokenization; whitespace runs that
    * match nothing are split boundaries, not tokens).
    */
  def bpeTokenCount(c: Column): Column = countMatches(c, BpePattern)

  /** Array of whitespace tokens of the normalized text. */
  def tokens(c: Column): Column =
    filter(split(normText(c), " "), t => length(t) > 0)

  /** JVM twin of [[tokens]] for the mapPartitions kernels — every step
    * mirrors the Column path bit-for-bit: UTF8String lowercase (the
    * Lower expression's locale-free path, NOT String.toLowerCase),
    * java.regex `\s+` collapse (what RegExpReplace runs), and a
    * space-only trim (StringTrim trims ' ' alone; String.trim would
    * also strip non-\s control chars and diverge). Null-safe: null maps
    * to no tokens, like the Column chain's null propagation + filter.
    */
  def tokensJvm(text: String): Array[String] = {
    if (text == null) return Array.empty
    val norm0 = org.apache.spark.unsafe.types.UTF8String
      .fromString(text).toLowerCase.toString.replaceAll("\\s+", " ")
    var b = 0; var e = norm0.length
    while (b < e && norm0.charAt(b) == ' ') b += 1
    while (e > b && norm0.charAt(e - 1) == ' ') e -= 1
    if (e == b) Array.empty else norm0.substring(b, e).split(" ")
  }

  /** Sliding-window token chunks — the RAG/embedding prep step: each
    * document splits into windows of `chunkTokens` tokens advancing by
    * `chunkTokens − overlapTokens`, the last window clamped to the tail
    * so no token is dropped. Returns one row per chunk: (idCol,
    * chunk_id, start_token, n_chunk_tokens, chunk_text); empty documents
    * produce no chunks.
    *
    * Pure per-row explode (tokenize once, integer window arithmetic) —
    * no shuffle; chunk identity is (doc, chunk_id), deterministic on any
    * partitioning.
    */
  def chunkDocs(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, overlapTokens: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = col("__toks")
    val n = size(toks)
    // last window index: ceil((n - chunk) / stride) in exact int math
    // (floor-of-division via floor+cast — Spark's `/` on ints is double)
    val kMax = floor((greatest(lit(0), n - chunkTokens) + (stride - 1))
      .cast("double") / stride).cast("int")
    val starts = sequence(lit(0), kMax * stride, lit(stride))
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .where(size(toks) > 0)
      .select(col(idCol), toks,
        posexplode(starts).as(Seq("chunk_id", "start_token")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("start_token").cast("long").as("start_token"),
        least(lit(chunkTokens), size(toks) - col("start_token"))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(toks, col("start_token") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Distinct xxhash64'd char-n-gram set (first-occurrence order) — the
    * near-dup edge pipelines' set representation, built by the native
    * one-pass `tri_hashes` kernel ([[graft.plans.TriHashes]]): zero
    * per-gram string allocation, measured 5x faster than the
    * `array_distinct(transform(charNgrams, xxhash64))` spelling at sf0.1,
    * and bit-identical to it (spec-pinned in OpsSpec). Null/short text
    * → empty array.
    */
  def hashedNgramSet(c: Column, n: Int): Column =
    call_function("tri_hashes", c, lit(n))

  /** Fraction of tokens taken by the single most frequent token — the
    * Gopher-style "repetition" signal catching `spam spam spam…` pages.
    * Computed per row over the token array (distinct × occurrences scan;
    * O(d·n) per doc but pure codegen — no explode, no shuffle), so it
    * runs at scan speed like the other quality signals. 0 for empty text.
    */
  def topTokenFrac(c: Column): Column = topTokenFracOf(tokens(c))

  /** [[topTokenFrac]] over a pre-materialized token ARRAY column — pass
    * an attribute (`tokens(text).as("__toks")` in its own projection)
    * so nothing re-tokenizes: columns captured in a higher-order-
    * function body re-run per element (Catalyst does CSE in codegen'd
    * projects but never inside HOF lambdas — the round-8 lshIndexRows
    * lesson). The computation itself is a max-run scan over the SORTED
    * array: one sort + one linear aggregate with no captured columns at
    * all, O(n log n) per row — the naive
    * `transform(array_distinct(t), x => size(filter(t, …)))` is
    * O(n·distinct) per row, ~10⁷ ops/doc at web-doc lengths (10⁴
    * tokens). Same value exactly.
    */
  def topTokenFracOf(toks: Column): Column = {
    val best = aggregate(array_sort(toks),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(run, acc.getField("best")).as("best"))
      },
      acc => acc.getField("best"))
    when(size(toks) === 0, lit(0.0)).otherwise(
      best.cast("double") / size(toks))
  }

  /** Fraction of word bigrams that are repeats of an earlier bigram
    * (1 − distinct/total) — Gopher's duplicate-n-gram fraction at n=2.
    * 0 for docs with fewer than two bigrams.
    */
  def dupBigramFrac(c: Column): Column = dupBigramFracOf(bigramsOf(tokens(c)))

  /** Strict word bigrams from a pre-materialized token array — pass an
    * attribute so the lambda's capture re-reads a row value instead of
    * re-running the tokenizer per element. Empty (not whole-doc) for
    * docs under 2 tokens — INCLUDING a null array: the oracle twin's
    * `CASE WHEN len(toks) >= 2 … ELSE []` sends NULL through its ELSE,
    * so the engine collapses null the same way (adversarial-fixture
    * sweep pinned; text is non-null post-quarantine anyway).
    */
  def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1),
          element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** [[dupBigramFrac]] over a pre-materialized bigram ARRAY column
    * (from [[bigramsOf]] in its own projection): 1 − distinct/total,
    * single `array_distinct` over the attribute, no recompute.
    */
  def dupBigramFracOf(bg: Column): Column =
    when(size(bg) <= 1, lit(0.0)).otherwise(
      (size(bg) - size(array_distinct(bg))).cast("double") / size(bg))

  /** Strict word w-shingles: exact w-token windows only — empty for docs
    * with fewer than w tokens (unlike [[wordShingles]], which falls back
    * to one whole-doc shingle so short docs still dedup).
    */
  def strictWordShingles(c: Column, w: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
      .otherwise(array())
  }

  /** Array of word w-shingles: space-joined runs of w consecutive tokens. */
  def wordShingles(c: Column, w: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
      .otherwise(when(size(toks) > 0, array(concat_ws(" ", toks)))
        .otherwise(array()))
  }

  // ----------------------------------------------------------- quality

  /** Count of regex matches (codegen'd builtin). */
  def countMatches(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern))

  // ratios are null (not an ANSI divide-by-zero error) on empty text
  def punctRatio(c: Column): Column =
    countMatches(c, "[.,;:!?]").cast("double") / nullif(length(c), lit(0))

  def digitRatio(c: Column): Column =
    countMatches(c, "[0-9]").cast("double") / nullif(length(c), lit(0))

  def spaceRatio(c: Column): Column =
    countMatches(c, " ").cast("double") / nullif(length(c), lit(0))

  /** Mean token length = non-space chars / tokens (null on empty text). */
  def avgWordLen(c: Column): Column =
    length(regexp_replace(c, lit("\\s+"), lit(""))).cast("double") /
      nullif(tokenCount(c), lit(0)).cast("double")

  val EnStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "is", "a", "that", "it", "for")

  /** Whole-word stopword hits, counted as lowercase ASCII-letter runs
    * (`[a-z]+`) equal to a listed word. Deliberately NOT `\b(word)\b`:
    * Java's `\b` is Unicode-aware (combining marks and accented letters
    * are word chars) while RE2's is ASCII, so the two engines disagree on
    * NFD/accented text — e.g. RE2 finds `de` inside NFD "déjà" and Java
    * does not. Explicit character classes behave identically in both, so
    * this definition replays exactly in any RE2/PCRE/Java engine.
    */
  def stopwordCount(c: Column, words: Seq[String] = EnStopwords): Column =
    size(filter(regexp_extract_all(lower(c), lit("[a-z]+"), lit(0)),
      t => t.isin(words: _*)))

  def stopwordRatio(c: Column, words: Seq[String] = EnStopwords): Column =
    stopwordCount(c, words).cast("double") /
      nullif(tokenCount(c), lit(0)).cast("double")

  /** Composite quality score in [0,1]-ish: rewards stopword presence and
    * moderate word length, penalizes punctuation/digit noise. A linear,
    * fully deterministic definition (documented so oracles can mirror it).
    */
  def qualityScore(c: Column): Column =
    lit(0.4) * least(stopwordRatio(c) * 4, lit(1.0)) +
      lit(0.3) * least(avgWordLen(c) / 8, lit(1.0)) +
      lit(0.3) - lit(0.5) * punctRatio(c) - lit(0.5) * digitRatio(c)

  // ----------------------------------------------------------- language ID

  /** Stopword profiles for the n-gram/stopword language heuristic. Order is
    * the tie-break priority.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "una"),
    "fr" -> Seq("le", "la", "les", "des", "et", "une", "est", "dans"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"))

  /** Heuristic language ID: per-language whole-word stopword counts,
    * argmax with earlier-profile priority; all-zero → "und".
    */
  def langId(c: Column): Column = {
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> stopwordCount(c, words)
    }
    val allZero = scores.map(_._2 === 0).reduce(_ && _)
    val argmax = scores.zipWithIndex.foldRight(lit("und") /* never hit */) {
      case (((lang, score), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        if (laterScores.isEmpty) lit(lang)
        else when(laterScores.map(score >= _).reduce(_ && _), lit(lang))
          .otherwise(elseCol)
    }
    when(allZero, lit("und")).otherwise(argmax)
  }

  // ----------------------------------------------------------- PII scrubbing

  /** PII patterns, written in the regex subset common to Java regex and
    * RE2 (no lookaround, ASCII \b) so DuckDB oracles reproduce the scrub
    * byte-for-byte.
    */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe: String   = "https?://[^\\s]+"
  val PhoneRe: String = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Replace URLs, then emails, then phone numbers with typed placeholder
    * tokens — the standard C4/web-corpus redaction pass. URL replacement
    * runs first so an address inside a URL is consumed as part of it.
    * Pure codegen'd regexp_replace chain; runs at scan speed.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, lit(UrlRe), lit("<URL>")),
        lit(EmailRe), lit("<EMAIL>")),
      lit(PhoneRe), lit("<PHONE>"))

  def emailCount(c: Column): Column = countMatches(c, EmailRe)
  def urlCount(c: Column): Column   = countMatches(c, UrlRe)
  def phoneCount(c: Column): Column = countMatches(c, PhoneRe)

  /** All URLs in the text as an array ([[UrlRe]] matches). */
  def extractUrls(c: Column): Column =
    regexp_extract_all(c, lit(UrlRe), lit(0))

  /** Registrable host of a URL, lowercased: the authority with any
    * userinfo/port stripped (`https://A.b.C:8080/x` → `a.b.c`). One
    * capture-group regexp in the Java-regex/RE2 common subset, so any
    * engine reproduces the parse; empty string for non-URLs.
    */
  def urlDomain(url: Column): Column =
    lower(regexp_extract(url,
      "^https?://(?:[^/@\\s]*@)?([^/:\\s?#]+)", 1))

  /** Per-document domain rows (idCol, domain) — one row per URL
    * occurrence — feeding per-domain frequency caps and source-mix
    * stats (the FineWeb/C4 per-domain pass: a single spam domain must
    * not dominate the corpus). One explode, then whatever aggregation
    * the policy needs; no other shuffle.
    */
  def domainRows(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(extractUrls(col(textCol))).as("__u"))
      .select(col(idCol), urlDomain(col("__u")).as("domain"))
      .where(col("domain") =!= "")

  /** Tracking parameters a crawl canonicalizer strips before URL-level
    * dedup (analytics/click-id noise: the same page arrives under
    * thousands of distinct utm/fbclid decorations). The alternation and
    * trailing `&?` keep separators consistent after removal; RE2/Java
    * common subset.
    */
  val TrackingParamRe: String =
    "(?:utm_[a-z]+|fbclid|gclid|msclkid)=[^&#\\s]*&?"

  /** Canonical URL — the dedup key of URL-level crawl dedup. Explicit,
    * documented rule set (each a replayable regex step, no backreference
    * replacements — Java spells them `$1`, RE2 `\\1`, so the rebuild
    * avoids them entirely): lowercase scheme and host; strip userinfo,
    * `www.`, default ports (80/http, 443/https), fragments, tracking
    * params ([[TrackingParamRe]]), dangling `?`/`&` left by the strip,
    * and one trailing slash. `https://user@WWW.Example.com:443/a/?utm_source=x#f`
    * → `https://example.com/a`. Per-row expression chain — codegen'd,
    * no shuffle; feed the result to [[graft.ops.Dedup.exact]] for the
    * crawl-frontier dedup pass.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^(https?)://", 1))
    val host = regexp_replace(urlDomain(url), lit("^www\\."), lit(""))
    val port = regexp_extract(url,
      "^https?://(?:[^/@\\s]*@)?[^/:\\s?#]+:([0-9]+)", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rest0 = regexp_extract(url, "^https?://[^/\\s?#]*([^\\s#]*)", 1)
    val rest1 = regexp_replace(rest0, lit(TrackingParamRe), lit(""))
    val rest2 = regexp_replace(rest1, lit("[?&]+$"), lit(""))
    val rest3 = regexp_replace(rest2, lit("\\?&"), lit("?"))
    val rest = regexp_replace(rest3, lit("/$"), lit(""))
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")), rest)
  }

  // ----------------------------------------------------------- cleanup

  /** ASCII control characters (minus \t \n \r) plus DEL — the bytes a
    * web-corpus cleanup strips. Written with \x escapes valid in both
    * Java regex and RE2, so oracles reproduce the strip exactly.
    */
  val ControlCharRe: String = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

  /** Web-corpus text canonicalization: strip control characters, then
    * Unicode-NFC-normalize (composed/decomposed accents become
    * identical — required before any hash-based dedup/fingerprint sees
    * the text). The NFC step is the native [[graft.plans.NfcNormalize]]
    * expression and needs [[graft.plans.GraftExtensions]] installed;
    * everything stays inside whole-stage codegen.
    */
  def cleanText(c: Column): Column =
    call_function("nfc_normalize",
      regexp_replace(c, lit(ControlCharRe), lit("")))

  // ------------------------------------------------------ C4 line rules

  /** Terminal-punctuation line gate (C4 rule 1): the line must end in
    * `.`, `!`, `?` or a closing quote, trailing whitespace allowed.
    */
  private val TerminalPunctRe = "[.!?\"]\\s*$"

  /** Whitespace-token count of a line, 0 for blank — the shared word
    * meter of the line rules (regexp `\S+` count, the same token
    * definition as [[tokenCount]]).
    */
  private def lineWords(l: Column): Column =
    when(trim(l) === "", lit(0)).otherwise(size(split(trim(l), "\\s+")))

  /** C4-style line- and document-level cleaning (Raffel et al. 2020,
    * the `en.noclean` → `en` pass; reference corpus hygiene the
    * reference engine has no counterpart for). Line rules — a line
    * survives iff it (a) ends in terminal punctuation, (b) carries at
    * least `minWordsPerLine` whitespace tokens, and (c) does not
    * mention "javascript" (the enable-JS boilerplate tell). Document
    * rules on top: any "lorem ipsum" or a `{` anywhere in the RAW text
    * kills the page (placeholder and code tells), and fewer than
    * `minLines` surviving lines kills it too (the ≥3-sentence rule).
    *
    * Everything is per-row array/regex arithmetic — `split`, a
    * `filter` lambda of regex gates, `array_join` — inside whole-stage
    * codegen with NO shuffle and no UDF: the 100 TB shape is a map-only
    * scan. Returns (idCol, n_lines, n_kept, keep_doc, cleaned) where
    * `cleaned` is the surviving lines rejoined with `\n` (empty string
    * when nothing survives; the doc gate, not the text, decides
    * downstream fate).
    */
  def c4LineFilter(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWordsPerLine: Int = 5,
      minLines: Int = 3): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val kept = filter(lines, l =>
      l.rlike(TerminalPunctRe) &&
      lineWords(l) >= minWordsPerLine &&
      !lower(l).contains("javascript"))
    df.select(col(idCol), lines.as("__lines"), kept.as("__kept"), t)
      .select(col(idCol),
        size(col("__lines")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__kept")) >= minLines &&
          !lower(t).contains("lorem ipsum") &&
          !t.contains("{")).as("keep_doc"),
        array_join(col("__kept"), "\n").as("cleaned"))
  }

  // ----------------------------------------------------------- fingerprints

  /** 64-bit content hash of the normalized text (xxhash64) — the INTERNAL
    * equality key for dedup/streaming screens, where 64 bits keeps the
    * birthday-collision rate negligible at corpus scale. Engine-specific;
    * for the cross-engine-reproducible fingerprint use
    * [[contentFingerprint]].
    */
  def contentHash(c: Column): Column = xxhash64(normText(c))

  /** Cross-engine-reproducible content fingerprint: md5-prefix of the
    * normalized text ([[Sampling.md5Prefix32]] — a native fused
    * expression equal to the md5/substr/conv arithmetic any engine can
    * replay). Use when the fingerprint value itself is the contract
    * (manifests, snapshots, oracles), [[contentHash]] when only equality
    * inside one engine matters.
    */
  def contentFingerprint(c: Column): Column =
    Sampling.md5Prefix32(normText(c))

  /** Winnowing-style document fingerprint: the minimum hash over the
    * k-gram shingles of the normalized text (one value per doc, stable
    * under local edits elsewhere in the doc). Hashes each shingle with
    * [[Sampling.md5Prefix32]] so the value is engine-independent —
    * fingerprint files written today must verify on any engine tomorrow.
    *
    * The native one-pass `min_shingle_fp` kernel
    * ([[graft.plans.MinShingleFp]]): the declarative
    * `array_min(transform(charNgrams, md5Prefix32))` spelling
    * materializes a per-row array of EVERY k-char shingle (O(chars)
    * strings) plus one expression-level md5 per position before reducing
    * to a single long — q30's 25.4 s noop-sink outlier (r14 verdict).
    * Both are bit-identical (spec-pinned on random Unicode in OpsSpec).
    */
  def minShingleFingerprint(c: Column, k: Int = 8): Column =
    call_function("min_shingle_fp", normText(c), lit(k))

  // --------------------------------------------------- compression ratio

  /** Per-document deflate compression ratio (compressed bytes / UTF-8
    * bytes): the classic repetitiveness proxy the heuristic signals
    * ([[qualityScore]], repetition fractions) approximate — machine
    * text, keyword stuffing, and boilerplate compress far below prose.
    * Adds `compression_ratio` (null for empty text).
    *
    * This is the one operator here that genuinely needs per-row JVM
    * library code (java.util.zip), so it uses the [[Multimodal]]
    * mapPartitions shape: one Deflater per PARTITION (allocation and
    * dictionary reset per row, not per object), zero shuffle, linear in
    * corpus bytes. Deterministic for a fixed deflate level; there is no
    * cross-engine oracle (zlib versions differ), so correctness pins
    * live in the spec.
    */
  def withCompressionRatio(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, level: Int = 6): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Option[Long], String)]
    in.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(level)
      val buf = new Array[Byte](1 << 16)
      it.map { case (id, text) =>
        val raw = (if (text == null) "" else text).getBytes("UTF-8")
        val ratio = if (raw.isEmpty) None else {
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          Some(n.toDouble / raw.length)
        }
        (id, ratio)
      }
    }.toDF(idCol, "compression_ratio")
  }

  // ------------------------------------------------------- length profile

  /** Per-group document-length profile: doc/token totals plus EXACT
    * inverse-CDF percentiles of the whitespace token count (type-1 /
    * `quantile_disc` semantics: the smallest length whose cumulative
    * count reaches ⌈p·n⌉) — the corpus observability panel (did this
    * source's length distribution shift between crawls?).
    *
    * Exact percentiles normally need a per-group sort of all rows;
    * here the values are token COUNTS, so the corpus first collapses to
    * a bounded (group, length) histogram with map-side partials — one
    * shuffle — and the percentile reads off a running sum over that
    * small histogram. Distributed-exact at any corpus size (the
    * histogram is bounded by the distinct lengths, not the row count),
    * and integer arithmetic end to end, so any engine reproduces it.
    *
    * Output: (groupCol, n_docs, n_tokens, p&lt;...&gt; per requested
    * percentile — e.g. p50, p90, p99).
    */
  def lengthProfile(df: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, ps: Seq[Double] = Seq(0.5, 0.9, 0.99))
      : org.apache.spark.sql.DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "percentiles must be in (0, 1]")
    val h = df
      .select(col(groupCol), tokenCount(col(textCol)).cast("long").as("__len"))
      .groupBy(groupCol, "__len").agg(count(lit(1)).as("__c"))
    val grp = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val cum = h
      .withColumn("__cum", sum("__c").over(grp.orderBy("__len")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("__n", sum("__c").over(grp))
    val pCols = ps.map { p =>
      min(when(col("__cum") >= ceil(lit(p) * col("__n")), col("__len")))
        .as(s"p${math.round(p * 100)}")
    }
    val aggs = Seq(sum("__c").as("n_docs"),
      sum(col("__len") * col("__c")).as("n_tokens")) ++ pCols
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Unicode-script BMP ranges for the script-mix profile — the
    * writing-system histogram that complements the stopword-list
    * language ID ([[langId]]): language ID tells you WHICH language the
    * Latin text is; the script histogram is how a crawl triages
    * non-Latin content (CJK/Cyrillic/Arabic shares per slice), catches
    * mixed-script spam, and routes script-specific tokenizers. Each
    * pattern is one explicit BMP codepoint range — `\\x{…}` hex escapes
    * mean the same characters in Java regex and RE2, unlike script
    * property classes (`\\p{IsCyrillic}` vs `\\p{Cyrillic}`), so every
    * per-character count replays on any engine.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]")

  /** One `<name>_chars` long count per [[ScriptRanges]] entry — plain
    * `regexp_count` columns (codegen'd, per-row, no shuffle).
    */
  def scriptCounts(text: Column): Seq[Column] =
    ScriptRanges.map { case (n, p) =>
      countMatches(text, p).cast("long").as(s"${n}_chars")
    }

  /** Token-positional phrase search: documents containing the exact
    * token sequence `phrase`, with per-doc occurrence counts — the
    * positional-inverted-index query shape, as equi-joins. Postings
    * (doc, pos) are built per phrase term with the term filter applied
    * BEFORE any exchange, so each join shuffles only the matching
    * terms' postings — corpus-size-independent for selective phrases.
    * Joining term k on (doc, pos − k) keeps every step an equi-join;
    * overlapping occurrences count naturally (one row per start
    * position). Whitespace tokenization (`split(' ')`), positions
    * 0-based.
    */
  def phraseOccurrences(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrase: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val toks = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), " ")).as(Seq("__pos", "__tok")))
    val starts = phrase.zipWithIndex.map { case (term, k) =>
      toks.where(col("__tok") === term)
        .select(col("__id"), (col("__pos") - k).as("__start"))
    }.reduce((a, b) => a.join(b, Seq("__id", "__start")))
    starts.groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
  }
}
