package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue

/** Text-analysis primitives for a training-data pipeline: normalization,
  * tokenization, language scoring, quality scoring, fingerprinting.
  *
  * All pure codegen'd built-ins — per-row narrow transforms that scale
  * embarrassingly. Every function here is written to be bit-identical to a
  * portable SQL formulation (see SparkEntry oracles) so correctness is
  * oracle-checkable.
  */
object TextOps {

  /** Lowercase, strip non-alphanumerics to spaces, collapse runs, trim —
    * the canonical normalization before tokenizing/fingerprinting. One
    * native byte-walk ([[graft.expressions.NormalizeText]], r17) replacing
    * the two-regex chain that fronted every tokenize-bearing query;
    * [[normalizeRef]] keeps the built-in chain as the parity reference
    * (NormalizeTextSpec pins kernel ≡ chain). */
  def normalize(text: Column): Column =
    // Direct expression construction (not call_function) so the operator
    // works in sessions that never registered GraftExtensions (r18 advice
    // fix — the SQL name stays registered for oracle/SQL use).
    ColumnGlue.column(graft.expressions.NormalizeText(ColumnGlue.expression(text)))

  /** The built-in reference form of [[normalize]] (spec cross-check only). */
  private[ops] def normalizeRef(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** Whitespace tokens of the normalized text — fused native walk
    * ([[graft.expressions.TokensNorm]]; ≡ `split(normalize(text), " ")`,
    * parity spec-pinned, incl. the `[""]`-on-empty invariant). */
  def tokens(text: Column): Column =
    ColumnGlue.column(graft.expressions.TokensNorm(ColumnGlue.expression(text)))

  /** The built-in reference form of [[tokens]] (spec cross-check only). */
  private[ops] def tokensRef(text: Column): Column = split(normalizeRef(text), " ")

  /** Per-document n-gram count pre-aggregation — `array<struct<s, c>>` of
    * (gram, within-doc count), one JVM pass per row
    * ([[graft.expressions.GramCounts]]). `mode` bit set: 1 = unigrams,
    * 2 = adjacent space-joined bigrams, 3 = both (disjoint by
    * `contains(' ')`). Null/empty tokens are skipped, so the empty-doc
    * `[""]` tokenizer case maps to an empty array and the usual
    * `element_at(_toks, 1) =!= ""` guard is subsumed. */
  def gramCounts(toks: Column, mode: Int): Column =
    ColumnGlue.column(graft.expressions.GramCounts(
      ColumnGlue.expression(toks), ColumnGlue.expression(lit(mode))))

  /** Per-document SLIDING width-token span pre-aggregation —
    * `array<struct<s, c>>` of (span, within-doc count), one JVM pass per
    * row ([[graft.expressions.SpanCounts]]; the gram_counts lever at
    * width N, r20). */
  def spanCounts(toks: Column, width: Int): Column =
    ColumnGlue.column(graft.expressions.SpanCounts(
      ColumnGlue.expression(toks), ColumnGlue.expression(lit(width))))

  /** Per-document SLIDING width-token span grouping with POSITIONS —
    * `array<struct<s, x>>` of (span, ascending start list)
    * ([[graft.expressions.SpanGroups]]; span-removal's keeper/mask
    * producer). */
  def spanGroups(toks: Column, width: Int): Column =
    ColumnGlue.column(graft.expressions.SpanGroups(
      ColumnGlue.expression(toks), ColumnGlue.expression(lit(width))))

  /** Per-document ALIGNED width-token segment grouping —
    * `array<struct<s, x>>` of (segment, ascending seg_idx list), one JVM
    * pass per row ([[graft.expressions.SegGroups]]). */
  def segGroups(toks: Column, width: Int): Column =
    ColumnGlue.column(graft.expressions.SegGroups(
      ColumnGlue.expression(toks), ColumnGlue.expression(lit(width))))

  /** Punctuation-char count of the RAW text — native byte walk
    * ([[graft.expressions.PunctCount]]; ≡ [[punctCountRef]], spec-pinned).
    * The last regex in the quality-feature hot path (r17 residual b). */
  def punctCount(text: Column): Column =
    ColumnGlue.column(graft.expressions.PunctCount(ColumnGlue.expression(text)))

  /** The regex reference form of [[punctCount]] (spec cross-check only). */
  private[ops] def punctCountRef(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))

  /** Token count (whitespace) — the cheap length signal. */
  def tokenCount(text: Column): Column =
    when(length(normalize(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword estimate: ~1 token per 4 chars, floor 1 per word —
    * the standard heuristic when no tokenizer is shipped. */
  def approxBpeCount(text: Column): Column =
    greatest(tokenCount(text), ceil(length(text) / 4.0).cast("long"))

  /** Stopword ratio against a fixed list (quality signal). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))

  /** Materialize `_norm` (normalized text) and `_toks` (token array) as
    * ATTRIBUTES via two single-row Generate barriers. Every multi-feature
    * consumer must go through this: CollapseProject re-inlines a shared
    * normalize/tokenize projection into each consuming expression, so the
    * two-regex chain would otherwise run once PER FEATURE per row
    * (measured ~4× the steady-state cost of llm_quality). */
  def withNormToks(df: DataFrame, textCol: String): DataFrame =
    df.select(col("*"), explode(array(normalize(col(textCol)))).as("_norm"))
      // tokens_norm on already-normalized text ≡ split(_norm, " ") (runs of
      // [a-z0-9] separated by single spaces; "" → [""]) without the regex
      // split's per-token Pattern machinery.
      .select(col("*"), explode(array(tokens(col("_norm")))).as("_toks"))

  /** Quality features: chars, words, mean word length, punctuation ratio,
    * stopword ratio — the length/punct/stopword heuristics of C4-style
    * cleaning, one narrow pass over materialized norm/tokens. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val based = withNormToks(df, textCol)
    val toks = when(length(col("_norm")) === 0, 0).otherwise(size(col("_toks")))
    val punct = punctCount(t)
    based.withColumn("n_chars_m", length(t))
      .withColumn("n_words", toks)
      .withColumn("punct_chars", punct)
      .withColumn("stop_words", size(filter(col("_toks"), x => x.isin(Stopwords: _*))))
      .withColumn("mean_word_len",
        when(toks > 0, (length(col("_norm")) - toks + 1).cast("double") / toks))
      .withColumn("stop_ratio",
        when(toks > 0, col("stop_words").cast("double") / toks))
      .drop("_norm", "_toks")
  }

  /** Language ID by stopword-hit scoring across per-language marker lists —
    * the classic n-gram-free heuristic; argmax with a fixed tie-break
    * (alphabetical) for determinism. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "wo", "zai"))

  /** Per-language scores over an already-materialized token array (see
    * [[withNormToks]]) — the text-based overload re-tokenizes once per
    * language. */
  def langScoresFromToks(toks: Column): Seq[(String, Column)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      // native probe (r20): one JVM loop + binary search per (row, lang)
      // vs |langs| interpreted HOF passes over every token array — the
      // markers are ASCII so Ordering.String == UTF8 binary order, the
      // order the kernel's search needs. Occurrence-count semantics are
      // identical to the old size(filter(toks, isin(words))) form
      // (spec-pinned in NormalizeTextSpec).
      lang -> ColumnGlue.column(graft.expressions.CountInSortedStr(
        ColumnGlue.expression(toks),
        Literal.create(words.sorted.toArray,
          ArrayType(StringType, containsNull = false))))
    }
  }

  /** The HOF reference form of [[langScoresFromToks]] (spec cross-check). */
  private[ops] def langScoresFromToksRef(toks: Column): Seq[(String, Column)] =
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresFromToks(tokens(text))

  def predictedLangFromToks(toks: Column): Column = {
    val scores = langScoresFromToks(toks)
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    getFieldAs(greatest(best: _*), "l")
  }

  def predictedLang(text: Column): Column = {
    val scores = langScores(text)
    // argmax by (score, then reverse-alphabetical preference): compare via
    // a sortable struct so ties break deterministically toward 'en' … 'zh'.
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
    // greatest() on structs compares field-by-field; score first, then the
    // lexicographically LARGEST language wins ties — fixed and documented.
    getFieldAs(greatest(best: _*), "l")
  }

  private def getFieldAs(c: Column, f: String): Column = c.getField(f)

  /** Document fingerprint: first 16 hex chars of sha256 over the normalized
    * text — the exact-near-canonical-dup key (rolling-hash analog that is
    * portable across engines). */
  def fingerprint(text: Column): Column =
    substring(sha2(normalize(text), 256), 1, 16)

  /** Zero-width characters a web corpus carries invisibly (ZWSP, ZWNJ,
    * ZWJ, BOM) — stripped by [[unicodeClean]] before NFC composition. */
  val ZeroWidthPattern: String = "[​‌‍﻿]"

  /** Unicode hygiene — the pass that MUST precede any hash/dedup stage on
    * real web text: strip zero-width characters, then NFC-compose (the
    * same logical text in composed vs decomposed form would otherwise
    * carry two fingerprints and defeat exact dedup). NFC runs through the
    * native [[graft.expressions.NfcNormalize]] expression (codegen'd,
    * allocation-free on already-normalized rows) whose name and semantics
    * mirror DuckDB's `nfc_normalize` builtin — the oracle replays the
    * pipeline verbatim. Map-only; lengths in code points both engines. */
  def unicodeClean(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn("_stripped", regexp_replace(col(textCol), ZeroWidthPattern, ""))
      .withColumn("cleaned_text", expr("nfc_normalize(_stripped)"))
      .select(col(idCol), col("cleaned_text"),
        (length(col(textCol)) - length(col("_stripped"))).cast("long")
          .as("n_zero_width"),
        length(col(textCol)).cast("long").as("len_before"),
        length(col("cleaned_text")).cast("long").as("len_after"),
        (col("cleaned_text") =!= col(textCol)).as("changed"))

  /** The 8 required stopwords of the Gopher rule set (Rae et al. 2021,
    * A1.1): a document must contain at least 2 of them. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-rule filter (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", Appendix A1.1) — the published MassiveText
    * document-level heuristics, integer-exact so both engines hash the
    * same bits:
    *
    *  - word count in [50, 100 000]
    *  - mean word length in [3, 10] chars (cross-multiplied:
    *    3·n_words ≤ word_chars ≤ 10·n_words — no float division)
    *  - symbol-to-word ratio ('#', '...', '…') ≤ 10% (ppm ≤ 100 000)
    *  - < 90% of lines start with a bullet ('-', '*', '•')
    *  - < 30% of lines end with an ellipsis
    *  - ≥ 80% of words contain an alphabetic character
    *  - ≥ 2 distinct [[GopherStopwords]] present (checked on NORMALIZED
    *    tokens — the rule's intent; raw matching would miss "the," etc.)
    *
    * Words are `\s+`-separated runs of the RAW text (regex edge-strip, not
    * `trim` — Spark trim removes only spaces while the corpus may lead
    * with newlines; the regex behaves identically in both engines), so
    * punctuation counts toward word length exactly as in the paper. All
    * ratios are integer ppm with truncating div. One row-local pass:
    * words/lines/tokens are materialized ONCE behind Generate barriers
    * ([[withNormToks]] rationale — CollapseProject would otherwise re-run
    * the split per consuming feature), and the per-word/per-line lambda
    * work is bounded by document size, never corpus shape. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stripped = regexp_replace(col(textCol), "^\\s+|\\s+$", "")
    val based = withNormToks(docs.select(col(idCol), col(textCol)), textCol)
      .select(col("*"), explode(array(
        when(length(stripped) === 0, array().cast("array<string>"))
          .otherwise(split(stripped, "\\s+")))).as("_words"))
      .select(col("*"), explode(array(split(col(textCol), "\n"))).as("_lines"))
    val t = col(textCol)
    val nWords = size(col("_words")).cast("long")
    val wordChars = length(regexp_replace(t, "\\s+", "")).cast("long")
    val nSymbols = (length(t) - length(expr(s"replace($textCol, '#', '')")) +
      expr(s"(length($textCol) - length(replace($textCol, '...', ''))) div 3") +
      (length(t) - length(expr(s"replace($textCol, '…', '')")))).cast("long")
    val nLines = size(col("_lines")).cast("long")
    val bulletLines = size(filter(col("_lines"),
      l => substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("long")
    val ellipsisLines = size(filter(col("_lines"),
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val alphaWords = size(filter(col("_words"),
      w => w.rlike("[A-Za-z]"))).cast("long")
    val stopHits = size(array_intersect(
      array_distinct(col("_toks")),
      array(GopherStopwords.map(lit(_)): _*))).cast("long")
    based.select(col(idCol),
        nWords.as("n_words"), wordChars.as("word_chars"),
        nSymbols.as("n_symbols"), nLines.as("n_lines"),
        bulletLines.as("n_bullet_lines"), ellipsisLines.as("n_ellipsis_lines"),
        alphaWords.as("n_alpha_words"), stopHits.as("n_stop_hits"))
      .select(col(idCol), col("n_words"), col("word_chars"),
        expr("n_symbols * 1000000 div greatest(n_words, 1)").as("symbol_ppm"),
        expr("n_bullet_lines * 1000000 div n_lines").as("bullet_line_ppm"),
        expr("n_ellipsis_lines * 1000000 div n_lines").as("ellipsis_line_ppm"),
        expr("n_alpha_words * 1000000 div greatest(n_words, 1)").as("alpha_word_ppm"),
        col("n_stop_hits"))
      .select(col("*"),
        (col("n_words") >= 50 && col("n_words") <= 100000).as("r_word_count"),
        (col("n_words") > 0 && col("word_chars") >= col("n_words") * 3 &&
          col("word_chars") <= col("n_words") * 10).as("r_mean_word_len"),
        (col("symbol_ppm") <= 100000L).as("r_symbol"),
        (col("bullet_line_ppm") < 900000L).as("r_bullet"),
        (col("ellipsis_line_ppm") < 300000L).as("r_ellipsis"),
        (col("alpha_word_ppm") >= 800000L).as("r_alpha"),
        (col("n_stop_hits") >= 2L).as("r_stopwords"))
      .withColumn("passes",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stopwords"))
  }

  /** The C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning...", §2.2) — the line-level half that Gopher's
    * document-level rules don't cover: keep only lines that END in
    * terminal punctuation ('.', '!', '?', '"') AND carry at least 5
    * words; reassemble the document from kept lines; flag documents
    * containing "lorem ipsum" or a curly brace; a document survives when
    * its cleaned text still holds ≥ 3 sentences (terminal-punct
    * occurrences) and neither flag fired. Deterministic, integer/boolean
    * outputs only; the line lambda work is bounded by document size.
    * Sentence counting uses a replace-chain (not translate) so both
    * engines share one formulation. */
  def c4Filters(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineKeep = (l: Column) => {
      val r = rtrim(l)
      val words = split(regexp_replace(l, "^\\s+|\\s+$", ""), "\\s+")
      (r.endsWith(".") || r.endsWith("!") || r.endsWith("?") || r.endsWith("\"")) &&
        size(words) >= 5
    }
    val based = docs.select(col(idCol), col(textCol))
      .select(col("*"), explode(array(split(col(textCol), "\n"))).as("_lines"))
      .select(col("*"), explode(array(filter(col("_lines"), lineKeep))).as("_kept"))
    val cleaned = array_join(col("_kept"), "\n")
    val sentences = (length(col("cleaned_text")) -
      length(expr("replace(replace(replace(cleaned_text, '.', ''), '!', ''), '?', '')")))
      .cast("long")
    based.select(col(idCol),
        cleaned.as("cleaned_text"),
        size(col("_lines")).cast("long").as("n_lines"),
        size(col("_kept")).cast("long").as("n_kept_lines"),
        lower(col(textCol)).contains("lorem ipsum").as("has_lorem_ipsum"),
        col(textCol).contains("{").as("has_brace"))
      .select(col("*"), sentences.as("n_sentences"))
      .withColumn("keep_doc",
        col("n_sentences") >= 3L && !col("has_lorem_ipsum") && !col("has_brace"))
  }

  /** Gopher-style intra-document repetition signals (the MassiveText
    * repetition filters), at token/n-gram granularity — this corpus has no
    * line structure, so the line-level variants collapse onto these three:
    *
    *  - `dup_token_ppm`: fraction of tokens that are repeat occurrences
    *    (`(n - distinct) / n`) — the duplicate-line-fraction analog;
    *  - `top_bigram_ppm`: fraction of tokens covered by occurrences of the
    *    single most frequent bigram (`2·max_count / n`);
    *  - `dup_trigram_ppm`: fraction of tokens covered by repeat occurrences
    *    of trigrams (`3·Σ(count−1) / n`).
    *
    * All integerized as ppm via BIGINT `div` (portable — DuckDB `//`).
    * A curation pipeline thresholds these to drop boilerplate/spam docs.
    *
    * Shape: every signal is ROW-LOCAL — gram frequencies never cross
    * documents — so the whole thing is a map-only projection with ZERO
    * exchanges (the round-8 verdict flagged the previous
    * explode-and-shuffle-on-(doc,kind,gram) form: near-unique keys defeat
    * map-side partial aggregation, round-6 rule b). The per-row stats are
    * ONE native-expression pass over the token array
    * ([[graft.expressions.RepetitionStats]]) — the HOF formulation
    * (transform + array_sort + aggregate) measured SLOWER than even the
    * shuffle shape at 100k docs (100 s vs 63-72 s, same run; BENCHNOTES
    * "Round-9: repetition signals — three shapes measured") because gram
    * construction is ~120M interpreted lambda evaluations.
    * Embarrassingly parallel at 100 TB: no shuffle, no skew, no spill. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val based = withNormToks(df, textCol)
    val toksGuarded = when(length(col("_norm")) === 0,
      array().cast("array<string>")).otherwise(col("_toks"))
    val stats = ColumnGlue.column(
      graft.expressions.RepetitionStats(ColumnGlue.expression(toksGuarded)))
    // `_s` is multi-referenced and non-cheap, so CollapseProject keeps the
    // projection materialized (round-7 rule b) — stats run once per row.
    based.select(col(idCol), stats.as("_s"))
      .select(col(idCol), col("_s.n_tokens").as("n_tokens"),
        col("_s.distinct_tokens").as("_distinct"),
        col("_s.max_bigram").as("_maxbi"),
        col("_s.rep_trigram").as("_trirep"))
      .select(col(idCol), col("n_tokens"),
        when(col("n_tokens") > 0,
          expr("(n_tokens - _distinct) * 1000000 div n_tokens"))
          .otherwise(0L).cast("long").as("dup_token_ppm"),
        when(col("_maxbi") > 0,
          expr("_maxbi * 2000000 div n_tokens"))
          .otherwise(0L).cast("long").as("top_bigram_ppm"),
        when(col("n_tokens") > 0,
          expr("_trirep * 3000000 div n_tokens"))
          .otherwise(0L).cast("long").as("dup_trigram_ppm"))
  }

  /** One corpus pass for the curation gate: quality features AND repetition
    * ppm signals from a single [[withNormToks]] materialization — a report
    * that consumed [[qualityFeatures]] and [[repetitionSignals]] separately
    * would tokenize the corpus twice (and trip the duplicated-subtree plan
    * lint: two canonically identical Generate barriers). Same column
    * definitions as the two single-signal operators; map-only, zero
    * exchanges. */
  def qualityRepetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftglue.ColumnGlue
    val t = col(textCol)
    val based = withNormToks(df.select(col(idCol), t), textCol)
    val toksGuarded = when(length(col("_norm")) === 0,
      array().cast("array<string>")).otherwise(col("_toks"))
    val stats = ColumnGlue.column(
      graft.expressions.RepetitionStats(ColumnGlue.expression(toksGuarded)))
    val toks = when(length(col("_norm")) === 0, 0).otherwise(size(col("_toks")))
    based
      .select(col(idCol),
        toks.as("n_words"),
        when(toks > 0, (length(col("_norm")) - toks + 1).cast("double") / toks)
          .as("mean_word_len"),
        (punctCount(t).cast("double") / length(t)).as("punct_ratio"),
        stats.as("_s"))
      .select(col(idCol), col("n_words"), col("mean_word_len"), col("punct_ratio"),
        col("_s.n_tokens").as("n_tokens"),
        col("_s.distinct_tokens").as("_distinct"),
        col("_s.max_bigram").as("_maxbi"),
        col("_s.rep_trigram").as("_trirep"))
      .select(col(idCol), col("n_words"), col("mean_word_len"), col("punct_ratio"),
        when(col("n_tokens") > 0,
          expr("(n_tokens - _distinct) * 1000000 div n_tokens"))
          .otherwise(0L).cast("long").as("dup_token_ppm"),
        when(col("_maxbi") > 0, expr("_maxbi * 2000000 div n_tokens"))
          .otherwise(0L).cast("long").as("top_bigram_ppm"),
        when(col("n_tokens") > 0, expr("_trirep * 3000000 div n_tokens"))
          .otherwise(0L).cast("long").as("dup_trigram_ppm"))
  }

  /** PII redaction patterns — deliberately simple character classes so the
    * same regex means the same thing under Java regex (Spark) and RE2
    * (DuckDB/the oracle): no lookaround, no backreferences. SHAPE
    * detectors, not validators (an IBAN checksum or IPv4 octet-range check
    * buys nothing at redaction time — over-redacting a shaped non-PII
    * token is the safe failure). Chain ORDER matters: emails first (they
    * contain digits and dots), IPv6 before IPv4 (hex groups contain
    * decimal runs), IBAN before the long-digit fallback (its 14+-digit
    * body would otherwise half-match), SSN before phone (the 3-2-4 tail
    * must not be claimed as a 3-4 phone). IPv6 covers the full 6-8-group
    * form; `::`-compressed forms are out of shape-scope (documented). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"
  val LongNumRe = "[0-9]{9,}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val Ipv6Re = "\\b[0-9a-fA-F]{1,4}(:[0-9a-fA-F]{1,4}){5,7}\\b"
  val IbanRe = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  /** A regex step guarded by a cheap `contains(<required literal>)`: a
    * pattern that REQUIRES a literal character ('@' for EmailRe, ':' for
    * Ipv6Re, '.' for Ipv4Re, '-' for SsnRe/PhoneRe) provably has zero
    * matches in a text lacking it, so the regex scan can be skipped from
    * one instr() probe. This matters most for the email class — Java
    * regex backtracks the `[a-zA-Z0-9._%+-]+` local-part class at every
    * start position of ordinary prose (r17 at sf1.0: 1.9-2.1 s for the
    * email count alone vs 0.26-0.54 s per other class; BENCHNOTES
    * "Comment-only A/Bs"), which is the bulk of the 6× gap to the
    * oracle's RE2 (automaton, no backtracking).
    * Semantics are bit-identical, so the oracle SQL is unchanged; IBAN
    * and the long-digit fallback have no single required literal and stay
    * unguarded (they are the cheap patterns). */
  def litGuard(text: Column, lit0: String, ifMay: Column, ifNot: Column): Column =
    when(text.contains(lit0), ifMay).otherwise(ifNot)

  def emailGuard(text: Column, ifEmail: Column, ifNot: Column): Column =
    litGuard(text, "@", ifEmail, ifNot)

  /** Guarded count of one PII class (see [[litGuard]]). */
  def guardedCount(text: Column, lit0: String, re: String): Column =
    litGuard(text, lit0, regexp_count(text, lit(re)), lit(0))

  /** Redact email / IPv6 / IPv4 / IBAN-shape / SSN-shape / phone-shape /
    * long-digit-run substrings with typed placeholder tags. Pure codegen'd
    * regexp_replace chain — one narrow pass, scales embarrassingly; the
    * literal-bearing classes skip their scan via [[litGuard]].
    *
    * Guards probe the ORIGINAL text, not the evolving chain value: the
    * replacement tags introduce none of the guarded literals and a
    * replacement only removes matched substrings, so an original-text
    * probe can only be conservatively wrong (running a scan that finds
    * nothing), never skip a real match. Each guarded step still
    * references its chain input twice (replace branch + passthrough), so
    * the analyzed tree carries 2⁴ copies of the inner chain (~300 nodes
    * — well under the round-7 rule b JIT cliff and the ExecPolicy
    * node guard); whole-stage codegen's subexpression elimination
    * evaluates each distinct level once. */
  def redactPii(text: Column): Column = {
    def step(t: Column, lit0: String, re: String, tag: String): Column =
      litGuard(text, lit0, regexp_replace(t, re, tag), t)
    regexp_replace(
      step(
        step(
          regexp_replace(
            step(
              step(
                step(text, "@", EmailRe, "<EMAIL>"),
                ":", Ipv6Re, "<IPV6>"),
              ".", Ipv4Re, "<IPV4>"),
            IbanRe, "<IBAN>"),
          "-", SsnRe, "<SSN>"),
        "-", PhoneRe, "<PHONE>"),
      LongNumRe, "<NUM>")
  }

  /** Sliding token windows for model-input chunking: windows of `window`
    * tokens every `stride` tokens, starts at 0, stride, … until the tail is
    * covered (`1 + ceil(max(0, n-window)/stride)` chunks; every document
    * yields at least one). Same codegen index-explode shape as the
    * shingling path — the token array is materialized once per doc under a
    * Generate barrier, chunk text/length are flat column expressions. */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   window: Int = 128, stride: Int = 64): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need window >= stride >= 1")
    df.repartition(col(idCol))
      .select(col(idCol), normalize(col(textCol)).as("_norm"))
      .filter(length(col("_norm")) > 0)
      .select(col(idCol), tokens(col("_norm")).as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          ceil(greatest(size(col("_toks")) - window, lit(0)) / stride.toDouble)
            .cast("long"))).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ", slice(col("_toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(window))).as("chunk"),
        least(size(col("_toks")) - col("chunk_idx") * stride, lit(window))
          .cast("long").as("n_chunk_tokens"))
  }

  /** Contiguous token-stream packing (concat-then-split training prep):
    * documents are laid end-to-end per `partCol` stratum in `idCol` order
    * and each is assigned the `seqLen`-token training sequence its first
    * token lands in, plus its offset inside that sequence. One window per
    * stratum — packing is deliberately per-stratum (language, shard, …) so
    * no global single-partition sort exists at scale. */
  def packStream(df: DataFrame, partCol: String, idCol: String,
                 textCol: String, seqLen: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val based = withNormToks(df, textCol)
    val n = when(length(col("_norm")) === 0, 0L)
      .otherwise(size(col("_toks")).cast("long"))
    based.select(col(partCol), col(idCol), n.as("n_tokens"))
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_idx", expr(s"(_cum - n_tokens) div ${seqLen}L"))
      .withColumn("seq_offset", expr(s"(_cum - n_tokens) % ${seqLen}L"))
      .drop("_cum")
  }

  /** Reference-frequency quality scoring — the CCNet/LM-filter recipe,
    * integerized so the scores are bit-identical in any engine: token
    * DOCUMENT frequencies are counted over a content-addressed reference
    * slice of the corpus ([[Sampling.bucketOf]] < `refPermille`), and every
    * document is scored against that vocabulary with
    *  - `oov_ppm`   — millionths of token occurrences outside the vocab
    *    (tokens with reference df < `minDf` are out), and
    *  - `rarity_pts` — mean inverse document frequency of the in-vocab
    *    occurrences, `avg(1e6 div df)` in integer points: common-language
    *    text scores LOW (head), rare/garbled text HIGH (tail) — the same
    *    ordering an n-gram LM's perplexity induces, without the float log
    *    whose libm rounding differs across engines.
    * Fixed integer thresholds bucket documents head/middle/tail (CCNet
    * keeps the split static so shards are reproducible).
    *
    * Scale shape: TWO tokenize passes, NO corpus materialization. The
    * scoring pass explodes per-doc-distinct kernel-counted (tok, c) pairs
    * (occurrence-exact via the `c` weights); the vocab pass re-tokenizes
    * only the reference slice (the content-addressed `bucketOf` filter
    * sits BELOW the tokenizer, so it reads ~refPermille/1000 of the
    * corpus) and explodes `array_distinct(_toks)` — per-doc dedup is
    * ROW-LOCAL, so the df aggregation's keys are the VOCABULARY
    * (Zipf-bounded), never the corpus. Two rejected shapes, both measured
    * at 1M docs: (1) checkpoint exploded occurrence rows + corpus-scale
    * `distinct()` on (doc, tok): 924 s — round-6 rule (b) + occurrence-
    * scale deserialized checkpoint storage (rule g); (2) checkpoint the
    * compact (id, token-array) projection: 33-39 s fresh but 122-124 s on
    * re-use in the same JVM, BOTH orders (storage-memory residue of a
    * corpus-scale checkpoint), vs 40-52 s stable for this two-pass shape
    * (ABBA, both orders; BENCHNOTES "Round-9: funnel fold vs chained
    * step-joins", its ref-freq paragraph) — and at 100 TB a tokenized-corpus
    * materialization is a non-starter while a 0.3× re-scan is routine.
    * Strategy tiers (r19, mirrors decontaminate): (1) vocab ≤
    * `maxDriverVocab` rows → the sorted (tok, df) arrays ride as two
    * Literals and scoring is MAP-ONLY via the native `reffreq_stats` fold
    * (no probe job, no join, no per-doc groupBy); (2) broadcast join via
    * the LIMIT-bounded probe; (3) shuffle join keyed on token. Documents
    * whose normalized text is empty have no token rows and are absent
    * from the output (mirrored by the oracle's `unnest([])`).
    *
    * Output: (doc_id, n_toks, n_oov, oov_ppm, rarity_pts, bucket). */
  def refFreqQuality(docs: DataFrame, idCol: String, textCol: String,
                     refPermille: Int = 300, minDf: Int = 2,
                     oovTailPpm: Long = 400000L, rarityTailPts: Long = 250000L,
                     rarityHeadPts: Long = 150000L, oovHeadPpm: Long = 100000L,
                     salt: String = "ref",
                     broadcastMaxVocab: Long = 4000000L,
                     driverVocab: Option[Boolean] = None,
                     maxDriverVocab: Long = 2000000L): DataFrame = {
    // slice filter BELOW the tokenizer: the vocab pass re-reads only
    // ~refPermille/1000 of the corpus instead of materializing any of it
    val vocab0 = withNormToks(
        docs.filter(Sampling.bucketOf(col(idCol), salt) < refPermille)
          .select(col(idCol), col(textCol)), textCol)
      .select(col(idCol), explode(array_distinct(col("_toks"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    def post(df: DataFrame): DataFrame = df
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_toks"))
      .withColumn("rarity_pts",
        when(col("_nv") > 0, expr("_rsum div _nv")).otherwise(lit(1000000L)))
      .withColumn("bucket",
        when(col("oov_ppm") >= oovTailPpm || col("rarity_pts") >= rarityTailPts,
          lit("tail"))
          .when(col("rarity_pts") < rarityHeadPts && col("oov_ppm") < oovHeadPpm,
            lit("head"))
          .otherwise(lit("middle")))
      .drop("_rsum", "_nv")
    // MAP-ONLY tier (r19; probe hardened r20): fetch the (tok, df) vocab
    // as ONE sorted-array row via `vocab_mins(tok, df, cap+1)` — the
    // bottom-(cap+1) pairs by UTF8 binary tok order with cap-BOUNDED
    // aggregate state (the decontaminate kmv_mins probe-and-fetch pattern;
    // a TreeMap of at most cap+1 entries per partial). ≤ cap entries back
    // means the array IS the complete sorted vocabulary — the exact order
    // the reffreq_stats binary search needs — shipped as two array
    // Literals so scoring is row-local: no broadcast build, no join, no
    // per-doc groupBy. cap+1 entries mean the vocab is over the driver
    // cap: the join tiers take over bit-identically (spec pins equality +
    // the cap-0 flip) WITHOUT the full vocab ever materializing in an
    // aggregate row — the r19 first cut's `sort_array(collect_list(..))`
    // fetched before checking, so a caller-defeated Zipf bound (minDf=1,
    // non-natural text) had no effective memory cap. The probe and the
    // fetch are still the same single job.
    val cap = math.min(maxDriverVocab, Int.MaxValue - 8L).toInt
    val vocabArr: Option[Array[org.apache.spark.sql.Row]] =
      if (driverVocab.getOrElse(true)) {
        val a = vocab0
          .agg(expr(s"vocab_mins(tok, df, ${cap + 1})").as("_a"))
          .head.getSeq[org.apache.spark.sql.Row](0).toArray
        if (a.length <= cap) Some(a)
        else if (driverVocab.contains(true)) // forced: complete the vocab anyway
          Some(vocab0
            .agg(sort_array(collect_list(struct(col("tok"), col("df")))).as("_a"))
            .head.getSeq[org.apache.spark.sql.Row](0).toArray)
        else None
      } else None
    if (vocabArr.isDefined) {
      import org.apache.spark.sql.graftglue.ColumnGlue
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
      val keys = Literal.create(vocabArr.get.map(_.getString(0)),
        ArrayType(StringType, containsNull = false))
      val dfs = Literal.create(vocabArr.get.map(_.getLong(1)),
        ArrayType(LongType, containsNull = false))
      val stats = ColumnGlue.column(graft.expressions.RefFreqStats(
        ColumnGlue.expression(gramCounts(tokens(col(textCol)), 1)), keys, dfs))
      post(docs
        // explode(array(...)) Generate barrier: the stats struct is
        // evaluated ONCE per row (4 field extractions would otherwise
        // re-evaluate the kernel — the llm_token_diversity move)
        .select(col(idCol), explode(array(stats)).as("_s"))
        .filter(col("_s.n_toks") > 0) // empty-norm docs are absent (contract)
        .select(col(idCol), col("_s.n_toks").as("n_toks"),
          col("_s.n_oov").as("n_oov"), col("_s.rsum").as("_rsum"),
          col("_s.nv").as("_nv")))
    } else {
      // Join tiers: scoring pass explodes per-doc-DISTINCT (tok, c) pairs
      // from the gram_counts kernel (occurrence-exact via the c weights;
      // both orders at sf1.0: 0.50-0.76 s vs 1.03-1.25 s for the
      // occurrence-explode shape; BENCHNOTES "Comment-only A/Bs"), vocab
      // broadcast when the LIMIT probe says it fits, shuffle join
      // otherwise.
      val occ = docs
        .select(col(idCol), explode(gramCounts(tokens(col(textCol)), 1)).as("_g"))
        .select(col(idCol), col("_g.s").as("tok"), col("_g.c").as("c"))
      val probe = math.min(broadcastMaxVocab, Int.MaxValue - 1L).toInt
      val vocab = if (vocab0.limit(probe + 1).count() <= probe) broadcast(vocab0)
                  else vocab0
      post(occ.join(vocab, Seq("tok"), "left")
        .groupBy(col(idCol))
        .agg(sum(col("c")).as("n_toks"),
          sum(when(col("df").isNull, col("c")).otherwise(0L)).as("n_oov"),
          sum(when(col("df").isNotNull, col("c") * expr("1000000 div df"))
            .otherwise(0L)).as("_rsum"),
          sum(when(col("df").isNotNull, col("c")).otherwise(0L)).as("_nv")))
    }
  }

  /** Token-distribution drift between two corpus slices (dataset-version
    * monitoring: did the appended batch shift the language?): per-token
    * ppm frequency in slice A vs slice B and the absolute difference —
    * the per-token contribution to the L1 (total-variation·2) distance.
    *
    * Scale shape: ONE tokenize pass with the slice flag riding each
    * occurrence; the aggregation keys are the Zipf-bounded vocabulary
    * (map-side combine does the collapsing — round-9 rule b); the totals
    * are a 1-row reduce of the vocab table, broadcast back; top-k is a
    * TakeOrdered. The compact (tok, cnt_a, cnt_b) vocab table feeds both
    * the totals and the scoring, so it is checkpointed once.
    *
    * Output: (tok, cnt_a, cnt_b, ppm_a, ppm_b, drift_ppm), top `k` by
    * (drift desc, tok). */
  def tokenDrift(docs: DataFrame, idCol: String, textCol: String,
                 isA: Column, k: Int = 30): DataFrame = {
    val occ = withNormToks(docs.select(col(idCol), col(textCol), isA.as("_in_a")),
        textCol)
      .select(explode(col("_toks")).as("tok"), col("_in_a"))
      .filter(length(col("tok")) > 0)
    val counts = occ.groupBy(col("tok"))
      .agg(sum(when(col("_in_a"), 1L).otherwise(0L)).as("cnt_a"),
        count(lit(1)).as("cnt_b"))
      .localCheckpoint(eager = false) // feeds totals AND scoring (plan lint)
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"),
      sum(col("cnt_b")).as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("ppm_a", expr("cnt_a * 1000000 div greatest(tot_a, 1)"))
      .withColumn("ppm_b", expr("cnt_b * 1000000 div greatest(tot_b, 1)"))
      .withColumn("drift_ppm", abs(col("ppm_a") - col("ppm_b")))
      .orderBy(col("drift_ppm").desc, col("tok")).limit(k)
      .select(col("tok"), col("cnt_a"), col("cnt_b"),
        col("ppm_a"), col("ppm_b"), col("drift_ppm"))
  }

  /** BM25 retrieval for a FIXED query-term set — the "pull every doc about
    * X out of the corpus" curation query (targeted subset extraction,
    * contamination review, eval-set mining).
    *
    * Integerized Okapi BM25 (k1/b in milli-units) so the ranking is
    * bit-identical in any engine: per-term
    * `idf_milli = ((N - df)·1000 + 500) div (df + 1)` and
    * `tfn_milli = tf·(k1+1000)·1000 div (tf·1000 + k1·lennorm_milli div
    * 1000)` with `lennorm_milli = 1000 − b + b·dl·1000 div avgdl_milli` —
    * the Robertson formula with integer surrogates for the float idf/log.
    *
    * Scale shape: per-term tf is ROW-LOCAL (a `filter` count over the
    * token array — no inverted-index shuffle, no (doc, term) aggregation),
    * so the corpus pass is a map-only projection to (id, dl, tf×k),
    * checkpointed once because it feeds BOTH the 1-row stats aggregate
    * (N, Σdl, df per term — k+2 numbers) and the scoring branch (the
    * [[dsirResample]] precedent). Stats broadcast back; scoring +
    * admission are map-only; top-k is a TakeOrdered, never a global sort.
    * At 100 TB this is one scan + one 1-row reduce. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int = 20,
                 k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "terms must be distinct")
    val based = withNormToks(docs.select(col(idCol), col(textCol)), textCol)
    val dl = when(length(col("_norm")) === 0, 0L)
      .otherwise(size(col("_toks")).cast("long"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("_toks"), x => x === lit(t))).cast("long").as(s"tf_$i")
    }
    val feats = based
      .select(col(idCol) +: dl.as("dl") +: tfCols: _*)
      .localCheckpoint(eager = false) // feeds stats AND scoring (plan lint)
    val statAggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = feats.agg(statAggs.head, statAggs.tail: _*)
    val termScore = terms.indices.map { i =>
      expr(s"(((n_docs - df_$i) * 1000 + 500) div (df_$i + 1)) * " +
        s"((tf_$i * ${k1Milli + 1000L} * 1000) div " +
        s"(tf_$i * 1000 + ($k1Milli * lennorm_milli) div 1000)) div 1000")
    }.reduce(_ + _)
    feats
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl_milli", expr("greatest(sum_dl * 1000 div n_docs, 1)"))
      .withColumn("lennorm_milli",
        expr(s"1000 - $bMilli + ($bMilli * dl * 1000) div avgdl_milli"))
      .withColumn("score_milli", termScore)
      .orderBy(col("score_milli").desc, col(idCol)).limit(k)
      .select(col(idCol), col("dl"), col("score_milli"))
  }

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009,
    * the standard score-free fusion rule): the lexical BM25 top-`poolK`
    * and the embedding-cosine top-`poolK` each contribute
    * `10⁹ div (rrfK + rank)` (integer ppb — no float division to diverge
    * between engines; a doc absent from a pool contributes 0), summed and
    * re-ranked to the final top-`k`. The curation use is "find docs about
    * X" where lexical misses paraphrases and cosine misses exact jargon.
    *
    * Scale shape: both rankers are the existing one-corpus-pass operators
    * ([[bm25Search]]'s map-only scoring + TakeOrdered;
    * [[Similarity.bruteForceTopK]]'s broadcast query + bounded top-k
    * aggregate); the fusion itself joins two ≤poolK-row tables — the
    * unpartitioned rank window is over poolK rows by construction, never
    * corpus-scale. `embeddings.vec_id` must share the id space of
    * `docs(idCol)` (the integrityAudit pairing contract). */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
                idCol: String, textCol: String,
                terms: Seq[String], probeId: Long, k: Int = 20,
                poolK: Int = 50, rrfK: Long = 60L): DataFrame = {
    val lex = bm25Search(docs, idCol, textCol, terms, poolK)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_milli").desc, col(idCol))).cast("long"))
      .select(col(idCol), col("lex_rank"))
    val sem = Similarity.bruteForceTopK(embeddings,
        embeddings.filter(col("vec_id") === probeId), poolK)
      .select(col("vec_id").as(idCol), col("rank").cast("long").as("sem_rank"))
    lex.join(sem, Seq(idCol), "full_outer")
      .withColumn("rrf_ppb",
        coalesce(expr(s"1000000000 div ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($rrfK + sem_rank)"), lit(0L)))
      .orderBy(col("rrf_ppb").desc, col(idCol)).limit(k)
      .select(col(idCol), col("lex_rank"), col("sem_rank"), col("rrf_ppb"))
  }

  /** Bigram language-model scoring — the perplexity-filter recipe (CCNet
    * trains KenLM on a reference corpus and buckets documents by
    * perplexity; this is the same decision with integer surrogates so the
    * scores are bit-identical in any engine).
    *
    * A bigram LM with harsh backoff is trained on a content-addressed
    * reference slice ([[Sampling.bucketOf]] < `refPermille`):
    * `pts(w2|w1) = c(w1 w2)·1e6 div (c(w1·) + V)` — add-V-smoothed
    * conditional probability in ppm (V = reference vocabulary size);
    * bigrams unseen in the reference score 0 (the backoff). A document's
    * `lm_pts` is the mean over its bigram occurrences — the integer
    * stand-in for exp(−perplexity): fluent reference-like text scores
    * HIGH, OOD/garbled text LOW. Fixed thresholds bucket keep/review/drop.
    *
    * Scale shape (the [[refFreqQuality]] doctrine): the scoring pass is
    * ONE bigram index-explode of the corpus; the model pass re-tokenizes
    * only the reference slice (filter below the tokenizer) and its
    * aggregation keys are the reference bigram table (sub-corpus,
    * Zipf-decaying, map-side combined). The weights table joins c2 to c1
    * on the unigram key and carries the 1-row V broadcast; it
    * auto-broadcasts into the scorer via the LIMIT-bounded probe
    * ([[DedupOps.decontaminate]] pattern) with a shuffle-join fallback.
    *
    * Docs with < 2 tokens have no bigrams and are absent (mirrored by
    * the oracle). Output: (idCol, n_bigrams, lm_pts, bucket). */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
              refPermille: Int = 300, keepPts: Long = 10000L,
              dropPts: Long = 1000L, salt: String = "lm",
              broadcastMaxBigrams: Long = 4000000L): DataFrame = {
    // Per-doc (bigram, count) rows via the `gram_counts` kernel (r20; the
    // r19(a) pre-aggregation lever): the explode is per-doc-DISTINCT
    // scale, the weight join probes one string key instead of (w1, w2)
    // per OCCURRENCE, and the former corpus-text `repartition(id)` is
    // deleted outright — the scoring groupBy's map-side partials collapse
    // each doc to one (count, sum) row before any exchange (each doc
    // lives in one scan partition), so partials are doc-scale with or
    // without the repartition and the corpus-text shuffle bought nothing
    // (r19 rule b). Bigram adjacency: `tokens` yields no empty strings
    // for ≥2-token docs (the [""] empty-doc sentinel dies on the size
    // filter), so the kernel's enumeration ≡ the old element_at chain.
    def bigramCounts(df: DataFrame): DataFrame =
      df.select(col(idCol), tokens(col(textCol)).as("_toks"))
        .filter(size(col("_toks")) >= 2)
        .select(col(idCol), explode(gramCounts(col("_toks"), 2)).as("_g"))
        .select(col(idCol), col("_g.s").as("_bg"), col("_g.c").as("_c"))
    val refDocs = docs.filter(Sampling.bucketOf(col(idCol), salt) < refPermille)
      .select(col(idCol), col(textCol))
    // ONE pass over the reference slice: per-doc pre-counts aggregate
    // straight to the Zipf-bounded bigram table, which is checkpointed
    // (it feeds the weight join, the unigram rollup AND the vocab count —
    // round-4 rule (d)); c1 and V are then derived from c2 by summation
    // instead of re-exploding the slice (c1(w1) = Σ_w2 c2(w1,w2)).
    // Tokens never contain spaces, so w1 = substring_index(bigram, ' ', 1)
    // recovers the unigram key exactly, at vocab scale.
    val c2 = bigramCounts(refDocs).groupBy(col("_bg"))
      .agg(sum(col("_c")).as("c2")).localCheckpoint()
    val w1 = substring_index(col("_bg"), " ", 1)
    val c1 = c2.groupBy(w1.as("_w1")).agg(sum(col("c2")).as("c1"))
    val vocab = c2.agg(countDistinct(w1).as("v"))
    val weights0 = c2.select(col("_bg"), w1.as("_w1"), col("c2"))
      .join(c1, Seq("_w1")).crossJoin(broadcast(vocab))
      .select(col("_bg"), expr("c2 * 1000000 div (c1 + v)").as("pts"))
    val probe = math.min(broadcastMaxBigrams, Int.MaxValue - 1L).toInt
    // Fallback path checkpoints the weight table: AQE's skew split declines
    // SMJs with an aggregate build side (round-6 rule c), and hot bigrams
    // would pile occurrence rows into one unsplittable partition; a
    // LogicalRDD scan keeps the join eligible. Bigram-vocab-bounded, never
    // corpus-scale.
    val weights = if (weights0.limit(probe + 1).count() <= probe) broadcast(weights0)
                  else weights0.localCheckpoint()
    bigramCounts(docs.select(col(idCol), col(textCol)))
      .join(weights, Seq("_bg"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("_c")).as("n_bigrams"),
        sum(col("_c") * coalesce(col("pts"), lit(0L))).as("_psum"))
      .withColumn("lm_pts", expr("_psum div n_bigrams"))
      .withColumn("bucket",
        when(col("lm_pts") >= keepPts, lit("keep"))
          .when(col("lm_pts") < dropPts, lit("drop"))
          .otherwise(lit("review")))
      .drop("_psum")
  }

  /** Mixed-language detection: language-ID each `segTokens`-token segment
    * (the [[graft.ops.DedupOps.segmentRows]] split) and report per-doc
    * language agreement — `n_langs`, the majority language, and the ppm
    * of segments disagreeing with it. A code-switching or wrongly-spliced
    * document shows a high minority share where the doc-level
    * [[predictedLang]] would average the signal away.
    *
    * Scale shape: one segment explode (codegen index-explode), two keyed
    * aggregations co-partitioned on the doc id. The majority argmax rides
    * the aggregate as a `lpad(count)||lang` sortable string — identical
    * lexicographic max in both engines, so ties (equal counts) break
    * toward the larger language tag deterministically; a DuckDB `arg_max`
    * would tie-break arbitrarily. Docs with empty normalized text are
    * absent (the segmentRows contract). */
  def mixedLangReport(docs: DataFrame, idCol: String, textCol: String,
                      segTokens: Int = 8): DataFrame = {
    // seg_groups kernel (r20): segments grouped row-locally to (segment,
    // start list) — the lang probe runs once per DISTINCT segment per doc
    // (identical segments share a prediction) weighted by the occurrence
    // count, and the Generate never carries the token array (the old
    // segmentRows explode + slice + concat_ws shape did, per occurrence).
    val segLang = docs
      .select(col(idCol), normalize(col(textCol)).as("_norm"))
      .filter(length(col("_norm")) > 0)
      .select(col(idCol),
        explode(segGroups(tokens(col("_norm")), segTokens)).as("_g"))
      .select(col(idCol),
        predictedLangFromToks(split(col("_g.s"), " ")).as("seg_lang"),
        size(col("_g.x")).cast("long").as("_c"))
    segLang.groupBy(col(idCol), col("seg_lang"))
      .agg(sum(col("_c")).as("_n"))
      .groupBy(col(idCol))
      .agg(sum(col("_n")).as("n_segs"),
        count(lit(1)).as("n_langs"),
        max(concat(lpad(col("_n").cast("string"), 7, "0"), col("seg_lang")))
          .as("_mk"))
      .select(col(idCol), col("n_segs"), col("n_langs"),
        substring(col("_mk"), 8, 2).as("majority_lang"),
        expr("(n_segs - CAST(substring(_mk, 1, 7) AS BIGINT)) * 1000000 div n_segs")
          .as("minority_ppm"))
  }

  /** DSIR-shaped importance resampling (Xie et al. 2023,
    * arXiv:2302.03169): reweight raw documents toward a target
    * distribution using HASHED n-gram bag features, then admit each doc by
    * a content-addressed Bernoulli draw with probability proportional to
    * its importance weight. The published estimator multiplies per-feature
    * probability ratios in log space; floats and `log` diverge between
    * engines in the last ulp, so this uses the repo's integer surrogate
    * (the llm_ref_quality precedent): per-feature importance =
    * `t_ppm·1000 div (r_ppm+1)` (target vs raw ppm frequency of the
    * feature's hash bucket) and a doc's score is the per-occurrence mean.
    * A doc matching the target distribution scores ≈1000 pts; `gainPpm`
    * maps points to admission ppm (`least(1e6, pts·gain div 1000)`).
    *
    * Scale shape: bigram hashing is the codegen index-explode form (no
    * sha in HOF lambdas); the ONE corpus-scale aggregation is the
    * (doc, bucket) count, checkpointed because it feeds both the weight
    * table and the scoring branch (round-4 rule (d)); the weight table is
    * `buckets` rows (bounded by construction — this is WHY DSIR hashes
    * features) and broadcasts into the scorer; admission is a map-only
    * filter on a sha-derived hash, so membership is stable across runs,
    * engines, and data growth, like everything in [[Sampling]].
    * Int64 headroom: per-bucket occurrence counts enter `c·1 000 000`,
    * so the math is exact up to ~9.2e12 occurrences per bucket — at
    * ~2e13 tokens (100 TB of text) over 1024 buckets that is 450×
    * headroom; widen `buckets` before it ever binds.
    *
    * Docs with fewer than 2 tokens have no bigram features and are absent
    * from the output (mirrored by the oracle).
    *
    * Output: (idCol, n_feats, dsir_pts, accept_ppm, accepted). */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   isTarget: Column, buckets: Int = 1024,
                   gainPpm: Long = 400000L, salt: String = "dsir"): DataFrame = {
    // bigram_buckets kernel (r20): per-(doc, bucket) counts are ROW-LOCAL
    // (the r19 tfidf-tf move) — one JVM pass hashes each bigram once via
    // the shared sha core (bit-identical to the SQL
    // pmod(hash60(concat_ws(' ', t1, t2)), buckets), oracle unchanged),
    // deleting the index-explode + per-occurrence sha chain, the
    // (doc, _tgt, bucket) near-unique-key exchange, and the corpus-text
    // repartition(id) (the checkpointed rows are compact (id, tgt,
    // bucket, c) — both downstream groupBys shuffle those, not text).
    val docBucket = docs
      .select(col(idCol), isTarget.as("_tgt"), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(col(idCol), col("_tgt"),
        explode(ColumnGlue.column(graft.expressions.BigramBuckets(
          ColumnGlue.expression(col("_toks")),
          ColumnGlue.expression(lit(buckets.toLong))))).as("_g"))
      .select(col(idCol), col("_tgt"), col("_g.h").as("_b"), col("_g.c").as("c"))
      .localCheckpoint(eager = false) // feeds weights AND scoring (plan lint)
    // The rt/tt totals ride a single-partition window over the bucket
    // rollup (≤1024 rows, bounded by construction), so the rollup has ONE
    // consumer: the r20 lineage cut and its broadcast-totals round both
    // delete (r21 — the bounded-rollup scalar-aggregate fusion; the r4
    // rule-d duplicate the cut fixed cannot recur with one consumer).
    val weights = docBucket.groupBy(col("_b"))
      .agg(sum(col("c")).as("rc"),
        sum(when(col("_tgt"), col("c")).otherwise(0L)).as("tc"))
      .withColumn("rt", sum(col("rc")).over(Window.partitionBy()))
      .withColumn("tt", sum(col("tc")).over(Window.partitionBy()))
      .select(col("_b"),
        expr("(tc * 1000000 div tt) * 1000 div ((rc * 1000000 div rt) + 1)")
          .as("ratio_pts"))
    docBucket.join(broadcast(weights), Seq("_b"))
      .groupBy(col(idCol))
      .agg(sum(col("c") * col("ratio_pts")).as("_pts"), sum(col("c")).as("n_feats"))
      .select(col(idCol), col("n_feats"),
        expr("_pts div n_feats").as("dsir_pts"))
      .withColumn("accept_ppm",
        least(lit(1000000L), expr(s"dsir_pts * $gainPpm div 1000")))
      .withColumn("accepted",
        pmod(DedupOps.hash60(concat(lit(salt + ":"), col(idCol).cast("string"))),
          lit(1000000L)) < col("accept_ppm"))
  }

  /** Per-group lexical diversity: token occurrences, distinct types, hapax
    * legomena (types occurring exactly once), type-token ratio and hapax
    * share in ppm. The corpus-health readout that catches template spam
    * (TTR collapses) and OCR noise (hapax share explodes) per source before
    * the mix is assembled.
    *
    * Scale: ONE corpus pass exploding occurrences into a (group, token)
    * aggregation — keys are Zipf-bounded vocabulary × #groups, so partial
    * aggregation collapses map-side (round-9 rule b); the second rollup is
    * vocabulary-scale, the output #groups rows. No windows, no joins. */
  def lexicalDiversity(docs: DataFrame, textCol: String,
                       groupCol: String): DataFrame =
    docs.select(col(groupCol), explode(tokens(col(textCol))).as("_token"))
      .filter(col("_token") =!= "")
      .groupBy(col(groupCol), col("_token"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(groupCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"))

  /** Corpus frequency spectrum: how many token types occur 1-9 times, 10-99,
    * 100-999, … (frequency decades). The Zipf-law readout: on natural text
    * the type counts fall roughly geometrically across decades; a bulge in a
    * high decade is boilerplate, a bloated decade-0 is noise/OCR junk.
    *
    * Scale: the same one-pass vocabulary aggregation as above, then a
    * decade rollup over the vocabulary table — decade = digits(freq)-1 via
    * string length, no log() float on the oracle path, no rank window. */
  def frequencySpectrum(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("_token"))
      .filter(col("_token") =!= "")
      .groupBy(col("_token"))
      .agg(count(lit(1)).as("_c"))
      .groupBy((length(col("_c").cast("string")) - 1).cast("long").as("decade"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("_c")).as("n_occurrences"),
        min(col("_c")).as("min_freq"),
        max(col("_c")).as("max_freq"))

  /** Markup-stripped visible text: tags → space, the 6 common HTML
    * entities unescaped (fixed order — the oracle replays the identical
    * chain), space runs collapsed, trimmed. Pure codegen'd regex/replace
    * passes over the whole string — the flat-whole-text shape (round-9
    * rule f), zero HOFs.
    *
    * `&amp;` is unescaped LAST: unescaping it first turns literal source
    * text `&amp;lt;` into `&lt;` which the next pass double-unescapes to
    * `<` — the standard entity-order bug. With `&amp;` last, `&amp;lt;`
    * correctly yields the literal characters `&lt;`. */
  def htmlText(html: Column): Column = {
    val unescaped = Seq(
      "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&")
      .foldLeft(regexp_replace(html, "<[^>]*>", " ")) {
        case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
      }
    trim(regexp_replace(unescaped, " +", " "))
  }

  /** Text extraction + markup-density features — the step-zero operator of
    * any web-crawl pipeline (trafilatura/boilerpipe class): visible text,
    * tag count, link count, and boilerpipe's link-density signal (chars of
    * anchor text per char of visible text, ppm) — nav/footer boilerplate
    * pages score high and get dropped before tokenization ever runs.
    *
    * Map-only: every feature is a regex/replace/length composition on the
    * row's own string (link text via one `regexp_extract_all` join —
    * no per-element lambda), so the operator scales embarrassingly and
    * whole-stage codegen keeps it fused. `clean_hash` is the portable
    * sha256-prefix of the extracted text, making the extraction itself
    * byte-exact oracle-checkable. */
  def extractMarkup(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val h = col(htmlCol)
    df.select(col(idCol),
        htmlText(h).as("_clean"),
        size(regexp_extract_all(h, lit("<[^>]*>"), lit(0))).cast("long").as("n_tags"),
        // exact-substring count; integer via shiftright (CLAUDE type rule)
        shiftright(length(h) - length(replace(h, lit("</a>"), lit(""))), 2)
          .cast("long").as("n_links"),
        // the (?:\s...) guard keeps <article>/<aside>/<abbr> from matching
        // as anchors (review catch: bare '<a[^>]*>' matches any a-tag)
        length(regexp_replace(
          array_join(regexp_extract_all(h, lit("<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)), ""),
          "<[^>]*>", "")).cast("long").as("link_chars"))
      .select(col(idCol), col("n_tags"), col("n_links"),
        length(col("_clean")).cast("long").as("text_chars"), col("link_chars"),
        expr("link_chars * 1000000 div greatest(length(_clean), 1)").as("link_density_ppm"),
        substring(sha2(col("_clean"), 256), 1, 16).as("clean_hash"))
  }

  /** PMI collocations: the top-k adjacent token pairs most over-represented
    * vs their unigram frequencies — multi-word-expression mining (Church &
    * Hanks 1990) and a templated-boilerplate detector (a phrase repeated
    * verbatim across documents shows up with an extreme ratio).
    *
    * Integer PMI surrogate, monotone in the real PMI at fixed supports:
    * `pmi_ppm = ((c_ab·10⁶ div c_a) · T) div c_b` where c_a/c_b are
    * unigram occurrence counts and T the total token count — 10⁶ means
    * the pair occurs exactly as often as independence predicts. Division
    * first (round-10 rule d): `c_ab ≤ c_a` caps the first factor at 10⁶,
    * so the product stays ≤ 10⁶·T — no int64 overflow at any corpus size
    * where T < 9·10¹². A `minCount` support floor drops the noise tail
    * (singleton pairs otherwise dominate any PMI ranking).
    *
    * Scale shape: ONE Zipf-bounded fused aggregation (unigram + bigram
    * vocab together, per-doc counts pre-collapsed row-locally by the
    * `gram_counts` kernel, map-side partials on top), two equi-joins of
    * the DISTINCT-bigram table against the probe-broadcast unigram table
    * (post-aggregation rows, so the hot 'the'-key carries one row per
    * distinct partner, not per occurrence), a 1-row total broadcast, and
    * a TakeOrdered top-k. No windows. */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 50,
                   broadcastMaxVocab: Long = 4000000L): DataFrame = {
    // ONE corpus pass, ONE fused aggregation (r19): `gram_counts(toks, 3)`
    // pre-counts unigrams AND bigrams within each row (row-local — the
    // safe kind of pre-aggregation; r6 rule (b)'s loss was CROSS-row
    // keying), so the explode is per-doc-DISTINCT scale and the single
    // groupBy builds the unigram and bigram tables together (unigram
    // strings never contain a space, bigrams always do — disjoint key
    // spaces). Replaces the two-pass two-aggregation shape: same-JVM
    // both-orders A/B at sf1.0 read 0.57-0.71 s vs 0.75-1.03 s warm and
    // 1.30 vs 1.53-2.11 s cold (BENCHNOTES "Comment-only A/Bs").
    val grams = docs
      .select(explode(gramCounts(tokens(col(textCol)), 3)).as("_g"))
      .groupBy(col("_g.s").as("_s")).agg(sum(col("_g.c")).as("_c"))
      .localCheckpoint() // vocab-scale; feeds uni (×2 joins), total, bi
    val uni0 = grams.filter(!col("_s").contains(" "))
    // broadcast-vs-shuffle probe (the refFreqQuality/decontaminate
    // pattern): reads at most cap+1 rows off the checkpointed table
    val probe = math.min(broadcastMaxVocab, Int.MaxValue - 1L).toInt
    val uni = if (uni0.limit(probe + 1).count() <= probe) broadcast(uni0) else uni0
    val total = uni0.agg(sum(col("_c")).as("_t"))
    val bi = grams.filter(col("_s").contains(" ") && col("_c") >= minCount)
      .select(col("_s").as("bigram"), col("_c").as("n_pair"),
        split(col("_s"), " ").getItem(0).as("_w1"),
        split(col("_s"), " ").getItem(1).as("_w2"))
    bi.join(uni.select(col("_s").as("_w1"), col("_c").as("n_a")), Seq("_w1"))
      .join(uni.select(col("_s").as("_w2"), col("_c").as("n_b")), Seq("_w2"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_pair"), col("n_a"), col("n_b"),
        expr("((n_pair * 1000000 div n_a) * _t) div n_b").as("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("bigram"))
      .limit(topK)
  }

  /** Decile bucketing of the per-doc token count around DETERMINISTIC
    * sample quantiles — the scale answer to "percentile-rank every doc":
    * an exact percentile window would globally sort the corpus per
    * source; here the 9 cutpoints come from the bounded-state
    * [[Sketches.quantileSample]] (k-row sample, one aggregation), bucket
    * assignment is a map-only 9-element compare against the broadcast
    * cutpoint array, and the rollup is 10-bounded. The narrow
    * (id, n_words) projection is checkpointed because the sample
    * aggregate and the bucket pass both consume it (round-4 rule d —
    * recomputing means re-running the tokenizer regexes). */
  /** (id, n_words, bucket) rows — corpus-wide decile cutpoints from the
    * bounded sample, bucket assigned map-only (shared by
    * [[qualityDecileBuckets]] and [[sourceQualityMatrix]]). `extraCols`
    * ride through the checkpointed narrow projection. */
  private def withDecileBucket(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, salt: String,
                               extraCols: Seq[String]): DataFrame = {
    val scored = qualityFeatures(docs, textCol)
      .select(col(idCol) +: col("n_words").cast("long").as("n_words") +:
        extraCols.map(col): _*)
      .localCheckpoint()
    val cuts = Sketches.quantileSample(scored, col("n_words"), col(idCol),
        (1 to 9).map(_ * 10), k, salt)
      .agg(sort_array(collect_list(col("value"))).as("vl"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        size(filter(col("vl"), c => c <= col("n_words"))).cast("long"))
      .drop("vl")
  }

  def qualityDecileBuckets(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 256, salt: String = "qbuck"): DataFrame =
    withDecileBucket(docs, idCol, textCol, k, salt, Nil)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"),
        min(col("n_words")).as("min_words"), max(col("n_words")).as("max_words"))

  /** Source × quality-decile matrix: doc counts per (source, corpus-wide
    * decile bucket) plus each cell's share of its source in basis points
    * — the curation report that shows WHICH feed supplies the short-doc
    * tail. The share window runs on the sources×10-bounded rollup;
    * cutpoints are corpus-wide (per-source cutpoints would make the
    * buckets incomparable across rows). */
  def sourceQualityMatrix(docs: DataFrame, idCol: String, textCol: String,
                          srcCol: String, k: Int = 256,
                          salt: String = "qbuck"): DataFrame = {
    val cells = withDecileBucket(docs, idCol, textCol, k, salt, Seq(srcCol))
      .groupBy(col(srcCol).as("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source"))
    cells
      .withColumn("source_total", sum(col("n_docs")).over(w))
      .withColumn("share_bp", expr("n_docs * 10000 div source_total"))
  }
}
