package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All are pure Column expressions (no UDFs) so they run inside
  * whole-stage codegen and scale linearly — at 100 TB these are the
  * map-side of the pipeline and must not leave codegen.
  */
object TextAnalysis {

  /** Stopword-marker sets per language for the n-gram/stopword language-ID
    * heuristic. Deliberately small + deterministic: language score = total
    * occurrences of its marker tokens; argmax with fixed tie order. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " with "),
    "de" -> Seq(" der ", " und ", " die ", " mit "),
    "es" -> Seq(" el ", " los ", " con ", " por "),
    "fr" -> Seq(" le ", " les ", " avec ", " dans "),
    "zh" -> Seq(" de5 ", " he2 ", " shi4 ", " zai4 "))

  /** Language-ID: argmax of marker-token counts; null if no marker hits. */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    // one scan-per-language expression instead of one replace-rewrite
    // per MARKER (r14, graft_count_any_of — same non-overlapping counts)
    val scores = langMarkers.map { case (lang, ms) =>
      (lang, graft.functions.TextHashExprs.countAnyOf(padded, ms))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit(null).cast("string")) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Script→language mapping for the script-majority langid prior, in
    * fixed tie order (first match wins). Kana is handled separately
    * (any kana presence is a strong Japanese signal — hiragana carries
    * Japanese grammar particles — while Han alone reads Chinese). */
  val scriptLangs: Seq[(String, String)] = Seq(
    "cyrillic" -> "ru", "han" -> "zh", "arabic" -> "ar",
    "devanagari" -> "hi", "hangul" -> "ko", "greek" -> "el",
    "hebrew" -> "he")

  /** Script-majority language ID (round-14: composes the r13
    * [[graft.functions.UnicodeExprs.ScriptCounts]] signal with the
    * stopword heuristic). Decision rule, replayable in DuckDB via RE2
    * `\p{Script}` classes:
    *
    *  1. kana present AND han+kana > latin            → "ja"
    *  2. max non-Latin script count > latin (and > 0) → that script's
    *     language ([[scriptLangs]], fixed tie order)
    *  3. otherwise → the Latin-script stopword heuristic [[langId]]
    *
    * On pure-ASCII input every script count is 0, so rule 3 always
    * fires and the labels are BIT-IDENTICAL to [[langId]] (law-pinned).
    * `sc` must be a MATERIALIZED ScriptCounts struct column (project
    * `scriptCounts(text).as("_sc")` first): the interpreted struct
    * expression gets no subexpression elimination, so inline use would
    * re-scan the text once per field reference. */
  def langIdScript(text: Column, sc: Column): Column = {
    val latin = sc.getField("latin")
    val kana = sc.getField("kana")
    val han = sc.getField("han")
    val nonLatin = scriptLangs.map { case (s, _) => sc.getField(s) }
    val maxNl = nonLatin.reduce((a, b) => greatest(a, b))
    val argmax = scriptLangs.foldRight(lit(null).cast("string")) {
      case ((s, l), acc) =>
        when(sc.getField(s) === maxNl, lit(l)).otherwise(acc)
    }
    when(kana > 0 && (han + kana) > latin, lit("ja"))
      .when(maxNl > latin && maxNl > 0, argmax)
      .otherwise(langId(text))
  }

  /** Curation text normalization: ASCII control characters (incl. DEL)
    * become spaces, whitespace runs collapse to one space, ends trimmed.
    * Deliberately ASCII-level only — no Unicode case/width tailoring —
    * so any engine replays the rules byte-identically (the oracle does).
    * Pure codegen regexp chain, map-side. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1f\\x7f]", " "), " +", " "))

  /** Unicode-aware normalization (round 13): NFKC fold (ligatures,
    * fullwidth forms, compatibility digits, NBSP→space, combining
    * sequences composed), Unicode-category control mapping (Cc/Zl/Zp →
    * space, Cf removed — zero-width characters are invisible joins),
    * then the same whitespace collapse + trim tail as
    * [[normalizeText]]. On pure-ASCII input, bit-identical to
    * [[normalizeText]] (law-pinned): NFKC is the identity on ASCII and
    * ASCII has no Cf/Zl/Zp. Map-side projection — one JVM pass per
    * row, no shuffle. */
  def normalizeUnicode(text: Column): Column =
    trim(regexp_replace(
      graft.functions.UnicodeExprs.nfkcFold(text), " +", " "))

  /** Whitespace token count (native byte-scan split, r15 — the regex
    * form re-entered Pattern.compile per row). */
  def tokenCountWs(text: Column): Column =
    size(graft.functions.TextHashExprs.wsSplit(trim(text)))

  /** Script-aware token count (r13): whitespace tokenization undercounts
    * unsegmented CJK text by an order of magnitude (a 40-char Chinese
    * sentence is ONE ws token but ~20-40 subword tokens) — the standard
    * multilingual heuristic counts each Han/kana/Hangul character as
    * one token and ws-tokenizes the rest. The Spark-side CJK class uses
    * JAVA regex script syntax (`\p{IsHan}`); RE2/DuckDB spells the same
    * classes `\p{Han}` — the two engines agree on membership, only the
    * SPELLING differs, so an oracle edit must translate, not paste
    * (round-13 advice). The CJK char count itself is a single-pass
    * native expression (3 inline ScriptCounts getFields would evaluate
    * the no-CSE interpreted struct 3× per row). */
  def tokenCountUnicode(text: Column): Column = {
    val cjkClass = "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}]"
    val rest = trim(regexp_replace(text, cjkClass, " "))
    val restTokens = when(rest === "", lit(0))
      .otherwise(size(graft.functions.TextHashExprs.wsSplit(rest)))
    (restTokens.cast("long") +
      graft.functions.UnicodeExprs.cjkCount(text)).as("n_tokens")
  }

  /** BPE-ish token count: word runs + standalone punctuation marks. The
    * pattern is RE2-compatible (no lookarounds) so the DuckDB oracle can
    * evaluate the very same regex. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Quality score in [0,1]: blend of length band, punctuation density and
    * stopword ratio (the classic C4/Gopher-style cheap filters). */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val words = graft.functions.TextHashExprs.wsSplit(trim(text))
    val nWords = size(words).cast("double")
    val meanWordLen = nChars / greatest(nWords, lit(1.0))
    val punct = graft.functions.TextHashExprs
      .countAnyOf(text, Seq(".", ",", "!", "?", ";", ":")).cast("double")
    val punctRatio = punct / greatest(nWords, lit(1.0))
    val stop = graft.functions.TextHashExprs.countAnyOf(
      concat(lit(" "), text, lit(" ")),
      Seq(" the ", " a ", " and ", " of ", " to ")).cast("double")
    val stopRatio = stop / greatest(nWords, lit(1.0))
    val lenScore = when(nWords >= 50 && nWords <= 100000, 1.0)
      .when(nWords >= 10, 0.5).otherwise(0.0)
    val wordLenScore = when(meanWordLen >= 3 && meanWordLen <= 10, 1.0).otherwise(0.0)
    val punctScore = when(punctRatio <= 0.3, 1.0).otherwise(0.0)
    val stopScore = when(stopRatio > 0.0, 1.0).otherwise(0.0)
    round((lenScore + wordLenScore + punctScore + stopScore) / 4.0, 4)
  }

  /** Document fingerprint: 32-bit polynomial rolling hash of the
    * lowercased, whitespace-normalized token stream. aggregate() keeps the
    * fold inside the JVM expression engine. */
  def fingerprint(text: Column): Column = {
    val tokens = graft.functions.TextHashExprs.wsTokens(text)
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * 1000003L + abs(xxhash64(t)) % 1000000007L,
        lit(2147483647L)))
  }

  /** Word n-gram shingles of size n (for Jaccard / MinHash). */
  def shingles(text: Column, n: Int): Column = {
    val tokens = graft.functions.TextHashExprs.wsTokens(text)
    val idx = sequence(lit(0), greatest(size(tokens) - n, lit(0)))
    array_distinct(filter(
      transform(idx, i => concat_ws(" ", slice(tokens, i + 1, lit(n)))),
      s => s =!= ""))
  }

  /** Length of the longest run of consecutive equal elements in `arr`
    * (0 for an empty array). Single aggregate() fold — map-side, no
    * shuffle, no per-element allocation beyond the 3-field state struct. */
  def maxRunLength(arr: Column): Column =
    aggregate(arr,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, t) => {
        val nrun = when(t === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(t.as("prev"), nrun.as("run"),
          greatest(acc.getField("best"), nrun).as("best"))
      },
      acc => acc.getField("best"))

  /** Non-distinct word n-grams of the token array (empty array when fewer
    * than n tokens). */
  def tokenNgrams(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Fraction of n-gram occurrences taken by the single most frequent
    * n-gram (0 when no n-grams). Computed map-side: sort the n-gram array,
    * then the max frequency is the longest equal-run — one sort + one fold
    * per document, no (doc, gram) shuffle. */
  def topNgramFrac(tokens: Column, n: Int): Column = {
    val grams = tokenNgrams(tokens, n)
    when(size(grams) > 0,
      maxRunLength(sort_array(grams)).cast("double") /
        size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Gopher-style repetition signals, all per-document and map-side:
    *  - n_tokens: whitespace token count
    *  - distinct_token_ratio: |distinct tokens| / |tokens|
    *  - max_token_run: longest run of the same token repeated consecutively
    *  - top_bigram_frac / top_trigram_frac: share of bigram/trigram
    *    occurrences held by the most frequent one
    * Template-generated and boilerplate text scores high on the top-n-gram
    * fractions and low on the distinct ratio; natural text is the reverse.
    * 100 TB shape: ONE native pass per document
    * ([[graft.functions.TextHashExprs.RepetitionStats]] — byte-level
    * tokenizer, hashed n-grams, long sorts), no shuffle, no UDF. The HOF
    * formulation ([[maxRunLength]]/[[topNgramFrac]]) is kept as the
    * semantic reference — it re-evaluated the tokenizer per reference and
    * sorted n-gram STRINGS through interpreted lambdas, a 40× constant
    * factor on the sf0.1 bench. */
  def repetitionSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val st = graft.functions.TextHashExprs
      .repetitionStats(lower(trim(col(textCol))))
    df.select(col(idCol), st.as("_st"))
      .select(col(idCol),
        col("_st.n_tokens").as("n_tokens"),
        round(col("_st.n_distinct").cast("double") /
          greatest(col("_st.n_tokens"), lit(1)).cast("double"), 6)
          .as("distinct_token_ratio"),
        col("_st.max_run").as("max_token_run"),
        round(when(col("_st.n2") > 0,
          col("_st.top2").cast("double") / col("_st.n2").cast("double"))
          .otherwise(0.0), 6).as("top_bigram_frac"),
        round(when(col("_st.n3") > 0,
          col("_st.top3").cast("double") / col("_st.n3").cast("double"))
          .otherwise(0.0), 6).as("top_trigram_frac"))
  }

  /** The Gopher stopword set for the "contains at least 2 of" rule
    * (Rae et al. 2021, table A1). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full non-repetition Gopher quality rule set (Rae et al. 2021
    * §A.1.1; repetition rules live in [[repetitionSignals]]): word count
    * band, mean word length band, symbol-to-word ratio (# and ellipsis),
    * alphabetic-word fraction, stopword presence, and the line-shape
    * rules (bullet-start / ellipsis-end fractions). All pure Column
    * expressions over one split — map-side, codegen, engine-portable
    * (every ratio rounds to 6 so the oracle compares exactly):
    *  - n_words, mean_word_len (word chars only, not whitespace)
    *  - symbol_word_ratio: ('#' + '...' + '…' occurrences) / n_words
    *  - frac_alpha_words: words containing at least one [A-Za-z]
    *  - n_stops_present: how many of the 8 Gopher stopwords occur
    *  - frac_bullet_lines / frac_ellipsis_lines over '\n' lines
    *  - gopher_pass: the conjunction with the published thresholds
    *    (50 ≤ words ≤ 100k, 3 ≤ mean ≤ 10, symbols ≤ 0.1, alpha ≥ 0.8,
    *    stops ≥ 2, bullets ≤ 0.9, ellipsis-ends ≤ 0.3). */
  def gopherRules(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val text = col(textCol)
    // split of an empty string yields [""] (one phantom word); guard on
    // "contains any non-whitespace" (trim strips only spaces, so a
    // length-after-trim test would miss "\n") so empty/whitespace-only
    // docs report n_words = 0, not 1
    val words = when(!text.rlike("\\S"),
      array().cast("array<string>"))
      .otherwise(graft.functions.TextHashExprs.wsSplit(trim(text)))
    val nWords = size(words)
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val meanLen = round(sumLen.cast("double") /
      greatest(nWords, lit(1)).cast("double"), 6)
    val symbols = graft.functions.TextHashExprs
      .countAnyOf(text, Seq("#", "...", "…")).cast("double")
    val symbolRatio = round(symbols / greatest(nWords, lit(1)).cast("double"), 6)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]")))
    val fracAlpha = round(alphaWords.cast("double") /
      greatest(nWords, lit(1)).cast("double"), 6)
    // case-insensitive per Rae et al. (sentence-initial 'The'/'And' count)
    val lowWords = transform(words, w => lower(w))
    val stopsPresent = size(filter(
      array(gopherStops.map(lit): _*), s => array_contains(lowWords, s)))
    val lines = split(text, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletLines = size(filter(lines, l =>
      trim(l).startsWith("• ") || trim(l).startsWith("- ") ||
        trim(l).startsWith("* ")))
    val ellipsisLines = size(filter(lines, l =>
      trim(l).endsWith("...") || trim(l).endsWith("…")))
    val fracBullet = round(bulletLines.cast("double") / nLines, 6)
    val fracEllipsis = round(ellipsisLines.cast("double") / nLines, 6)
    df.select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_word_ratio"), fracAlpha.as("frac_alpha_words"),
      stopsPresent.as("n_stops_present"), fracBullet.as("frac_bullet_lines"),
      fracEllipsis.as("frac_ellipsis_lines"),
      (nWords >= 50 && nWords <= 100000 &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio <= 0.1 && fracAlpha >= 0.8 &&
        stopsPresent >= 2 &&
        fracBullet <= 0.9 && fracEllipsis <= 0.3).as("gopher_pass"))
  }

  /** PII redaction patterns, applied in order: (kind, RE2-compatible
    * regex, replacement). RE2-compatible means the DuckDB oracle (and any
    * RE2-based engine) evaluates the very same pattern — no lookarounds,
    * no backreferences. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d[\\d ]{6,}\\d", "<PHONE>"))

  /** PII scrub (the pre-training redaction stage): counts per category
    * plus the redacted text, emails → IPs → phones so earlier
    * replacements cannot create later matches. Pure regexp projection —
    * map-side, no shuffle, streaming-safe. */
  def redactPii(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val counts = piiPatterns.map { case (kind, pat, _) =>
      regexp_count(col(textCol), lit(pat)).as(s"n_${kind}s")
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }
    df.select(col(idCol) +: counts :+ redacted.as("redacted"): _*)
  }

  /** Corpus datasheet — the "dataset card" statistics pass: per group
    * (conventionally lang × source), document and token totals, exact
    * token-count percentiles (p50/p90/p99), mean tokens per doc, and the
    * char-length envelope. ONE partial-aggregated shuffle on the group
    * key; every number is engine-exact (integer sums, sort-based
    * percentile, and the mean derives from the exact totals).
    *
    * At extreme group cardinality swap the exact percentile for the
    * GK sketch ([[graft.ops.Reducers]] `quantilesApprox`) — same
    * escape hatch as zonal stats. */
  def corpusReport(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusReport needs at least one group col")
    val toks = tokenCountWs(col(textCol)).cast("double")
    df.select(groupCols.map(col) :+ toks.as("_tk") :+
        length(col(textCol)).cast("long").as("_len"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tk").cast("long")).as("n_tokens"),
        percentile(col("_tk"), lit(0.5)).as("p50_tokens"),
        percentile(col("_tk"), lit(0.9)).as("p90_tokens"),
        percentile(col("_tk"), lit(0.99)).as("p99_tokens"),
        min(col("_len")).as("min_chars"),
        max(col("_len")).as("max_chars"))
      .withColumn("mean_tokens", round(
        col("n_tokens").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** Per-document CHARACTER ENTROPY (bits) — the randomness quality
    * signal (low entropy = boilerplate/repetition, very high entropy =
    * binary junk or encoded blobs; real prose sits ~3.5-4.5 bits for
    * English). H = −Σ p_c·log2(p_c) over the lowercased character
    * histogram.
    *
    * Portability: per-character contributions p·ln(p) quantize at 1e-9
    * into LONGs before the per-doc sum (order-free), and the final
    * ÷ln 2 uses one shared literal — so results are bit-identical
    * across partitionings and engines. Shape: one explode to
    * (doc, char) rows, a count aggregate, a per-doc window total
    * (alphabet-bounded rows per doc), and the quantized fold — two
    * exchanges total, all map-side-combinable. */
  def charEntropy(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val counts = df
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
    val p = col("c").cast("double") /
      sum(col("c")).over(byDoc).cast("double")
    counts
      .withColumn("_n", sum(col("c")).over(byDoc))
      .withColumn("_q", round(p * log(p) * lit(1e9), 0).cast("long"))
      .groupBy(col(idCol))
      .agg(max(col("_n")).as("n_chars"), sum(col("_q")).as("_qs"))
      .select(col(idCol), col("n_chars"),
        round((-(col("_qs").cast("double") / lit(1e9))) /
          lit(0.6931471805599453), 6).as("entropy_bits"))
  }

  /** Corpus DRIFT monitor between two snapshots (the "did the
    * distribution move under me" audit every continuously-ingested
    * training corpus needs): KL(new‖old) and total-variation distance
    * over add-α-smoothed unigram distributions. Smoothing is over the
    * UNION vocabulary, so every token has positive mass on both sides
    * and the KL is finite.
    *
    * Portability: per-token contributions quantize at 1e-9 into LONGs
    * before the sum (order-free integer addition — the
    * [[LanguageModel]] recipe), so the result is bit-identical across
    * partitionings and engines. Probabilities are ratios of exact
    * integer counts in fixed IEEE op order.
    *
    * 100 TB shape: each snapshot collapses to a Zipf-sized count table
    * (map-side-combined), the tables full-outer-join on token, and the
    * joined table is localCheckpoint'd (it is the materialization
    * point — totals AND the final sums both read it; lazy lineage
    * would re-run both corpus explodes). Nothing holds a vocabulary
    * in driver memory. Returns ONE row:
    * (n_old, n_new, vocab, kl_new_old, tvd). */
  /** Shared drift core: the joined Zipf-sized count table (materialized
    * once), its totals, and the add-alpha smoothed probability exprs —
    * ONE implementation for the report and its top-movers audit, so the
    * two can never silently diverge. */
  private def driftJoined(oldDf: DataFrame, newDf: DataFrame,
      textCol: String, alpha: Double): (DataFrame, DataFrame,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    def counts(df: DataFrame, cName: String) =
      df.select(explode(graft.functions.TextHashExprs.wsTokens(col(textCol))).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as(cName))
    val j = counts(oldDf, "c_old")
      .join(counts(newDf, "c_new"), Seq("tok"), "full_outer")
      .na.fill(0L, Seq("c_old", "c_new"))
      .localCheckpoint(true)
    val tot = j.agg(sum(col("c_old")).as("n_old"),
      sum(col("c_new")).as("n_new"), count(lit(1)).as("vocab"))
    val po = (col("c_old") + lit(alpha)) /
      (col("n_old") + lit(alpha) * col("vocab"))
    val pn = (col("c_new") + lit(alpha)) /
      (col("n_new") + lit(alpha) * col("vocab"))
    (j, tot, po, pn)
  }

  def distributionDrift(oldDf: DataFrame, newDf: DataFrame,
      textCol: String, alpha: Double = 0.5): DataFrame = {
    val (j, tot, po, pn) = driftJoined(oldDf, newDf, textCol, alpha)
    j.crossJoin(broadcast(tot))
      .select(col("n_old"), col("n_new"), col("vocab"),
        round(pn * log(pn / po) * lit(1e9), 0).cast("long").as("_klq"),
        round(abs(pn - po) * lit(1e9), 0).cast("long").as("_tvq"))
      .groupBy("n_old", "n_new", "vocab")
      .agg(sum(col("_klq")).as("_kl"), sum(col("_tvq")).as("_tv"))
      .select(col("n_old"), col("n_new"), col("vocab"),
        round(col("_kl").cast("double") / lit(1e9), 6).as("kl_new_old"),
        round(col("_tv").cast("double") / lit(1e9) * lit(0.5), 6).as("tvd"))
  }

  /** Per-token drift TOP MOVERS — the actionable half of
    * [[distributionDrift]]: the k tokens whose smoothed probability
    * moved most (|Δp| desc, token asc — deterministic), with both
    * sides' counts and the 1e-9-quantized delta. Plans as
    * TakeOrderedAndProject over the same joined count table — bounded
    * per-partition heaps, never a global sort. */
  def driftTopMovers(oldDf: DataFrame, newDf: DataFrame, textCol: String,
      k: Int, alpha: Double = 0.5): DataFrame = {
    val (j, tot, po, pn) = driftJoined(oldDf, newDf, textCol, alpha)
    j.crossJoin(broadcast(tot))
      .select(col("tok"), col("c_old"), col("c_new"),
        round(abs(pn - po) * lit(1e9), 0).cast("long").as("delta_q"))
      .orderBy(col("delta_q").desc, col("tok"))
      .limit(k)
  }
}
