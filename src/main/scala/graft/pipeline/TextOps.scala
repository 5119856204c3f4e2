package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines
 * (engine extension beyond the reference; SURVEY.md §7.1 step 8).
 *
 * Everything is built from codegen'd Spark SQL functions — no UDFs — so
 * Catalyst can push, prune and pipeline these inside whole-stage codegen.
 * Hash-derived values use md5 (not Spark's murmur/xxhash) so every operator
 * stays replayable in any engine with md5 (the correctness oracles rely on
 * this).
 */
object TextOps {

  /** whitespace tokenization of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenization pattern: letter runs, digit runs, and
    * single non-alphanumeric marks (the coarse shape GPT-2-style BPE
    * splits on before merges). Deliberately ASCII-class-based so the
    * pattern means the same thing in Java regex (Spark) and RE2
    * (DuckDB). */
  val BpeTokenPattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish token pieces of the raw (case-preserved) text. */
  def bpeTokens(text: Column): Column = regexp_extract_all(text, lit(BpeTokenPattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text)).cast("long")

  /** Stable 60-bit hash from the first 15 hex chars of md5 — portable across
    * engines, uniform enough for sketching. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: hash of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5Long(concat_ws(" ", tokens(text)))

  /** Bind an expensive sub-expression to a lambda VARIABLE so downstream
    * per-element lambdas reference it without re-evaluation: a naive
    * `transform(sequence(...), i => f(expensive, i))` form captures the
    * expression tree in the lambda body and re-evaluates it once per
    * ELEMENT — quadratic in document length (round-1/2 lesson). Wrapping
    * in a 1-element array and transforming binds it once per row. */
  private def bind(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** Guarded 1..cnt index sequence: empty when cnt < 1 (2-arg sequence
    * steps -1 and 3-arg throws on Spark 4 for empty ranges). */
  private def indices1To(cnt: Column): Column =
    when(cnt >= 1, sequence(lit(1), greatest(cnt, lit(1)), lit(1)))
      .otherwise(array().cast("array<int>"))

  /** Character n-grams (1-based substrings, length n). Text shorter than n
    * chars yields an empty array. */
  def charNgrams(text: Column, n: Int): Column =
    bind(lower(trim(text))) { t =>
      transform(indices1To(length(t) - (n - 1)), i => t.substr(i, lit(n)))
    }

  /** Word n-grams joined with single spaces; fewer than n tokens yields an
    * empty array. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsOfTokens(tokens(text), n)

  /** Word n-grams over an already-tokenized array — element `i` (0-based)
    * is the gram starting at token `i + 1`, so callers that need gram
    * POSITIONS (substring dedup) can posexplode this. */
  def wordNgramsOfTokens(ts: Column, n: Int): Column =
    bind(ts) { t =>
      transform(indices1To(size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + lit(j))): _*))
    }

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "on", "for", "with", "as", "by", "at", "or")

  /** Quality heuristics (length / stopword / digit signals), composite in
    * [0,1]. Deterministic double arithmetic, no RNG. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val stopRatio = size(filter(toks, t => t.isin(EnStopwords: _*))).cast("double") / n
    val digitRatio = length(regexp_replace(text, "[^0-9]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val lengthTerm = least(n / lit(100.0), lit(1.0))
    val score = lit(0.3) * lengthTerm + lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - digitRatio)
    // floor-quantize instead of round(): both engines compute bit-identical
    // doubles here, so floor(x*1e4+0.5) is deterministic across engines,
    // while decimal-string HALF_UP (Spark round) vs binary rounding (DuckDB)
    // disagree on exact .5 boundaries like 0.53575.
    floor(score * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)
  }

  /** Per-document character-entropy quality signal: Shannon entropy of
    * the character distribution in nats on the e4 integer lattice — the
    * classic compressibility proxy (repetitive boilerplate scores low,
    * natural prose mid, random junk high) without a compressor
    * dependency, so it stays a pure relational plan.
    *
    * Engine-exact convention: each ln is floor-quantized to e4
    * IMMEDIATELY (`lnq(x) = floor(ln(x)·1e4 + 0.5)`; quantum ≫ libm ulp
    * at |ln| ≤ ~12), per-char contributions combine as LONGS, and
    * `entropy_e4 = floor((n·lnq(n) − Σ c·lnq(c)) / n + 0.5)` — the
    * identity H = Σ (c/n)(ln n − ln c) on the lattice, identical in
    * Spark and DuckDB.
    *
    * Scale shape: char explode → (doc, char) count aggregate (map-side
    * partials shrink each doc to ≤ alphabet-size rows) → per-doc
    * aggregate. Two hash aggregates on the doc key, no joins. Documents
    * with NULL/empty text produce no rows (no characters, no
    * distribution). */
  def charEntropyE4(df: DataFrame, id: Column, text: Column): DataFrame = {
    def lnqE4(c: Column): Column =
      floor(log(c.cast("double")) * 10000.0 + 0.5).cast("long")
    df.select(id.as("doc_id"), explode(split(text, "")).as("__ch"))
      .filter(col("__ch") =!= "")
      .groupBy(col("doc_id"), col("__ch"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_chars"),
        sum(col("__c") * lnqE4(col("__c"))).as("__clnc"))
      .select(col("doc_id"), col("n_chars"),
        floor((col("n_chars") * lnqE4(col("n_chars")) - col("__clnc")).cast("double")
          / col("n_chars").cast("double") + 0.5).cast("long").as("entropy_e4"))
  }

  /** Marker lexicons for the language-ID heuristic. Order matters: ties are
    * broken by this priority. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "du", "une"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Per-language marker-token counts. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isin(markers: _*))).cast("long")
    }
  }

  /** argmax over [[langScores]] with declaration-order tiebreak; "und"
    * (undetermined) when no marker hits at all. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.tail.foldLeft[(Column, Column)](lit(scores.head._1) -> scores.head._2) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /** The shared md5 10000-lattice bucket — THE definition every
    * hash-admission op ([[deterministicSplit]], Mixing.copyCount,
    * train/holdout splits) buckets with; one definition so the
    * "same lattice" guarantees in their docs hold by construction. */
  def hashBucket10k(id: Column, salt: String): Column =
    pmod(md5Long(concat(id.cast("string"), lit(salt))), lit(10000L))

  /** Deterministic split assignment ("train"/"val"/"test"-style) from a
    * stable hash of the id plus a salt. Content-independent and
    * engine-portable (md5 arithmetic): re-running on a grown corpus never
    * reassigns an existing id, and changing the salt draws a fresh
    * independent split. Per-row projection — no shuffle, no RNG, no
    * sampling pass; exactly what a 100 TB split needs.
    *
    * `weights` are (name, weight) fractions, normalized internally;
    * boundaries are laid out on a 0..9999 hash lattice in declaration
    * order, so expected proportions hold to 1e-4. */
  def deterministicSplit(id: Column, weights: Seq[(String, Double)],
      salt: String = ""): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = hashBucket10k(id, salt)
    // cumulative upper bounds on the 10000-lattice; last bound forced to
    // 10000 so fp rounding can never leave a bucket unassigned
    val cums = weights.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c / total * 10000.0))
    val bounds = cums.init :+ 10000L
    weights.map(_._1).zip(bounds).reverse.foldLeft(lit(weights.last._1)) {
      case (acc, (name, hi)) => when(bucket < hi, lit(name)).otherwise(acc)
    }
  }

  /** Overlapping character chunks for context-window packing: chunk `i`
    * covers 1-based char positions `i*stride+1 .. i*stride+size` with
    * `stride = size - overlap`. Empty text yields no chunks; the final
    * chunk may be shorter than `size`. Output: one row per chunk with
    * 0-based `chunk_idx`, 0-based `char_start`, and the `chunk` text —
    * a pure explode-projection (no shuffle; chunk rows inherit the
    * document's partitioning). */
  def chunkText(df: DataFrame, id: Column, text: Column,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    // n = ceil(max(len - overlap, 1) / stride) for len > 0: the last chunk
    // starts before len - overlap so every trailing char is covered once
    val len = length(text)
    val n = ceil(greatest(len - overlap, lit(1)).cast("double") / stride).cast("int")
    df.select(id.as("__id"), text.as("__text"), len.as("__len"), n.as("__n"))
      .filter(col("__len") > 0)
      .select(col("__id"), col("__text"),
        explode(sequence(lit(0), col("__n") - 1)).as("chunk_idx"))
      .select(
        col("__id").as("id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx").cast("long") * stride).as("char_start"),
        col("__text").substr(col("chunk_idx") * stride + 1, lit(size)).as("chunk"))
  }

  /** Gopher-style repetition quality signals, adapted to line-free text:
    * per document, the occurrence fraction of the single most frequent
    * word (`top_word_frac`) and the fraction of word 2-/3-gram occurrences
    * that are repeats (`dup_2gram_frac`, `dup_3gram_frac`). High values
    * mark boilerplate/templated/degenerate documents that repetition
    * filters drop before training.
    *
    * Scale design: the per-(doc, gram) counts need a shuffle keyed on
    * (doc, n, gram) — the textbook formulation that stays bounded for
    * million-token documents, where a per-row quadratic `transform` scan
    * would not. One explode union (3 gram sizes share the scan), one
    * aggregate, one per-doc rollup on the same doc key. Fractions are
    * ratios of exact longs, floor-quantized to 1e-4 (the cross-engine
    * convention, see [[qualityScore]]). Documents with fewer than n
    * tokens have no n-grams: their fraction is 0. */
  def repetitionStats(df: DataFrame, id: Column, text: Column): DataFrame = {
    val grams = Seq(1, 2, 3).map { n =>
      df.select(id.as("__id"), explode(wordNgrams(text, n)).as("__g"))
        .withColumn("__n", lit(n))
    }.reduce(_ unionByName _)
    val counts = grams.groupBy(col("__id"), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val stats = counts.groupBy(col("__id"), col("__n")).agg(
      sum(col("__c")).as("__tot"),
      max(col("__c")).as("__top"),
      sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("__dup"))
    def q4(c: Column): Column = floor(c * 10000.0 + 0.5).cast("double") / 10000.0
    def frac(n: Int, num: Column): Column =
      coalesce(max(when(col("__n") === n,
        q4(num.cast("double") / col("__tot").cast("double")))), lit(0.0))
    stats.groupBy(col("__id").as("doc_id")).agg(
      frac(1, col("__top")).as("top_word_frac"),
      frac(2, col("__dup")).as("dup_2gram_frac"),
      frac(3, col("__dup")).as("dup_3gram_frac"))
  }

  /** Text normalization for ingest: strip control characters, collapse
    * whitespace runs to single spaces, trim. Pure codegen'd projection
    * (regex classes shared by Java regex and RE2, so oracles replay it);
    * run BEFORE tokenization-sensitive ops so token/gram spaces are
    * stable across crawls with different raw formatting. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "),
      "\\s{2,}", " "))

  /** HTML → text extraction (the WET step between a raw crawl and the
    * curation filters): drop script/style subtrees and comments, turn
    * block-closing tags into newlines, strip remaining tags, decode the
    * common entities, collapse whitespace. A deliberately regex-only
    * "trafilatura-lite" — every pattern uses `(?is)` + lazy repetition
    * only, semantics identical in Java regex (Spark) and RE2 (DuckDB),
    * so the extraction is oracle-replayable. Pure codegen'd projection:
    * no shuffle, 100 TB is one pass over the payload column. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val entities = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, e, r)
    }
    // full-whitespace edge trim (trim() strips spaces only, and block
    // closes leave edge newlines); \x0B already collapsed above, so the
    // Java-vs-RE2 \s difference cannot bite
    regexp_replace(
      regexp_replace(regexp_replace(decoded, "[ \\t\\x0B\\f\\r]+", " "),
        "\\s*\\n\\s*", "\n"),
      "^\\s+|\\s+$", "")
  }

  /** PII patterns, deliberately restricted to syntax with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB): character classes,
    * bounded repetition and `\b` only — no lookaround, no backrefs. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val LongIdPattern: String = "\\b[0-9]{13,19}\\b"

  /** PII redaction: mask emails, phone-shaped numbers and long digit
    * runs (payment-card / account-number shaped) with typed placeholder
    * tokens, and count each category. Pure per-row projection of
    * codegen'd regex functions — no shuffle, trivially 100 TB-safe.
    * Patterns are applied email → long-id → phone, and each category is
    * COUNTED on the text with the earlier categories already masked, so
    * the counts always sum to the number of masked sites — an all-digit
    * email local part of 13-19 digits is one email, not also an id. */
  def redactPii(df: DataFrame, id: Column, text: Column): DataFrame = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val afterId = regexp_replace(afterEmail, LongIdPattern, "<ID>")
    val masked = regexp_replace(afterId, PhonePattern, "<PHONE>")
    df.select(
      id.as("doc_id"),
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterId, lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(afterEmail, lit(LongIdPattern), lit(0))).cast("long").as("n_ids"),
      masked.as("redacted"))
  }

  /** Gopher-style document-quality rule filter (Rae et al. 2021 §A1.1
    * shape): per-document boolean rule flags plus the conjunction `keep`.
    *
    * Single-scan formulation: EVERY rule input — word count, mean word
    * length, stopword hits, top-word and duplicate-n-gram fractions — is
    * derived from one (doc, n, gram)-keyed count aggregate (the
    * [[repetitionStats]] shuffle): the unigram slice carries total tokens
    * (Σc), character mass (Σ len(g)·c) and stopword hits (Σc over the
    * stopword set), so the corpus is read once instead of once per rule
    * family. Threshold comparisons run on the same 1e-4 floor-quantized
    * lattice both engines compute bit-identically. */
  def gopherFilter(df: DataFrame, id: Column, text: Column,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwordHits: Long = 2,
      maxTopWordFrac: Double = 0.20,
      maxDup2Frac: Double = 0.30, maxDup3Frac: Double = 0.25): DataFrame = {
    def q4(c: Column): Column = floor(c * 10000.0 + 0.5).cast("double") / 10000.0
    val grams = Seq(1, 2, 3).map { n =>
      df.select(id.as("__id"), explode(wordNgrams(text, n)).as("__g"))
        .withColumn("__n", lit(n))
    }.reduce(_ unionByName _)
    val counts = grams.groupBy(col("__id"), col("__n"), col("__g"))
      .agg(count(lit(1)).as("__c"))
    val stats = counts.groupBy(col("__id"), col("__n")).agg(
      sum(col("__c")).as("__tot"),
      max(col("__c")).as("__top"),
      sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("__dup"),
      sum(length(col("__g")).cast("long") * col("__c")).as("__chars"),
      sum(when(col("__g").isin(EnStopwords: _*), col("__c")).otherwise(0L)).as("__stop"))
    def at(n: Int, c: Column): Column = max(when(col("__n") === n, c))
    def frac(n: Int, num: Column): Column =
      coalesce(at(n, q4(num.cast("double") / col("__tot").cast("double"))), lit(0.0))
    stats.groupBy(col("__id").as("doc_id")).agg(
      coalesce(at(1, col("__tot")), lit(0L)).as("__nw"),
      at(1, q4(col("__chars").cast("double") / col("__tot").cast("double"))).as("__ml"),
      coalesce(at(1, col("__stop")), lit(0L)).as("__sh"),
      frac(1, col("__top")).as("__topf"),
      frac(2, col("__dup")).as("__dup2"),
      frac(3, col("__dup")).as("__dup3"))
      .select(
        col("doc_id"),
        (col("__nw") >= minWords && col("__nw") <= maxWords).as("words_ok"),
        (col("__ml") >= minMeanWordLen && col("__ml") <= maxMeanWordLen).as("word_len_ok"),
        (col("__sh") >= minStopwordHits).as("stopword_ok"),
        (col("__topf") <= maxTopWordFrac).as("top_word_ok"),
        (col("__dup2") <= maxDup2Frac && col("__dup3") <= maxDup3Frac).as("repetition_ok"))
      .withColumn("keep",
        col("words_ok") && col("word_len_ok") && col("stopword_ok") &&
          col("top_word_ok") && col("repetition_ok"))
  }

  /** C4/RefinedWeb-style GLOBAL line deduplication: boilerplate lines
    * ("subscribe to our newsletter", copyright footers) repeat across
    * millions of pages; every line occurring more than once in the corpus
    * keeps exactly its FIRST occurrence (minimum `(doc_id, line_idx)` —
    * deterministic, order-independent) and is dropped everywhere else,
    * including repeats within one document. Lines shorter than
    * `minLineChars` bypass dedup entirely (deduping "" or "---" globally
    * would destroy structure, not boilerplate). Output: one row per doc
    * with the reassembled text (kept lines in original order) and
    * line-count accounting.
    *
    * Scale shape: posexplode → one hash aggregate keyed on line text
    * (map-side partial min) → line-keyed join back → per-doc aggregate.
    * The join key is raw line text; heavy boilerplate makes hot keys,
    * which is the AQE skew-join regime the p46 Zipf spec pins. */
  def lineDedup(df: DataFrame, id: Column, text: Column,
      minLineChars: Int = 5): DataFrame = {
    val lines = df.select(id.as("doc_id"),
        posexplode(split(text, "\n")).as(Seq("idx", "ln")))
      .withColumn("idx", col("idx").cast("long"))
    val winners = lines.filter(length(col("ln")) >= minLineChars)
      .groupBy(col("ln")).agg(min(struct(col("doc_id"), col("idx"))).as("__w"))
    val marked = lines.join(winners, Seq("ln"), "left")
      .withColumn("__keep", col("__w").isNull ||
        (col("__w.doc_id") === col("doc_id") && col("__w.idx") === col("idx")))
    val rebuilt = marked.groupBy(col("doc_id")).agg(
        array_sort(collect_list(when(col("__keep"), struct(col("idx"), col("ln")))))
          .as("__ks"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"),
        array_join(transform(col("__ks"), s => s.getField("ln")), "\n").as("text"),
        col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"))
    // null-text docs produce NO exploded lines and would silently vanish
    // from the aggregate: join every input doc back so they survive with
    // null text and zeroed line accounting (one row per input doc, always)
    df.select(id.as("doc_id")).join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** Corpus data card: per-language governance summary — document and
    * token counts, length percentiles, exact-duplicate rate — the report
    * a training-data release ships with.
    *
    * Percentile convention: value at 1-based rank `ceil(q * n)` of the
    * ascending (length, doc_id)-ordered list — deterministic and
    * replayable in any engine, unlike interpolating quantiles.
    *
    * Scale shape: NO row-level window. All document-level work is
    * hash-partitioned aggregation (a `(lang, length)` histogram plus a
    * `(lang)` distinct-fingerprint aggregate, both with map-side
    * partials). The only window runs over the histogram — cardinality =
    * distinct doc lengths per language, thousands of rows regardless of
    * corpus size — so a dominant language (half a 100-TB web corpus)
    * never forces a single-task sort of its documents. The rank-`r`
    * value of the (length, id)-ordered list is the smallest length whose
    * cumulative histogram count reaches `r` (the id tiebreaker permutes
    * docs within one length bucket, never the value), so the histogram
    * lookup is exactly the windowed convention. */
  def corpusReport(df: DataFrame, id: Column, text: Column, lang: Column): DataFrame = {
    val base = df.select(id.as("__id"), lang.as("lang"),
      tokenCount(text).as("__toks"), fingerprint(text).as("__fp"))
    // shared pre-aggregate: both downstream aggregates (histogram and
    // duplicate counting) consume the SAME (lang, toks, fp)-keyed frame,
    // so the corpus is tokenized+fingerprinted once and AQE reuses one
    // exchange instead of scanning the corpus per branch
    val pre = base.groupBy(col("lang"), col("__toks"), col("__fp"))
      .agg(count(lit(1)).as("__c"))
    val hist = pre.groupBy(col("lang"), col("__toks"))
      .agg(sum(col("__c")).as("__cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("__toks"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(Window.partitionBy(col("lang"))))
    def pct(q: Double): Column =
      min(when(col("__cum") >= ceil(lit(q) * col("__n")), col("__toks")))
    val pcts = cum.groupBy(col("lang")).agg(
      sum(col("__cnt")).as("n_docs"),
      sum(col("__toks") * col("__cnt")).as("n_tokens"),
      pct(0.5).as("p50_tokens"),
      pct(0.9).as("p90_tokens"),
      pct(0.99).as("p99_tokens"))
    val dups = pre.groupBy(col("lang"))
      .agg((sum(col("__c")) - countDistinct(col("__fp"))).as("n_exact_dups"))
    pcts.join(dups, "lang")
  }

  /** Unigram language-model quality score — the "perplexity filter" of
    * LLM data pipelines in its engine-exact form: train add-one-smoothed
    * unigram log-probabilities on the corpus itself (one token aggregate),
    * then score every document by mean token log-prob. Low scores mark
    * gibberish/rare-token text, high scores natural prose.
    *
    * Engine-exactness: ln runs on the integer lattice (c+1, T+V) and is
    * floor-quantized to 1e-4 IMMEDIATELY (the idf convention —
    * libm ulp differences cannot survive the quantization except on exact
    * boundaries, which the fixed corpus pins); per-document averaging
    * sums the quantized values as LONGS (order-independent) before one
    * final quantized division.
    *
    * Scale shape: token explode → (token) count aggregate (map-side
    * partials) → hash join scores back on token → (doc) aggregate. Two
    * shuffles, both on high-cardinality keys; no broadcast of the
    * vocabulary needed (but Spark will pick one if it fits). Hot tokens
    * ('the' ≈ 5 % of any English corpus) skew the token-keyed join in the
    * non-broadcast regime; AQE's skew-join split handles it (spec-pinned:
    * a 50 %-hot Zipf fixture splits into `skew=true` reads with values
    * identical to the unskewed plan). */
  def unigramLogProbScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("__id"), explode(tokens(text)).as("__t"))
      .filter(col("__t") =!= "")
    // the vocabulary feeds two consumers (totals + per-token scores):
    // one materialization; a crossJoin against its own descendant
    // aggregate would also trip self-join attribute dedup
    val vocab = toks.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    // corpus totals are two longs — driver-held by the same bounded-frame
    // contract as the bloom/centroid builders
    val totalsRow = vocab.agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
    val denom = (totalsRow.getLong(0) + totalsRow.getLong(1)).toDouble
    val scored = vocab.select(col("__t").as("__tok"),
      floor(log((col("__c") + 1).cast("double") / denom) * 10000.0 + 0.5)
        .cast("long").as("__lp_e4"))
    toks.join(scored, col("__t") === col("__tok"))
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__lp_e4")).as("__sum_e4"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("__sum_e4").cast("double") / col("n_tokens").cast("double") + 0.5)
          .cast("double") / 10000.0).as("avg_logprob"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * each raw-corpus document by the average target-vs-corpus unigram
    * log-likelihood ratio — the paper's hashed-feature bag-of-words
    * importance estimator with unigram features. Both LMs use the same
    * add-one smoothing and e4 floor-quantization as
    * [[unigramLogProbScore]]; tokens unseen in the target LM score
    * `log(1/denom_target)` (count 0), so the per-token ratio
    * `lp_target_e4 - lp_corpus_e4` is an exact integer lattice and the
    * per-doc average is order-independent.
    *
    * Scale shape: the target set is small by construction (it defines the
    * distribution to match, e.g. a quality reference corpus), so its
    * vocabulary aggregates cheaply; the raw corpus pays one token explode
    * → (token) count aggregate → token-keyed join back — the same two
    * high-cardinality shuffles as [[unigramLogProbScore]], skew handled
    * by AQE (spec-pinned there). Nothing shuffles document text.
    *
    * Output: `doc_id`, `n_tokens`, `dsir_score` (avg log-ratio, e4). */
  def importanceWeights(corpus: DataFrame, id: Column, text: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    val toks = corpus.select(id.as("__id"), explode(tokens(text)).as("__t"))
      .filter(col("__t") =!= "")
    toks.join(importanceVocab(corpus, text, target, targetText),
        col("__t") === col("__tok"))
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr_e4")).as("__sum_e4"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("__sum_e4").cast("double") / col("n_tokens").cast("double") + 0.5)
          .cast("double") / 10000.0).as("dsir_score"))
  }

  /** The DSIR model itself: per-token `__lr_e4 = lp_target - lp_corpus`
    * on the e4 integer lattice (`__tok`, `__lr_e4`). Batch scoring joins
    * it corpus-side; ingest-time scoring collapses it to a broadcastable
    * map (the trained model is MB-scale like the dedup blooms — its size
    * is the vocabulary, not the corpus). */
  def importanceVocab(corpus: DataFrame, text: Column,
      target: DataFrame, targetText: Column): DataFrame = {
    val vocabC = corpus.select(explode(tokens(text)).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val vocabT = target.select(explode(tokens(targetText)).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    // both denominators are two longs — driver-held by the same
    // bounded-frame contract as unigramLogProbScore's
    val cRow = vocabC.agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
    val denomC = (cRow.getLong(0) + cRow.getLong(1)).toDouble
    val tRow = vocabT.agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
    val denomT = (tRow.getLong(0) + tRow.getLong(1)).toDouble
    // an EMPTY target trains no model: lpE4 with denomT = 0 would floor
    // log(x/0) into Long.MaxValue per token and overflow the per-doc sum
    // into garbage ranks — no token can be weighted, return the empty
    // model (weights/resample then select nothing, the empty-out law).
    // An empty CORPUS needs no guard: vocabC is empty, so zero rows ever
    // evaluate lpE4 with denomC = 0.
    if (denomT == 0.0)
      return vocabC.select(col("__t").as("__tok"), lit(0L).as("__lr_e4"))
        .filter(lit(false))
    def lpE4(c: Column, denom: Double): Column =
      floor(log((c + 1).cast("double") / denom) * 10000.0 + 0.5).cast("long")
    vocabC.select(col("__t").as("__tok"), lpE4(col("__c"), denomC).as("__lpc_e4"))
      .join(vocabT.select(col("__t").as("__tok"), col("__c").as("__ct")), Seq("__tok"), "left")
      .select(col("__tok"),
        (lpE4(coalesce(col("__ct"), lit(0L)), denomT) - col("__lpc_e4")).as("__lr_e4"))
  }


  /** DSIR selection: keep the `k` corpus documents whose importance
    * weight ranks highest (ties by doc_id — fully deterministic, unlike
    * the paper's Gumbel resampling, so reruns and the oracle agree).
    * The rank is a TakeOrdered over (score, id) pairs — never a global
    * sort — and the k selected ids broadcast back as a flag join. */
  def importanceResample(corpus: DataFrame, id: Column, text: Column,
      target: DataFrame, targetText: Column, k: Int): DataFrame = {
    val w = importanceWeights(corpus, id, text, target, targetText)
    val topIds = w.orderBy(col("dsir_score").desc, col("doc_id").asc)
      .limit(k).select(col("doc_id").as("__sel"))
    w.join(broadcast(topIds), col("doc_id") === col("__sel"), "left")
      .withColumn("selected", col("__sel").isNotNull)
      .drop("__sel")
  }

  /** CCNet-style perplexity partition (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * arXiv:1911.00359 §4.4): split each language's documents into
    * `head` / `middle` / `tail` by LM-score percentile — head is the
    * best-scoring `headFrac` of the language's docs, middle the next
    * `midFrac`, tail the rest. The standard corpus stratification step
    * before mixing (CCNet trains on head+middle, discards tail).
    *
    * Assignment is per SCORE CLASS, not per document: all docs of a
    * language sharing an (exactly equal) score value land in the same
    * bucket, decided by the class's exclusive cumulative count — a class
    * whose first doc starts before the head cut `ceil(headFrac * n)` is
    * head, etc. Class-level semantics make the result independent of any
    * within-class ordering (CCNet's own threshold-on-perplexity rule is
    * also class-level) and keep the operator engine-exact when the score
    * rides the e4 integer lattice ([[unigramLogProbScore]]).
    *
    * Scale shape: one (lang, score)-keyed count aggregate with map-side
    * partials — the only corpus-sized shuffle; the per-language
    * cumulative window runs over the aggregated CLASS frame (languages x
    * distinct lattice scores, MB-scale at 100 TB), partitioned by
    * language so it parallelizes across them; buckets broadcast back.
    * No corpus-wide sort, no per-document window. */
  def perplexityPartition(df: DataFrame, id: Column, score: Column, lang: Column,
      headFrac: Double = 0.3, midFrac: Double = 0.3): DataFrame = {
    require(headFrac > 0 && midFrac > 0 && headFrac + midFrac < 1.0,
      s"fractions must be positive with headFrac+midFrac < 1, got $headFrac/$midFrac")
    val base = df.select(id.as("doc_id"), lang.as("lang"), score.as("score"))
    val classes = base.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("__c"))
    // exclusive cumulative count of classes, best score first, and the
    // language total — both windows over the tiny class frame
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    val bucketed = classes
      .withColumn("__before", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wAll))
      .select(col("lang").as("__bl"), col("score").as("__bs"),
        when(col("__before") < ceil(col("__n") * headFrac), "head")
          .when(col("__before") < ceil(col("__n") * (headFrac + midFrac)), "middle")
          .otherwise("tail").as("ppl_bucket"))
    // null-SAFE join back: groupBy keeps NULL-lang / NULL-score classes,
    // and a plain equi-join would silently drop those documents
    base.join(broadcast(bucketed),
        col("lang") <=> col("__bl") && col("score") <=> col("__bs"))
      .select(col("doc_id"), col("lang"), col("score"), col("ppl_bucket"))
  }

  /** Corpus snapshot delta: classify every document id across two corpus
    * versions as `added` / `removed` / `changed` / `unchanged` by content
    * hash — the incremental-pipeline planning step ("reprocess only what
    * tonight's crawl actually changed"). NULL texts compare null-safely
    * (two NULLs are `unchanged`).
    *
    * Scale shape: texts die at the per-side hash projection; the full
    * outer join shuffles two (id, 8-byte hash) frames on id. Snapshots
    * stored via [[Prepared.writeBucketed]] on the id satisfy the join
    * clustering straight off the scan — zero exchanges. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      oldId: Column, oldText: Column, newId: Column, newText: Column): DataFrame = {
    val o = oldDf.select(oldId.cast("long").as("__oid"), md5Long(oldText).as("__oh"))
    val n = newDf.select(newId.cast("long").as("__nid"), md5Long(newText).as("__nh"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as("doc_id"),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .when(col("__oh") <=> col("__nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /**
   * Apply a change batch to a corpus snapshot — the CDC/upsert merge
   * of data-lake table maintenance (Delta/Iceberg MERGE semantics,
   * relationally): `changes` carries `(id, op ∈ {upsert, delete},
   * text, version)`; per id the HIGHEST version wins (ties to the
   * change side — a same-version change is a correction), a winning
   * `delete` removes the row, a winning `upsert` replaces or inserts
   * it, untouched base rows carry through. Output: the merged snapshot
   * `(doc_id, text, version, last_op)`. Among duplicate SAME-version
   * changes for one id the (op, text) max wins under Catalyst's
   * UTF8String BINARY string order — an `upsert` beats a same-version
   * `delete` — deterministic, but version your changes distinctly if
   * you care which. Null-op change rows are dropped as invalid.
   *
   * Scale shape: one union of (id, version, op, text) tuples + one
   * per-id arg-max via struct-max aggregate (map-side combinable — NO
   * window over the corpus) + a delete filter. Snapshots bucketed on
   * id ([[Prepared.writeBucketed]]) satisfy the aggregate's
   * clustering straight off the scan.
   */
  def applyChanges(base: DataFrame, baseId: Column, baseText: Column,
      changes: DataFrame, chId: Column, chOp: Column, chText: Column,
      chVersion: Column): DataFrame = {
    val b = base.select(baseId.cast("long").as("doc_id"),
      lit(0L).as("__v"), lit("base").as("__op"), baseText.as("__text"),
      lit(0L).as("__pref"))
    val c = changes.select(chId.cast("long").as("doc_id"),
      chVersion.cast("long").as("__v"), chOp.as("__op"), chText.as("__text"),
      lit(1L).as("__pref"))
      // a null op is an invalid change row: dropped up front (the
      // delete filter below would otherwise drop its winner SILENTLY
      // — delete-like by accident); same contract as the streaming twin
      .filter(col("__op").isNotNull)
    b.unionAll(c)
      .groupBy(col("doc_id"))
      // arg-max by (version, change-side preference); struct-max keeps
      // the whole winning row without a corpus-wide window
      .agg(max(struct(col("__v"), col("__pref"), col("__op"), col("__text"))).as("w"))
      .filter(col("w.__op") =!= "delete")
      .select(col("doc_id"), col("w.__text").as("text"),
        col("w.__v").as("version"), col("w.__op").as("last_op"))
  }

  /** Corpus vocabulary: term frequency and document frequency per token,
    * top `k` by frequency (ties broken by term). One explode + one
    * hash-partitioned aggregate with map-side partials; the top-k is a
    * TakeOrdered over the aggregated (distinct-term-sized) frame, never a
    * global sort of token instances. */
  def topTerms(df: DataFrame, id: Column, text: Column, k: Int): DataFrame = {
    df.select(id.as("__id"), explode(tokens(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("term_count"), countDistinct(col("__id")).as("doc_count"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(k)
  }

  // -------------------------------------------------------------------
  // Hashed bag-of-ngrams linear classifier (fastText inference shape)
  // -------------------------------------------------------------------

  /** Feature-hash bucket count for [[classifierScored]] (2^20, the
    * fastText `-bucket` default order of magnitude). */
  val ClassifierBuckets: Long = 1L << 20

  /** Non-empty whitespace tokens — the unigram feature stream shared by
    * the classifier and the bigram LM. NULL text behaves like empty text
    * (zero tokens), matching the oracle's no-rows-from-unnest path. */
  def cleanTokens(text: Column): Column =
    filter(tokens(coalesce(text, lit(""))), t => t =!= "")

  /** Classifier feature list: unigrams ++ word bigrams over the cleaned
    * token stream (fastText `-wordNgrams 2`). */
  def classifierFeatures(text: Column): Column =
    bind(cleanTokens(text)) { tk => concat(tk, wordNgramsOfTokens(tk, 2)) }

  /** Frozen "pretrained" weight for a hash bucket, in integer MICRO-units
    * (e6): a Knuth multiplicative scramble of the bucket id folded into
    * [-1e6, 1e6]. A deterministic weight FORMULA instead of a learned
    * weight table keeps the operator self-contained and exactly
    * replayable in any engine (the oracle recomputes it in SQL); swapping
    * in real trained weights is a broadcast-join against a (bucket,
    * weight) frame with the identical plan shape. */
  def bucketWeightE6(bucket: Column): Column =
    (bucket * lit(2654435761L)) % lit(2000001L) - lit(1000000L)

  /** fastText-style hashed linear classifier INFERENCE (Joulin et al.
    * 2016, "Bag of Tricks for Efficient Text Classification",
    * arXiv:1607.01759) — the quality-classifier gate of DCLM / FineWeb-Edu
    * style curation: every document gets `sigmoid(mean of hashed-feature
    * weights)` and a keep/drop label at the 0.5 boundary.
    *
    * The hashing trick is the entire scale story: features (unigrams +
    * bigrams) hash into [[ClassifierBuckets]] buckets and the weight is a
    * FORMULA of the bucket, so scoring is a pure per-row projection —
    * zero shuffle, zero broadcast, no vocabulary table of any size. On a
    * 1000-executor cluster this pipelines inside whole-stage codegen on
    * the scan like any other filter; 100 TB costs exactly one pass.
    *
    * Engine-exactness: weights are e6 integers, the per-doc sum is a LONG
    * fold (order-independent — `aggregate` walks the feature list
    * in-place), and the single double step (mean → sigmoid) is computed
    * once and floor-quantized to e4. The keep/drop label compares the
    * QUANTIZED score so both engines decide identically.
    *
    * Returns `struct(n_features LONG, score DOUBLE e4, label STRING)`. */
  def classifierScored(text: Column): Column = {
    val sumN = bind(classifierFeatures(text)) { feats =>
      struct(
        aggregate(feats, lit(0L),
          (acc, f) => acc + bucketWeightE6(md5Long(f) % lit(ClassifierBuckets))).as("s"),
        size(feats).cast("long").as("n"))
    }
    bind(sumN) { sn =>
      val n = sn.getField("n")
      val logit = (sn.getField("s").cast("double") / n.cast("double")) / lit(1000000.0)
      val score = when(n === 0, lit(0.5)).otherwise(
        floor(lit(1.0) / (lit(1.0) + exp(-logit)) * lit(10000.0) + lit(0.5))
          .cast("double") / lit(10000.0))
      struct(n.as("n_features"), score.as("score"),
        when(score >= 0.5, lit("keep")).otherwise(lit("drop")).as("label"))
    }
  }

  /** [[classifierScored]] over a frame: `doc_id, n_features, score,
    * label`. Pure projection — see the scale note there. */
  def classifierScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    df.select(id.as("doc_id"), classifierScored(text).as("__c"))
      .select(col("doc_id"), col("__c.n_features").as("n_features"),
        col("__c.score").as("score"), col("__c.label").as("label"))
  }

  /**
   * fastText-style hashed linear classifier TRAINING (Joulin et al. 2016)
   * — the learning half of [[classifierScore]]: full-batch gradient
   * descent on logistic loss over hashed bag-of-ngram features against a
   * caller-supplied (weak) 0/1 label, then score every document with the
   * learned weights. This is the DCLM / FineWeb-Edu curation shape:
   * bootstrap a quality classifier from weak labels, apply it at corpus
   * scale.
   *
   * Model: `logit(doc) = Σ_f c_f * w[h(f)]` — standard logistic
   * regression on hashed count features (the mean-normalized form of
   * [[classifierScored]] is NOT used for training: its gradient scales as
   * 1/n² per feature, so full-batch GD barely moves in a few iterations;
   * the sum form has the textbook gradient `Σ_docs (p - y) * c` and
   * converges, and its gradient is pure long arithmetic — no per-doc
   * division at all).
   *
   * Scale design: the exploded feature frame is computed ONCE, collapsed
   * to slim `(doc_id, y, bucket, c, n)` longs, and localCheckpoint'ed;
   * each iteration re-reads it twice (a per-doc window sum for scores and
   * a per-bucket aggregate for the gradient — 2 bounded shuffles of the
   * slim frame, never the texts). The weight vector is `buckets` longs:
   * broadcast-joined INTO each iteration and collected OUT of it — the
   * bounded driver-held-frame contract (4096 buckets = 32 KB; the bucket
   * count bounds driver memory, never the corpus). Iterations are a
   * fixed hyperparameter, so the whole train is `O(iters)` jobs over one
   * cached slim frame — at 100 TB the texts are read exactly once.
   *
   * Engine-exactness (the oracle unrolls the same iterations in SQL):
   * weights live on the e6 integer lattice; per-doc sums and the gradient
   * are exact long arithmetic; the only double steps are the sigmoid
   * (floor-quantized to e6 immediately; saturation is exact — sigmoid of
   * a huge logit floors to exactly 0 or 1e6 in both engines) and the
   * weight-update floor-division, whose magnitudes are far below 2^53.
   *
   * Recurrence, on the lattice: `p_e6 = floor(sigmoid(Σ c*w_e6 / 1e6) *
   * 1e6 + 0.5)`; `r_e6 = p_e6 - y*1e6`; `grad_e6(b) = Σ_docs r_e6 *
   * c_db`; `w_e6(b) -= floor(grad_e6(b) / (lrDenom * nDocs))`.
   *
   * Returns `(doc_id, y, n_features, score, label)` — score is the
   * learned-weight sigmoid on the e4 lattice, label the 0.5-boundary
   * keep/drop; featureless (empty/NULL text) docs score 0.5 like
   * [[classifierScore]].
   */
  def classifierTrain(df: DataFrame, id: Column, text: Column, label: Column,
      buckets: Long = 4096L, iters: Int = 3, lrDenom: Double = 2.0): DataFrame = {
    require(buckets >= 1 && buckets <= (1L << 22),
      s"buckets must be in [1, 2^22] (driver-held weight vector), got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = df.sparkSession
    import spark.implicits._

    val byDoc = Window.partitionBy(col("doc_id"))
    // The slim frame is consumed iters+1 times clustered-and-sorted by
    // doc_id (each iteration's per-doc window sum; the final per-doc
    // aggregate). Past the regime bound, bake that layout in ONCE — one
    // extra slim-frame shuffle + in-partition sort after the map-side-
    // partial collapse — so every window downstream is exchange-free AND
    // sort-free; the only per-iteration shuffle left is the per-bucket
    // gradient groupBy.
    // The corpus-side build (text explode + feature hashing + collapse)
    // is checkpointed plainly first and measured; past the bound the slim
    // frame is laid out off that checkpoint's blocks, and the plain copy is
    // freed once the clustered one exists.
    val collapsed = df.select(id.cast("long").as("doc_id"),
        label.cast("long").as("y"),
        explode(classifierFeatures(text)).as("f"))
      .select(col("doc_id"), col("y"),
        (md5Long(col("f")) % lit(buckets)).as("b"))
      .groupBy(col("doc_id"), col("y"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // this count doubles as collapsed's materialization (first iteration
    // would otherwise pay it)
    val nDocs = collapsed.select(col("doc_id")).distinct().count()
    // Dual regime, gated on nDocs like every other loop
    // (CheckpointLayout.ClusterLayoutMinRows): below the bound the slim
    // frame fits AQE's runtime broadcast and the per-iteration window's
    // shuffle is cheap — clustering would only add a build shuffle
    // (measured +40-70% when clustered too early). Past it, bake the
    // layout in once.
    val docList = df.select(id.cast("long").as("doc_id"), label.cast("long").as("y"))
    val (feats, docs) =
      if (CheckpointLayout.smallRegime(spark, nDocs)) (collapsed, docList)
      else {
        // the doc list the scores join back to is laid out by doc_id too,
        // so the final per-doc join streams both sides in place; both live
        // in the returned result's lineage, collapsed is dead
        val f = CheckpointLayout.clusteredBy(collapsed, key = "doc_id")
        graft.util.Barriers.freeThunk(collapsed)()
        (f, CheckpointLayout.clusteredBy(docList, key = "doc_id"))
      }

    def pE6(s: Column): Column = {
      val logit = s.cast("double") / lit(1000000.0)
      floor(lit(1.0) / (lit(1.0) + exp(-logit)) * lit(1000000.0) + lit(0.5))
        .cast("long")
    }
    def withW(w: Map[Long, Long]) = {
      val wDf = w.toSeq.toDF("b", "w_e6")
      feats.join(broadcast(wDf), Seq("b"), "left")
        .withColumn("w_e6", coalesce(col("w_e6"), lit(0L)))
    }

    var w = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val scored =
        if (w.isEmpty) feats.withColumn("p_e6", lit(500000L)) // sigmoid(0)
        else withW(w)
          .withColumn("p_e6", pE6(sum(col("c") * col("w_e6")).over(byDoc)))
      val grad = scored
        .withColumn("q", (col("p_e6") - col("y") * lit(1000000L)) * col("c"))
        .groupBy(col("b")).agg(sum(col("q")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = grad.map { case (b, g) =>
        b -> (w.getOrElse(b, 0L) -
          math.floor(g.toDouble / (lrDenom * nDocs)).toLong)
      }
    }

    // final e4 score exactly as classifierScored's lattice: sigmoid
    // computed once, floor(sigmoid*1e4+0.5)/1e4
    val scoredDocs = withW(w)
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w_e6")).as("s"), sum(col("c")).as("n"))
      .select(col("doc_id"), col("n").as("n_features"), {
        val logit = col("s").cast("double") / lit(1000000.0)
        (floor(lit(1.0) / (lit(1.0) + exp(-logit)) * lit(10000.0) + lit(0.5))
          .cast("double") / lit(10000.0)).as("score")
      })
    docs.join(scoredDocs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        coalesce(col("score"), lit(0.5)).as("score"))
      .withColumn("label",
        when(col("score") >= 0.5, lit("keep")).otherwise(lit("drop")))
  }

  // -------------------------------------------------------------------
  // Interpolated bigram language model (the CCNet LM step, order 2)
  // -------------------------------------------------------------------

  /** Interpolated-bigram LM score per document — the n-gram-LM perplexity
    * step of CCNet-style curation (arXiv:1911.00359 §3.3 scores with a
    * 5-gram KenLM; this is the same Jelinek-Mercer-interpolated family at
    * order 2, trained on the corpus itself like [[unigramLogProbScore]]).
    * Token positions ≥ 2 score `ln(0.75·P_bigram + 0.25·P_unigram)` with
    * add-one smoothing in both components; position 1 scores the add-one
    * unigram. Per-document output is the mean per-token log-prob, so
    * every non-empty document is scored and `n_tokens` counts scored
    * positions.
    *
    * Engine-exactness: both ln arguments are built from integer counts
    * with explicit parenthesized IEEE double steps (λ = 0.75 and 0.25 are
    * exact binary), each ln is floor-quantized to the e4 lattice
    * IMMEDIATELY, and the per-document mean sums e4 LONGS before one
    * final quantized division — the [[unigramLogProbScore]] discipline.
    *
    * Scale shape: one bigram explode → (gram) count aggregate with
    * map-side partials; the context-count and right-unigram tables derive
    * from the AGGREGATED gram frame (distinct-bigram-sized, not
    * corpus-sized); scores join back on the gram key — the same two
    * high-cardinality shuffles as the unigram LM, with AQE handling hot
    * grams ("of the" ≈ 0.5 % of English bigrams). Corpus totals are two
    * driver longs (bounded driver-held-frame contract). Nothing shuffles
    * document text — only (doc, gram) pairs.
    *
    * Output: `doc_id, n_tokens, avg_logprob`. */
  def bigramLogProbScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    // barrier (r16): the tokenized frame feeds THREE consumers (unigram
    // explode, bigram explode, first-token scores) — without it the
    // cleanTokens kernel re-tokenizes the whole corpus per consumer
    val base = df.select(id.as("__id"), cleanTokens(text).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .localCheckpoint(false)
    val uni = base.select(col("__id"), explode(col("__tk")).as("__t"))
    // unigram vocab feeds three consumers (totals, backoff component,
    // first-token scores): one materialization
    val vocab = uni.groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val totalsRow = vocab.agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
    val T = totalsRow.getLong(0)
    val V = totalsRow.getLong(1)
    val uniDenom = (T + V).toDouble
    val bg = base.select(col("__id"),
      explode(wordNgramsOfTokens(col("__tk"), 2)).as("__g"))
    val c12 = bg.groupBy(col("__g")).agg(count(lit(1)).as("__c12"))
      .localCheckpoint(false)
    // tokens are whitespace-split, so the space-joined gram splits back
    // losslessly; context counts derive from the aggregated gram frame
    val parts = c12
      .withColumn("__w1", element_at(split(col("__g"), " "), 1))
      .withColumn("__w2", element_at(split(col("__g"), " "), 2))
    val ctx = parts.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    val lp2 = parts
      .join(ctx, "__w1")
      .join(vocab.select(col("__t").as("__w2"), col("__c").as("__c2")), "__w2")
      .select(col("__g").as("__gk"),
        floor(log(
          lit(0.75) * ((col("__c12") + 1).cast("double") / (col("__c1") + V).cast("double"))
            + lit(0.25) * ((col("__c2") + 1).cast("double") / lit(uniDenom)))
          * 10000.0 + 0.5).cast("long").as("__lp_e4"))
    val lp1 = vocab.select(col("__t").as("__ft"),
      floor(log((col("__c") + 1).cast("double") / lit(uniDenom)) * 10000.0 + 0.5)
        .cast("long").as("__lp_e4"))
    val scored = bg.join(lp2, col("__g") === col("__gk"))
      .select(col("__id"), col("__lp_e4"))
      .unionAll(
        base.select(col("__id"), element_at(col("__tk"), 1).as("__t1"))
          .join(lp1, col("__t1") === col("__ft"))
          .select(col("__id"), col("__lp_e4")))
    scored.groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp_e4")).as("__sum_e4"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("__sum_e4").cast("double") / col("n_tokens").cast("double") + 0.5)
          .cast("double") / 10000.0).as("avg_logprob"))
  }

  /** Score `df` against a bigram LM trained on a SEPARATE `corpus` — the
    * deployed form of [[bigramLogProbScore]] (CCNet trains its KenLM on
    * Wikipedia once, then scores every crawl shard against it). Identical
    * interpolated add-one formula; tokens and bigrams UNSEEN in the
    * corpus take count 0 in every component (that is what add-one
    * smoothing is for), so out-of-vocabulary documents score finitely.
    * Training on the scored frame itself reproduces
    * [[bigramLogProbScore]] exactly (spec-pinned law).
    *
    * Scale shape: the LM tables aggregate the CORPUS (distinct-gram
    * sized); scoring explodes `df`'s grams and LEFT-joins counts on the
    * gram / context / right-unigram keys — three high-cardinality
    * hash joins that AQE broadcasts whenever the trained LM fits, and
    * the per-doc aggregate. Nothing shuffles document text. */
  def bigramLmScoreAgainst(df: DataFrame, id: Column, text: Column,
      corpus: DataFrame, corpusText: Column): DataFrame = {
    // ----- train on corpus (same tables as bigramLogProbScore) -----
    // barrier (r16): the tokenized corpus feeds the unigram AND bigram
    // aggregates — one tokenize pass, not two
    val cbase = corpus.select(cleanTokens(corpusText).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .localCheckpoint(false)
    val vocab = cbase.select(explode(col("__tk")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val totalsRow = vocab.agg(coalesce(sum(col("__c")), lit(0L)), count(lit(1))).head()
    val T = totalsRow.getLong(0)
    val V = totalsRow.getLong(1)
    // an EMPTY training corpus trains no model: every denominator below
    // would be 0 and the floor(log(x/0)) lattice values overflow into
    // garbage scores — no document can be scored, return the empty frame
    // with the output schema (the false filter prunes to a LocalRelation)
    if (V == 0L)
      return df.select(id.as("doc_id"), lit(0L).as("n_tokens"),
        lit(0.0).as("avg_logprob")).filter(lit(false))
    val uniDenom = (T + V).toDouble
    val c12 = cbase.select(explode(wordNgramsOfTokens(col("__tk"), 2)).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("__c12"))
      .localCheckpoint(false)
    val ctx = c12.groupBy(element_at(split(col("__g"), " "), 1).as("__w1"))
      .agg(sum(col("__c12")).as("__c1"))
    // ----- score df (left joins; unseen keys coalesce to count 0) -----
    // barrier (r16): feeds the bigram explode AND the first-token branch
    val base = df.select(id.as("__id"), cleanTokens(text).as("__tk"))
      .filter(size(col("__tk")) >= 1)
      .localCheckpoint(false)
    val bg = base.select(col("__id"),
      explode(wordNgramsOfTokens(col("__tk"), 2)).as("__dg"))
      .withColumn("__dw1", element_at(split(col("__dg"), " "), 1))
      .withColumn("__dw2", element_at(split(col("__dg"), " "), 2))
    val bgScored = bg
      .join(c12, col("__dg") === col("__g"), "left")
      .join(ctx, col("__dw1") === col("__w1"), "left")
      .join(vocab.select(col("__t").as("__vt2"), col("__c").as("__c2")),
        col("__dw2") === col("__vt2"), "left")
      .select(col("__id"),
        floor(log(
          lit(0.75) * ((coalesce(col("__c12"), lit(0L)) + 1).cast("double")
              / (coalesce(col("__c1"), lit(0L)) + V).cast("double"))
            + lit(0.25) * ((coalesce(col("__c2"), lit(0L)) + 1).cast("double") / lit(uniDenom)))
          * 10000.0 + 0.5).cast("long").as("__lp_e4"))
    val ftScored = base.select(col("__id"), element_at(col("__tk"), 1).as("__t1"))
      .join(vocab.select(col("__t").as("__vt1"), col("__c").as("__c1u")),
        col("__t1") === col("__vt1"), "left")
      .select(col("__id"),
        floor(log((coalesce(col("__c1u"), lit(0L)) + 1).cast("double") / lit(uniDenom))
          * 10000.0 + 0.5).cast("long").as("__lp_e4"))
    bgScored.unionAll(ftScored)
      .groupBy(col("__id").as("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp_e4")).as("__sum_e4"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("__sum_e4").cast("double") / col("n_tokens").cast("double") + 0.5)
          .cast("double") / 10000.0).as("avg_logprob"))
  }
}
