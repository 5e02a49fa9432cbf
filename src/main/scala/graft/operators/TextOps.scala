package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * quality scoring, language identification, document fingerprinting.
  *
  * Everything here is a per-row projection fused into the scan stage with
  * column pruning (only `text` is read) — no shuffles, no driver loops.
  * Two implementation tiers: counting/ratio metrics that reduce to builtin
  * string functions stay pure Column expressions (whole-stage codegen'd);
  * the per-token scans ([[stopwordRatio]], [[langId]]) and the per-character
  * fold ([[fingerprint]]) are single-pass JVM kernels, because the Catalyst
  * higher-order-function formulation evaluates an interpreted expression
  * tree PER ELEMENT (the tax [[graft.operators.Dedup.Kernels]] documents).
  * Either tier is map-only and fully distributed at 100 TB.
  */
object TextOps {

  /** Whitespace tokens of lowercased, trimmed text. Empty text → []. */
  def tokens(text: Column): Column = {
    val t = split(lower(trim(text)), "\\s+")
    when(trim(text) === "", array().cast("array<string>")).otherwise(t)
  }

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish upper bound on subword count: word-piece regex split that
    * separates letters / digits / punctuation runs (public GPT-2-style
    * pre-tokenizer shape, without the merges table).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(trim(text)),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Character-level quality metrics. Ratios in [0,1], 0 for empty text. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0).otherwise(
      (n - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / n)
  }

  def digitRatio(text: Column): Column = {
    val n = length(text)
    when(n === 0, 0.0).otherwise(
      (n - length(regexp_replace(text, "[0-9]", ""))).cast("double") / n)
  }

  def meanWordLength(text: Column): Column = {
    val tk = tokens(text)
    // sum of token lengths == length of the lowercased text with ALL
    // whitespace removed (tokens are exactly the non-whitespace runs) —
    // an identity that stays in whole-stage codegen, where the literal
    // `aggregate(tk, 0, acc + length(w))` fold is interpreted per token
    val totalChars = length(regexp_replace(lower(text), "\\s+", ""))
    when(size(tk) === 0, 0.0).otherwise(
      totalChars.cast("double") / size(tk))
  }

  /** Fraction of tokens that are (any language's) stopwords.
    *
    * JVM HashSet kernel, not `filter(tk, t => array_contains(sw, t))`: the
    * HOF form is interpreted per token × per stopword (a linear
    * array_contains scan inside an interpreted lambda), which dominated the
    * corpus-wide quality-filter scans. Values are identical to the HOF
    * form: same tokenization ([[Kernels.tokenize]] mirrors [[tokens]]
    * bit-for-bit), occurrence (not distinct) counting, 0.0 for empty text,
    * null in → null out.
    */
  def stopwordRatio(text: Column,
      stopwords: Seq[String] = Languages.all.flatMap(_._2).distinct): Column = {
    val stop = stopwords.toSet
    val kernel = udf((t: String) => Kernels.stopwordRatio(t, stop))
    kernel(text)
  }

  /** Tiny per-language stopword lists for the n-gram/stopword lang-ID
    * heuristic. Public common-word lists, deliberately minimal.
    */
  object Languages {
    val all: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "es" -> Seq("el", "los", "que", "y", "en", "un", "una", "por"),
      "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour"))
  }

  /** Language-ID heuristic: count distinct stopword hits per language, pick
    * the argmax (ties broken by language order). Returns a language code or
    * "und" when no stopwords hit (null text included, matching the Column
    * formulation where every null comparison falls through to "und").
    * The zero-training fallback — for real multilingual corpus prep
    * train [[charLangModel]] and score with [[langIdTrained]].
    *
    * One JVM kernel pass (distinct-token HashSet, then |words| membership
    * probes per language) instead of per-language `array_intersect` HOF
    * trees — same fix class as [[stopwordRatio]]/[[fingerprint]].
    */
  def langId(text: Column,
      langs: Seq[(String, Seq[String])] = Languages.all): Column = {
    val langSets = langs.map { case (code, words) => (code, words.toSet) }
    val kernel = udf((t: String) => Kernels.langId(t, langSets))
    kernel(text)
  }

  /** Tight-loop kernels for the per-token scan operators. The contract is
    * bit-identity with the Column formulations they replaced, so the
    * tokenizer mirrors [[tokens]] exactly rather than using the more
    * natural JDK calls: Catalyst `trim` strips SPACE characters only (not
    * `String.trim`'s <= 0x20 range) and Catalyst `split` keeps trailing
    * empty strings (Java `split(re)` drops them; `split(re, -1)` matches).
    */
  private[operators] object Kernels extends Serializable {

    // precompiled: String.split only fast-paths single-char separators, so
    // an inline "\\s+" would Pattern.compile once PER DOCUMENT
    private val Whitespace = java.util.regex.Pattern.compile("\\s+")

    /** Tokens of lowercased, space-trimmed text: mirrors [[tokens]].
      * Null → null; empty after trim → zero tokens. Lowercasing uses
      * Locale.ROOT: identical to Catalyst `lower()` for ASCII (and to
      * DuckDB's `lower()`), deliberately NOT the JVM default locale, whose
      * tr/az dotted-I rules would diverge from both engines.
      */
    def tokenize(text: String): Array[String] = {
      if (text == null) return null
      var b = 0
      var e = text.length
      while (b < e && text.charAt(b) == ' ') b += 1
      while (e > b && text.charAt(e - 1) == ' ') e -= 1
      if (b == e) return Array.empty
      Whitespace.split(
        text.substring(b, e).toLowerCase(java.util.Locale.ROOT), -1)
    }

    /** Occurrence-counting stopword ratio; 0.0 for token-less text. */
    def stopwordRatio(text: String, stop: Set[String]): java.lang.Double = {
      val tk = tokenize(text)
      if (tk == null) return null
      if (tk.length == 0) return java.lang.Double.valueOf(0.0)
      var hits = 0
      var i = 0
      while (i < tk.length) {
        if (stop.contains(tk(i))) hits += 1
        i += 1
      }
      java.lang.Double.valueOf(hits.toDouble / tk.length)
    }

    /** Distinct-hit argmax over per-language stopword sets; first language
      * in `langs` order wins ties (strictly-greater update), "und" when
      * nothing hits or the text is null/empty.
      */
    def langId(text: String, langs: Seq[(String, Set[String])]): String = {
      val tk = tokenize(text)
      if (tk == null || tk.length == 0) return "und"
      val distinct = new java.util.HashSet[String](tk.length * 2)
      var i = 0
      while (i < tk.length) { distinct.add(tk(i)); i += 1 }
      var bestCode = "und"
      var best = 0
      langs.foreach { case (code, words) =>
        var s = 0
        words.foreach { w => if (distinct.contains(w)) s += 1 }
        if (s > best) { best = s; bestCode = code }
      }
      bestCode
    }
  }

  /** Distinct non-empty tokens of a text column — the unit of the document
    * frequency statistics below.
    */
  def distinctTokens(text: Column): Column =
    array_distinct(filter(tokens(text), t => length(t) > 0))

  /** Corpus term statistics: per-term document frequency and smoothed
    * inverse document frequency `ln((N+1)/(df+1)) + 1` (the standard
    * smooth-idf; N = corpus size). Output: (term, doc_freq, idf).
    *
    * Shape at scale: explode is a narrow map (token rows never leave their
    * input partition until the aggregation), doc_freq is one
    * hash-partitioned count with map-side partial aggregation, and the
    * corpus size joins in as a broadcast scalar — so the whole statistic is
    * one shuffle over the token-type space, not the corpus.
    */
  def termDocFrequencies(df: DataFrame, textCol: String,
      key: String): DataFrame = {
    val toks = df.select(col(key),
      explode(distinctTokens(col(textCol))).as("term"))
    val dfreq = toks.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val n = df.agg(count(lit(1)).as("_n"))
    dfreq.crossJoin(broadcast(n))
      .withColumn("idf",
        log((col("_n") + lit(1.0)) / (col("doc_freq") + lit(1.0))) + lit(1.0))
      .drop("_n")
  }

  /** Per-document TF-IDF: raw term frequency within the document times the
    * corpus smooth-idf. Output: (key, term, tf, tfidf). The idf relation is
    * vocabulary-sized, joined on the term hash — Spark broadcasts it when
    * it fits, falls back to a shuffle join when a 100 TB corpus's
    * vocabulary doesn't.
    *
    * doc_freq is derived FROM the (key, term, tf) relation (it is already
    * distinct per document-term), not from a second tokenize pass;
    * `cacheTermCounts` additionally checkpoints that relation so its two
    * consumers (the idf aggregation and the final join) tokenize once —
    * at the cost of materializing a vocabulary×documents-sized relation
    * (same executor-loss caveat as Dedup's cacheShingles).
    */
  def tfidf(df: DataFrame, textCol: String, key: String,
      cacheTermCounts: Boolean = false): DataFrame = {
    val tc0 = df
      .select(col(key), explode(filter(tokens(col(textCol)),
        t => length(t) > 0)).as("term"))
      .groupBy(col(key), col("term")).agg(count(lit(1)).as("tf"))
    val termCounts = if (cacheTermCounts) tc0.localCheckpoint(false) else tc0
    val n = df.agg(count(lit(1)).as("_n"))
    val idf = termCounts
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        (log((col("_n") + lit(1.0)) / (col("doc_freq") + lit(1.0)))
          + lit(1.0)).as("idf"))
    termCounts
      .join(idf, "term")
      .select(col(key), col("term"), col("tf"),
        (col("tf") * col("idf")).as("tfidf"))
  }

  /** Sliding-window token chunking — context-window preparation for LLM
    * training: chunks of up to `chunkSize` tokens starting every `stride`
    * tokens (overlapping when stride < chunkSize, gap-sampled when
    * stride > chunkSize; the last chunk may be short but is never empty —
    * chunk starts are capped at the last token). Empty text yields one
    * empty chunk; NULL text yields no chunks (SQL null propagation).
    * Output: (key, chunk_id, chunk, n_tokens).
    *
    * Pure narrow operators (tokenize → explode a per-row index range →
    * slice): chunks never leave their input partition, so at 100 TB this
    * is a map-only stage fused into the scan.
    */
  def chunkTokens(df: DataFrame, textCol: String, key: String,
      chunkSize: Int = 64, stride: Int = 32): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be > 0")
    val tk = filter(tokens(col(textCol)), t => length(t) > 0)
    // coverage bound: enough chunks that the last one reaches the end;
    // start bound: no chunk may start past the last token (matters when
    // stride > chunkSize, where the coverage formula over-counts)
    val covered = (ceil(greatest(size(tk) - chunkSize, lit(0))
      .cast("double") / stride) + 1).cast("int")
    val startable =
      (floor((greatest(size(tk), lit(1)).cast("double") - 1) / stride) + 1)
        .cast("int")
    df.filter(col(textCol).isNotNull) // null text → no chunks (explicit:
      // Spark's null-skipping greatest() would otherwise emit one null row)
      .select(col(key), tk.as("_tk"),
        least(covered, startable).as("_nc"))
      .select(col(key), col("_tk"),
        explode(sequence(lit(0), col("_nc") - 1)).as("chunk_id"))
      .select(col(key), col("chunk_id"),
        slice(col("_tk"), col("chunk_id") * stride + 1,
          lit(chunkSize)).as("_win"))
      .select(col(key), col("chunk_id"),
        concat_ws(" ", col("_win")).as("chunk"),
        size(col("_win")).as("n_tokens"))
  }

  /** Within-document repetition statistics — the Gopher-style repetition
    * quality signals: token count, distinct-token ratio, and the fraction
    * of the document taken by its single most frequent token. Highly
    * repetitive machine-generated text scores low distinct_ratio / high
    * top_token_frac and gets filtered before training.
    *
    * explode + two-level aggregation rather than per-row HOF frequency
    * maps: the shuffle key is (key, term) so hot documents spread over
    * reducers, and both aggregations get map-side partial combine.
    * Documents with no tokens report (0, 0.0, 0.0).
    */
  def repetitionStats(df: DataFrame, textCol: String,
      key: String): DataFrame = {
    val toks = df.select(col(key),
      explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
    val stats = toks
      .groupBy(col(key), col("term")).agg(count(lit(1)).as("_c"))
      .groupBy(col(key)).agg(
        sum("_c").as("n_tokens"),
        count(lit(1)).as("_distinct"),
        max("_c").as("_top"))
      .select(col(key), col("n_tokens"),
        (col("_distinct").cast("double") / col("n_tokens"))
          .as("distinct_ratio"),
        (col("_top").cast("double") / col("n_tokens")).as("top_token_frac"))
    // explode drops token-less documents; restore them with zero stats
    df.select(col(key)).join(stats, Seq(key), "left")
      .select(col(key),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("distinct_ratio"), lit(0.0)).as("distinct_ratio"),
        coalesce(col("top_token_frac"), lit(0.0)).as("top_token_frac"))
  }

  /** PII scrubbing: replace URLs, e-mail addresses, and long digit runs
    * (phone/ID/card-length) with placeholder tokens — the standard
    * pre-training redaction pass. URLs are rewritten FIRST (they may embed
    * '@' and digits that would otherwise double-redact). A pure
    * regexp_replace chain: codegen'd, map-only, fused into the scan at
    * any scale.
    */
  private val UrlRe = "(?i)\\bhttps?://\\S+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val NumRe = "\\d[\\d\\s().-]{7,}\\d"

  def redact(text: Column,
      urlToken: String = "<URL>", emailToken: String = "<EMAIL>",
      numToken: String = "<NUM>"): Column = {
    val noUrl = regexp_replace(text, UrlRe, urlToken)
    val noEmail = regexp_replace(noUrl, EmailRe, emailToken)
    regexp_replace(noEmail, NumRe, numToken)
  }

  /** How many spans [[redact]] actually rewrites — each stage counts on
    * the PREVIOUS stage's output, exactly as redact replaces, so a URL
    * with embedded credentials/digits counts once as a URL rather than
    * once per pattern. The score a quality filter thresholds on
    * (documents that are mostly contact info or serial numbers get
    * dropped, not scrubbed).
    */
  def redactionCount(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    size(regexp_extract_all(text, lit(UrlRe), lit(0))) +
      size(regexp_extract_all(noUrl, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(noEmail, lit(NumRe), lit(0)))
  }

  /** Deterministic polynomial rolling hash of the raw characters —
    * the document fingerprint (order-sensitive, unlike a token set hash).
    * acc = (acc * 31 + codepoint) mod 1e9+7.
    *
    * Implemented as a single JVM code-point loop: the Catalyst formulation
    * (`aggregate` over `split(text, "")`) evaluates an interpreted HOF
    * fold PER CHARACTER — on multi-KB documents that is thousands of
    * interpreted expression evaluations per row, the same tax the
    * [[graft.operators.Dedup.Kernels]] note documents. Null text → null
    * (SQL semantics, matching the HOF form).
    */
  def fingerprint(text: Column): Column = fingerprintUdf(text)

  private val fingerprintUdf = udf((text: String) => {
    if (text == null) null
    else {
      var acc = 0L
      var i = 0
      // iterate unicode CODE POINTS (not UTF-16 units): mirrors the
      // oracle's ord() over per-character split, surrogate pairs intact
      while (i < text.length) {
        val cp = text.codePointAt(i)
        acc = (acc * 31 + cp) % 1000000007L
        i += Character.charCount(cp)
      }
      java.lang.Long.valueOf(acc)
    }
  }: java.lang.Long)

  /** 64-bit n-gram hash from two independently-seeded 32-bit murmurs —
    * the same collision-width composition as the exact-dedup digest path
    * (Dedup.exactByDigest's md5+xxhash64): 32 bits alone would produce
    * real per-document false positives against a multi-million-n-gram
    * benchmark set (1k-n-gram doc × 10M bench / 2³² ≈ 2 spurious hits),
    * 64 bits makes them negligible (≈ 5·10⁻¹² per doc at that size).
    */
  private[graft] def ngramHash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x85ebca6b).toLong & 0xffffffffL)
  }

  /** Benchmark decontamination — tag every corpus document with the
    * fraction of its distinct word `n`-grams that also occur anywhere in
    * a benchmark/eval corpus, plus a keep/drop verdict. The standard
    * guard against test-set leakage into training data: the reference's
    * membership-filter algebra
    * (`/root/reference/jigsaw/model_utils/filters.py:60-112` — tag by
    * set membership, then drop) lifted to n-gram space.
    *
    * Output: `corpus.*` plus `doc_ngrams` (distinct n-grams in the doc),
    * `contaminated_ngrams` (of those, how many appear in the benchmark),
    * `contamination_frac` (their ratio; 0.0 for token-less/null docs),
    * `verdict` ('keep' when `contamination_frac <= threshold`, else
    * 'drop' — the q43 quality-filter decision-column pattern). The
    * default `threshold = 0.0` drops a document sharing even ONE n-gram
    * with the benchmark; raise it to tolerate incidental short-phrase
    * overlap (with the default `n = 8`, shared 8-grams are almost never
    * incidental — the GPT-3-lineage 8–13-gram rule of thumb).
    *
    * Scale shape — the 100 TB corpus side is MAP-ONLY: the benchmark's
    * distinct n-gram HASHES (8 bytes each, not the strings) are
    * collected once, sorted, and broadcast; each corpus document is then
    * shingled in one JVM kernel pass ([[Dedup.Kernels.shingleSet]]
    * semantics: lowercased, whitespace-split, distinct; < n tokens → one
    * whole-text shingle; null/empty → empty set) with a binary search
    * per shingle. No shuffle, no per-document join — the tag fuses into
    * the scan. The benchmark side runs one distinct-aggregation job
    * EAGERLY at call time, and the collect is bounded by the
    * benchmark's n-gram-type count (an eval set is MBs against a corpus
    * of TBs; ~10⁷ n-grams ≈ 80 MB of longs is the practical ceiling).
    * For a "benchmark" too big for that contract, use
    * [[decontaminateRelational]] — the same output through a hash join
    * (one corpus-wide shuffle buys unbounded benchmark size, nothing
    * collects to the driver).
    */
  /** The benchmark's distinct n-gram hash set, sorted for binary search —
    * the eager, bounded driver collect both decontamination forms
    * broadcast ([[decontaminate]]'s scaladoc carries the size contract).
    */
  private def benchmarkNgramHashes(benchmark: DataFrame, textCol: String,
      n: Int): Array[Long] = {
    val hashOne = udf((g: String) => ngramHash64(g))
    val hs = benchmark
      .select(explode(Dedup.shinglesFast(col(textCol), n)).as("_g"))
      .select(hashOne(col("_g")).as("_h")).distinct()
      .collect().map(_.getLong(0))
    java.util.Arrays.sort(hs)
    hs
  }

  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, n: Int = 8, threshold: Double = 0.0,
      benchTextCol: String = ""): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    val btc = if (benchTextCol.isEmpty) textCol else benchTextCol
    require(benchmark.columns.contains(btc),
      s"benchmark is missing text column '$btc'")
    require(corpus.columns.contains(textCol),
      s"corpus is missing text column '$textCol'")
    val bc = corpus.sparkSession.sparkContext.broadcast(
      benchmarkNgramHashes(benchmark, btc, n))
    val stats = udf { (text: String) =>
      val sh = Dedup.Kernels.shingleSet(text, n)
      val set = bc.value
      var hits = 0
      var i = 0
      while (i < sh.length) {
        if (java.util.Arrays.binarySearch(set, ngramHash64(sh(i))) >= 0)
          hits += 1
        i += 1
      }
      (sh.length.toLong, hits.toLong)
    }
    Reserved.requireFreeColumns(corpus,
      Seq("_dc", "doc_ngrams", "contaminated_ngrams",
        "contamination_frac", "verdict"), "decontaminate",
      "it appends doc_ngrams/contaminated_ngrams/contamination_frac/" +
        "verdict — re-tagging an already-tagged frame must drop the " +
        "stale columns first")
    corpus
      .withColumn("_dc", stats(col(textCol)))
      .withColumn("doc_ngrams", col("_dc._1"))
      .withColumn("contaminated_ngrams", col("_dc._2"))
      .withColumn("contamination_frac",
        when(col("doc_ngrams") === 0, lit(0.0))
          .otherwise(col("contaminated_ngrams").cast("double")
            / col("doc_ngrams")))
      .withColumn("verdict",
        when(col("contamination_frac") <= threshold, "keep")
          .otherwise("drop"))
      .drop("_dc")
  }

  /** RELATIONAL benchmark decontamination — identical output contract
    * to [[decontaminate]] (same columns, same values, parity-tested),
    * for the benchmark that OUTGROWS the broadcast contract: nothing is
    * ever collected to the driver; the benchmark's distinct n-gram
    * hashes stay a relation and the corpus's per-document hit counts
    * come from a hash join instead of a broadcast binary search.
    *
    * `key` must be unique per row (it is the re-aggregation identity —
    * duplicate keys would merge documents' counts).
    *
    * Scale shape — one corpus-wide shuffle buys unbounded benchmark
    * size: the corpus explodes to (key, gram-hash) rows (narrow;
    * per-document distinct already, courtesy of the shingle kernel's
    * set semantics) and hash-joins the benchmark's distinct-hash
    * relation — THE corpus-wide exchange (16-byte rows: key + hash,
    * never the text). The per-key hit count re-aggregates with map-side
    * partial combine (the exchange after it carries contaminated-doc
    * counts, not grams), and `doc_ngrams` is computed INLINE on the
    * corpus row (`size(shingles)`), not via the join — so the hits
    * relation stays SPARSE (only contaminated documents appear), which
    * is what makes the final verdict-attach join broadcastable:
    * contamination against an eval benchmark is rare by construction,
    * so the default `broadcastStats = true` hints it and the corpus
    * text is never shuffled at all. Pass `broadcastStats = false` for
    * the pathological corpus where contaminated documents themselves
    * outgrow a broadcast (the attach then becomes the one shuffle that
    * touches corpus rows). Prefer [[decontaminate]] whenever the
    * benchmark fits its documented driver contract — map-only beats
    * one shuffle.
    */
  def decontaminateRelational(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, key: String, n: Int = 8, threshold: Double = 0.0,
      benchTextCol: String = "", broadcastStats: Boolean = true)
      : DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    val btc = if (benchTextCol.isEmpty) textCol else benchTextCol
    require(benchmark.columns.contains(btc),
      s"benchmark is missing text column '$btc'")
    require(corpus.columns.contains(textCol),
      s"corpus is missing text column '$textCol'")
    require(corpus.columns.contains(key),
      s"corpus is missing key column '$key'")
    Reserved.requireFreeColumns(corpus,
      Seq("doc_ngrams", "contaminated_ngrams", "contamination_frac",
        "verdict"), "decontaminateRelational",
      "it appends doc_ngrams/contaminated_ngrams/contamination_frac/" +
        "verdict — re-tagging an already-tagged frame must drop the " +
        "stale columns first")
    Reserved.requireFreeParams(Seq("_g", "_h"),
      "decontaminateRelational", "key" -> key)
    val hashOne = udf((g: String) => ngramHash64(g))
    val benchGrams = benchmark
      .select(explode(Dedup.shinglesFast(col(btc), n)).as("_g"))
      .select(hashOne(col("_g")).as("_h")).distinct()
    val corpusGrams = corpus
      .select(col(key), explode(Dedup.shinglesFast(col(textCol), n))
        .as("_g"))
      .select(col(key), hashOne(col("_g")).as("_h"))
    val hits = corpusGrams.join(benchGrams, Seq("_h"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("contaminated_ngrams"))
    val stats = if (broadcastStats) broadcast(hits) else hits
    corpus
      .withColumn("doc_ngrams",
        size(Dedup.shinglesFast(col(textCol), n)).cast("long"))
      .join(stats, Seq(key), "left")
      .withColumn("contaminated_ngrams",
        coalesce(col("contaminated_ngrams"), lit(0L)))
      .withColumn("contamination_frac",
        when(col("doc_ngrams") === 0, lit(0.0))
          .otherwise(col("contaminated_ngrams").cast("double")
            / col("doc_ngrams")))
      .withColumn("verdict",
        when(col("contamination_frac") <= threshold, "keep")
          .otherwise("drop"))
      .select((corpus.columns.map(col) ++ Seq(col("doc_ngrams"),
        col("contaminated_ngrams"), col("contamination_frac"),
        col("verdict"))): _*)
  }

  /** CONTAMINATION REPORT — the reverse view of [[decontaminate]]: per
    * BENCHMARK document, how much of it has leaked into the training
    * corpus. Decontamination answers "which corpus docs must go";
    * this answers the eval owner's question — "which of my eval items
    * are burned, and how badly" — so a compromised item can be retired
    * or reweighted even when the corpus itself cannot be re-filtered
    * (models already trained on it).
    *
    * Output: `benchmark.*` plus `bench_ngrams` (distinct word n-grams
    * in the item), `leaked_ngrams` (of those, how many occur anywhere
    * in the corpus), `leak_frac` (their ratio; 0.0 for token-less
    * docs), `leaking_docs` (distinct corpus documents sharing at least
    * one n-gram with the item), `verdict` ('clean' when
    * `leaked_ngrams == 0`, else 'leaked').
    *
    * Scale shape — the relational posture of
    * [[decontaminateRelational]], because here the BIG side (the
    * corpus) is the probe: both sides explode to (key, 64-bit
    * gram-hash) rows (per-document distinct via the shingle kernel's
    * set semantics), the hash join on `_h` is the one corpus-wide
    * exchange (16-byte rows, never the text), and the per-item stats
    * re-aggregate by benchmark key with map-side partial combine.
    * `bench_ngrams` is computed inline on the benchmark row, so the
    * stats relation stays sparse — leaked items only — and the final
    * attach join broadcasts by default (`broadcastStats = false` for a
    * benchmark too large even for that). The two distinct-counts share
    * one aggregation (Spark's expand, a 2× on the already-joined —
    * i.e. leaked-only — rows, not on the corpus).
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, corpusKey: String, benchKey: String, n: Int = 8,
      benchTextCol: String = "", broadcastStats: Boolean = true)
      : DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val btc = if (benchTextCol.isEmpty) textCol else benchTextCol
    require(benchmark.columns.contains(btc),
      s"benchmark is missing text column '$btc'")
    require(benchmark.columns.contains(benchKey),
      s"benchmark is missing key column '$benchKey'")
    require(corpus.columns.contains(textCol),
      s"corpus is missing text column '$textCol'")
    require(corpus.columns.contains(corpusKey),
      s"corpus is missing key column '$corpusKey'")
    Reserved.requireFreeColumns(benchmark,
      Seq("bench_ngrams", "leaked_ngrams", "leaking_docs", "leak_frac",
        "verdict"), "contaminationReport",
      "it appends bench_ngrams/leaked_ngrams/leak_frac/leaking_docs/" +
        "verdict — re-reporting an already-tagged frame must drop the " +
        "stale columns first")
    Reserved.requireFreeParams(Seq("_g", "_h", "_ck"),
      "contaminationReport",
      "benchKey" -> benchKey, "corpusKey" -> corpusKey)
    val hashOne = udf((g: String) => ngramHash64(g))
    val benchGrams = benchmark
      .select(col(benchKey),
        explode(Dedup.shinglesFast(col(btc), n)).as("_g"))
      .select(col(benchKey), hashOne(col("_g")).as("_h"))
    val corpusGrams = corpus
      .select(col(corpusKey).as("_ck"),
        explode(Dedup.shinglesFast(col(textCol), n)).as("_g"))
      .select(col("_ck"), hashOne(col("_g")).as("_h"))
    val stats0 = benchGrams.join(corpusGrams, Seq("_h"))
      .groupBy(col(benchKey))
      .agg(countDistinct(col("_h")).as("leaked_ngrams"),
        countDistinct(col("_ck")).as("leaking_docs"))
    val stats = if (broadcastStats) broadcast(stats0) else stats0
    benchmark
      .withColumn("bench_ngrams",
        size(Dedup.shinglesFast(col(btc), n)).cast("long"))
      .join(stats, Seq(benchKey), "left")
      .withColumn("leaked_ngrams",
        coalesce(col("leaked_ngrams"), lit(0L)))
      .withColumn("leaking_docs", coalesce(col("leaking_docs"), lit(0L)))
      .withColumn("leak_frac",
        when(col("bench_ngrams") === 0, lit(0.0))
          .otherwise(col("leaked_ngrams").cast("double")
            / col("bench_ngrams")))
      .withColumn("verdict",
        when(col("leaked_ngrams") === 0, "clean").otherwise("leaked"))
      .select((benchmark.columns.map(col) ++ Seq(col("bench_ngrams"),
        col("leaked_ngrams"), col("leak_frac"), col("leaking_docs"),
        col("verdict"))): _*)
  }

  /** SURGICAL decontamination, part 1 — the spans themselves: for every
    * corpus document, the maximal merged [start, end) token intervals
    * covered by any word n-gram that also occurs in the benchmark.
    * Output: one row per span, `(key, span_start, span_end)` — the same
    * relational span shape as [[graft.operators.Dedup.repeatedSpans]],
    * with membership in the broadcast benchmark set replacing the
    * corpus-wide occurrence count. Use this (and [[maskContaminated]])
    * when eval material appears as short QUOTES inside long, otherwise
    * clean documents — dropping the whole document ([[decontaminate]]'s
    * verdict column) wastes the clean 99%; masking the overlapping
    * spans keeps it. Same benchmark size contract as [[decontaminate]];
    * same shingle edge semantics (`< n`-token documents contribute one
    * whole-text pseudo-n-gram — a short doc that IS a short benchmark
    * doc flags whole).
    *
    * Scale shape: strictly map-only — benchmark hashes broadcast once,
    * each document is one kernel pass (binary search per n-gram
    * position, merge of the hits), and even the span explode is narrow.
    * No shuffle anywhere, at any corpus size.
    */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, key: String, n: Int = 8,
      benchTextCol: String = ""): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val btc = if (benchTextCol.isEmpty) textCol else benchTextCol
    require(benchmark.columns.contains(btc),
      s"benchmark is missing text column '$btc'")
    require(corpus.columns.contains(textCol),
      s"corpus is missing text column '$textCol'")
    val bc = corpus.sparkSession.sparkContext.broadcast(
      benchmarkNgramHashes(benchmark, btc, n))
    val spansUdf = udf { (text: String) =>
      val set = bc.value
      Dedup.Kernels.mergeSpans(
        Dedup.Kernels.ngramSpans(text, n).collect {
          case (s, e, h)
              if java.util.Arrays.binarySearch(set, h) >= 0 => (s, e)
        }.toSeq)
    }
    Reserved.requireFreeParams(Seq("_sp", "span_start", "span_end"),
      "contaminatedSpans", "key" -> key)
    corpus.select(col(key), explode(spansUdf(col(textCol))).as("_sp"))
      .select(col(key), col("_sp._1").as("span_start"),
        col("_sp._2").as("span_end"))
  }

  /** SURGICAL decontamination, part 2 — the removal transform: every
    * corpus row comes back with a `masked_text` column, the document's
    * tokens with all benchmark-overlapping spans dropped (replaced by
    * `marker` once per span when non-empty). Masking semantics are
    * exactly [[graft.operators.Dedup.maskRepeatedSpans]]'s (original
    * case kept, always whitespace-normalized to the single-space token
    * join, null text → null); only the span source differs. Pure
    * per-row projection — no shuffle, no join, fuses into the scan.
    *
    * COMPOSITION CAVEAT: the uniform-output normalization applies to
    * span-FREE documents too, erasing `\n` line structure — so do not
    * compose this upstream of a line-keyed stage
    * ([[graft.operators.Dedup.dedupLines]], a `lineDedup`-enabled
    * streaming ingest); use the whole-doc [[decontaminate]] verdict
    * filter there instead (map-only tagging, text untouched).
    */
  def maskContaminated(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, n: Int = 8, marker: String = "",
      benchTextCol: String = ""): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val btc = if (benchTextCol.isEmpty) textCol else benchTextCol
    require(benchmark.columns.contains(btc),
      s"benchmark is missing text column '$btc'")
    require(corpus.columns.contains(textCol),
      s"corpus is missing text column '$textCol'")
    val bc = corpus.sparkSession.sparkContext.broadcast(
      benchmarkNgramHashes(benchmark, btc, n))
    val mk = marker
    val maskUdf = udf { (text: String) =>
      val set = bc.value
      val spans = Dedup.Kernels.mergeSpans(
        Dedup.Kernels.ngramSpans(text, n).collect {
          case (s, e, h)
              if java.util.Arrays.binarySearch(set, h) >= 0 => (s, e)
        }.toSeq)
      Dedup.Kernels.maskSpans(text, spans.map(_._1), spans.map(_._2), mk)
    }
    Reserved.requireFreeColumns(corpus, Seq("masked_text"),
      "maskContaminated", "it appends masked_text")
    corpus.withColumn("masked_text", maskUdf(col(textCol)))
  }

  /** A trained count-based n-gram language model ([[ngramLm]]):
    * occurrence counts for the reference corpus's n-grams and their
    * (n−1)-gram contexts, keyed by [[ngramHash64]] in sorted parallel
    * arrays (8+8 bytes per distinct gram — the broadcastable form), plus
    * the smoothing vocabulary size (reference token types + 1, the +1
    * standing for the out-of-vocabulary class). Context counts are
    * derived FROM the n-gram counts (Σ over completions), so add-k
    * probabilities normalize exactly.
    */
  final case class NgramLm(n: Int, vocabSize: Long,
      gramKeys: Array[Long], gramCounts: Array[Long],
      ctxKeys: Array[Long], ctxCounts: Array[Long]) extends Serializable {
    private[operators] def gramCount(h: Long): Long = {
      val i = java.util.Arrays.binarySearch(gramKeys, h)
      if (i >= 0) gramCounts(i) else 0L
    }
    private[operators] def ctxCount(h: Long): Long = {
      val i = java.util.Arrays.binarySearch(ctxKeys, h)
      if (i >= 0) ctxCounts(i) else 0L
    }
  }

  /** Per-position (n-gram hash, context hash) pairs of a text — the LM
    * training/scoring unit: multiplicity kept, tokens lowercased and
    * whitespace-split, documents shorter than `n` tokens contribute
    * nothing (no whole-text fallback — an LM transition needs all n
    * positions; this deliberately differs from the shingle kernels'
    * short-document rule).
    */
  private def ngramCtxPairs(text: String, n: Int): Array[(Long, Long)] = {
    if (text == null) return Array.empty
    val tk = Dedup.Kernels.tokens(text)
    if (tk.length < n) return Array.empty
    val out = new Array[(Long, Long)](tk.length - n + 1)
    var i = 0
    while (i + n <= tk.length) {
      val ctx = tk.slice(i, i + n - 1).mkString(" ")
      out(i) = (ngramHash64(ctx + " " + tk(i + n - 1)), ngramHash64(ctx))
      i += 1
    }
    out
  }

  /** Train a count-based n-gram LM on a reference corpus — the
    * model-based upgrade to the heuristic quality family
    * ([[punctRatio]]/[[stopwordRatio]]/[[repetitionStats]]): score
    * candidate documents by how plausible their token transitions are
    * under a trusted reference (Wikipedia-class text), then threshold
    * like any other quality signal. Three eager jobs at call time, all
    * aggregating to TYPE-sized relations (distinct n-grams / contexts /
    * vocabulary — map-side partial combine, never corpus-sized
    * exchanges), collected to sorted hash arrays on the driver: the
    * same bounded-collect contract as [[decontaminate]]'s benchmark set
    * (16 bytes per distinct n-gram; a reference corpus is MBs-to-GBs of
    * curated text against the 100 TB candidate side, which is where the
    * scoring runs map-only).
    *
    * FAIL-FAST SIZE GUARD: before anything collects, one cheap
    * approx-distinct aggregation estimates the model's type count; an
    * estimate above `maxTypes` (default 2×10⁷ ≈ 650 MB of driver
    * arrays at the 16-bytes-per-type worst case) raises a clear error
    * pointing at [[ngramLmRelations]]/[[lmScoreRelational]] instead of
    * letting an oversized reference corpus OOM the driver mid-collect.
    */
  def ngramLm(reference: DataFrame, textCol: String, n: Int = 2,
      maxTypes: Long = 20000000L): NgramLm = {
    require(n >= 2, s"an n-gram LM needs n >= 2 transitions, got $n")
    require(reference.columns.contains(textCol),
      s"reference is missing text column '$textCol'")
    require(maxTypes > 0, s"maxTypes must be positive, got $maxTypes")
    val pairUdf = udf((text: String) => ngramCtxPairs(text, n))
    val pairs = reference
      .select(explode(pairUdf(col(textCol))).as("_p"))
      .select(col("_p._1").as("_g"), col("_p._2").as("_c"))
      .localCheckpoint(false) // the aggregations below: shingle once
    // ONE guard + vocabulary job (the vocabulary used to be its own
    // full reference re-scan): the HLL size estimate over
    // the (lazily checkpointed) pairs and the exact distinct-token count
    // ride the same aggregation via a kind-tagged union — conditional
    // aggregates skip the other kind's null rows. Type-sized partials
    // only; this runs BEFORE any driver-sized allocation, and it doubles
    // as the checkpoint materializer.
    val guardAndVocab = pairs
      .select(col("_g"), col("_c"), lit(null).cast("string").as("_t"))
      .unionAll(reference
        .select(lit(null).cast("long").as("_g"),
          lit(null).cast("long").as("_c"),
          explode(distinctTokens(col(textCol))).as("_t")))
      .agg(
        approx_count_distinct(col("_g")).as("_eg"),
        approx_count_distinct(col("_c")).as("_ec"),
        count_distinct(col("_t")).as("_v")).head()
    val estTypes = math.max(guardAndVocab.getLong(0),
      guardAndVocab.getLong(1))
    if (estTypes > maxTypes)
      throw new IllegalArgumentException(
        s"ngramLm: reference corpus has ~$estTypes distinct " +
          s"$n-gram/context types, above the driver-collect cap " +
          s"maxTypes=$maxTypes — use ngramLmRelations + " +
          "lmScoreRelational (the join-based form, nothing collects), " +
          "or raise maxTypes if the driver heap genuinely affords it")
    val vocab = guardAndVocab.getLong(2)
    // ONE collect for both count tables: gram and context counts
    // share a kind-tagged union aggregation — identical per-kind counts
    // to the two separate groupBys, the same total shuffle bytes, one
    // job instead of two. Rows arrive (_side, _k)-sorted, so the two
    // sorted arrays are contiguous slices.
    val rows = pairs.select(col("_g").as("_k"), lit(0).as("_side"))
      .unionAll(pairs.select(col("_c").as("_k"), lit(1).as("_side")))
      .groupBy(col("_side"), col("_k")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_side"), col("_k")).collect()
    val split = rows.indexWhere(_.getInt(0) == 1) match {
      case -1 => rows.length
      case i => i
    }
    val (gRows, cRows) = rows.splitAt(split)
    NgramLm(n, vocab + 1,
      gRows.map(_.getLong(1)), gRows.map(_.getLong(2)),
      cRows.map(_.getLong(1)), cRows.map(_.getLong(2)))
  }

  /** Score every document by its mean log-likelihood under `model` with
    * add-k smoothing: for each of the document's n-gram positions,
    * `ln((count(gram) + k) / (count(context) + k·V))`, averaged;
    * appended as `n_ngrams` (position count) and `lm_score` (null when
    * the document has fewer than n tokens — no transitions, no
    * evidence). Well-formed reference-like text scores high (less
    * negative); gibberish and wrong-language text score low. Map-only
    * over the corpus: the model broadcasts once and each document is
    * one kernel pass with two binary searches per position.
    */
  def lmScore(df: DataFrame, model: NgramLm, textCol: String,
      k: Double = 1.0): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val kv = k
    val score = udf { (text: String) =>
      val m = bc.value
      val ps = ngramCtxPairs(text, m.n)
      if (ps.isEmpty) (0L, null: java.lang.Double)
      else {
        var ll = 0.0
        var i = 0
        while (i < ps.length) {
          ll += math.log((m.gramCount(ps(i)._1) + kv)
            / (m.ctxCount(ps(i)._2) + kv * m.vocabSize))
          i += 1
        }
        (ps.length.toLong, java.lang.Double.valueOf(ll / ps.length))
      }
    }
    Reserved.requireFreeColumns(df, Seq("_lm", "n_ngrams", "lm_score"),
      "lmScore", "it appends n_ngrams/lm_score — re-scoring must drop " +
        "the stale columns first")
    df.withColumn("_lm", score(col(textCol)))
      .withColumn("n_ngrams", col("_lm._1"))
      .withColumn("lm_score", col("_lm._2"))
      .drop("_lm")
  }

  /** The RELATIONAL n-gram LM — [[NgramLm]]'s counts kept as DataFrames
    * (`(_h: bigint, _count: bigint)` each) instead of driver arrays,
    * for the reference corpus that outgrows [[ngramLm]]'s
    * bounded-collect contract. Only `vocabSize` (one long) ever reaches
    * the driver. Lazy: the count relations materialize when a consumer
    * first runs; persist them (or write them out) between repeated
    * scoring calls.
    */
  final case class NgramLmRelations(n: Int, vocabSize: Long,
      gramCounts: DataFrame, ctxCounts: DataFrame)

  /** Train the relational form of [[ngramLm]]: same pair explosion,
    * same counts, but the type-sized aggregations stay distributed —
    * no size cap, no driver collect (beyond the vocabulary-size
    * scalar). Pair with [[lmScoreRelational]].
    */
  def ngramLmRelations(reference: DataFrame, textCol: String,
      n: Int = 2): NgramLmRelations = {
    require(n >= 2, s"an n-gram LM needs n >= 2 transitions, got $n")
    require(reference.columns.contains(textCol),
      s"reference is missing text column '$textCol'")
    val pairUdf = udf((text: String) => ngramCtxPairs(text, n))
    val pairs = reference
      .select(explode(pairUdf(col(textCol))).as("_p"))
      .select(col("_p._1").as("_g"), col("_p._2").as("_c"))
      .localCheckpoint(false) // two count consumers: shingle once
    val gramCounts = pairs.groupBy(col("_g").as("_h"))
      .agg(count(lit(1)).as("_count"))
    val ctxCounts = pairs.groupBy(col("_c").as("_h"))
      .agg(count(lit(1)).as("_count"))
    val vocab = reference
      .select(explode(distinctTokens(col(textCol))).as("_t"))
      .agg(count_distinct(col("_t"))).collect()(0).getLong(0)
    NgramLmRelations(n, vocab + 1, gramCounts, ctxCounts)
  }

  /** The score RELATION under a [[NgramLmRelations]] model:
    * `(key, n_ngrams, lm_score)`, one row per document that has ≥ 1
    * n-gram position (short documents simply don't appear — attach-side
    * `coalesce` gives them `n_ngrams = 0`, `lm_score` null, exactly
    * [[lmScore]]'s contract). Identical math to [[lmScore]]: per
    * position `ln((count(gram) + k) / (count(context) + k·V))`,
    * averaged per document.
    *
    * Scale shape — nothing collects, nothing broadcasts by contract:
    * documents explode to (key, gram-hash, context-hash) position rows
    * (narrow), then two hash joins against the type-sized count
    * relations (each a position-rows exchange of 24-byte hash tuples —
    * never the text; when a count relation fits the broadcast threshold
    * AQE broadcasts it and that exchange disappears), then one per-key
    * aggregation with map-side partial combine. Use this form directly
    * when downstream only needs scores keyed by document — it never
    * touches the corpus rows themselves.
    */
  def lmScoresRelational(df: DataFrame, model: NgramLmRelations,
      textCol: String, key: String, k: Double = 1.0): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    require(df.columns.contains(textCol),
      s"df is missing text column '$textCol'")
    require(df.columns.contains(key), s"df is missing key column '$key'")
    val pairUdf = udf((text: String) => ngramCtxPairs(text, model.n))
    val pos = df
      .select(col(key), explode(pairUdf(col(textCol))).as("_p"))
      .select(col(key), col("_p._1").as("_gh"), col("_p._2").as("_ch"))
    val g = model.gramCounts
      .select(col("_h").as("_gh"), col("_count").as("_gc"))
    val c = model.ctxCounts
      .select(col("_h").as("_ch"), col("_count").as("_cc"))
    // both counts land on ONE row per position, so the per-position
    // term is the same double-precision ln(ratio) the broadcast kernel
    // (and the DuckDB oracle) computes — not a ln(a)−ln(b) split
    pos.join(g, Seq("_gh"), "left").join(c, Seq("_ch"), "left")
      .select(col(key),
        log((coalesce(col("_gc"), lit(0L)) + k)
          / (coalesce(col("_cc"), lit(0L)) + k * model.vocabSize))
          .as("_ll"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_ngrams"), avg(col("_ll")).as("lm_score"))
  }

  /** Per-position character n-gram hashes of lower(trim(text)) — the
    * trained language-ID unit: multiplicity kept, trim strips SPACE
    * characters only and lowercasing is Locale.ROOT (mirroring Catalyst
    * `lower(trim(...))` and DuckDB's `lower(trim(...))` for the
    * cross-engine oracle; positions count UTF-16 units, so supplementary
    * -plane text diverges from DuckDB's codepoint slicing — ASCII/BMP
    * is exact). Text shorter than `n` characters after trimming
    * contributes nothing.
    */
  private[operators] def charNgramHashes(text: String,
      n: Int): Array[Long] = {
    if (text == null) return Array.empty
    var b = 0
    var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    if (e - b < n) return Array.empty
    val s = text.substring(b, e).toLowerCase(java.util.Locale.ROOT)
    if (s.length < n) return Array.empty
    val out = new Array[Long](s.length - n + 1)
    var i = 0
    while (i + n <= s.length) {
      out(i) = ngramHash64(s.substring(i, i + n))
      i += 1
    }
    out
  }

  /** A trained character-n-gram language classifier ([[charLangModel]]):
    * per-language multinomial gram counts in sorted parallel hash
    * arrays (language codes sorted ascending — the deterministic
    * argmax tie-break order), per-language occurrence totals, and the
    * shared smoothing vocabulary (distinct gram types across ALL
    * languages + 1 for the out-of-vocabulary class).
    */
  final case class CharLangModel(n: Int, vocabSize: Long,
      langs: Array[String], totals: Array[Long],
      gramKeys: Array[Array[Long]], gramCounts: Array[Array[Long]])
    extends Serializable

  /** Train the model-based upgrade to the [[langId]] stopword heuristic:
    * the classic char-n-gram language identifier (public-knowledge
    * technique — per-language add-k multinomials over character
    * n-grams, argmax log-likelihood), trained from any labeled
    * DataFrame of `(text, language-code)` examples. Same
    * bounded-collect contract and fail-fast `maxTypes` guard as
    * [[ngramLm]]: char-gram type counts are small (≈ alphabet³), so
    * even hundreds of languages stay MBs on the driver. A language
    * whose training text yields no grams (shorter than `n`) is absent
    * from the model and can never be predicted.
    */
  def charLangModel(labeled: DataFrame, textCol: String,
      langCol: String, n: Int = 3,
      maxTypes: Long = 20000000L): CharLangModel = {
    require(n > 0, s"n must be positive, got $n")
    require(labeled.columns.contains(textCol),
      s"labeled is missing text column '$textCol'")
    require(labeled.columns.contains(langCol),
      s"labeled is missing language column '$langCol'")
    val gramsUdf = udf((t: String) => charNgramHashes(t, n))
    val pairs = labeled
      .select(col(langCol).cast("string").as("_l"),
        explode(gramsUdf(col(textCol))).as("_h"))
      .localCheckpoint(false) // guard + count consumers: extract once
    // guard on distinct (language, gram) PAIRS — what the collect below
    // actually materializes: guarding union gram types alone would pass
    // while the per-language rows still OOM the driver |languages|×
    val est = pairs
      .agg(approx_count_distinct(struct(col("_l"), col("_h"))))
      .head().getLong(0)
    if (est > maxTypes)
      throw new IllegalArgumentException(
        s"charLangModel: training corpus has ~$est distinct " +
          s"(language, char-$n-gram) type rows, above the " +
          s"driver-collect cap maxTypes=$maxTypes — raise the cap or " +
          s"shrink n")
    // (lang, gram) counts, language-major sorted: each language's slice
    // arrives hash-sorted and ready for binary search
    val rows = pairs.groupBy(col("_l"), col("_h"))
      .agg(count(lit(1)).as("_c"))
      .orderBy(col("_l"), col("_h")).collect()
    val langs = scala.collection.mutable.ArrayBuffer[String]()
    val keys = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    val counts = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    val totals = scala.collection.mutable.ArrayBuffer[Long]()
    val allTypes = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < rows.length) {
      val lang = rows(i).getString(0)
      var j = i
      while (j < rows.length && rows(j).getString(0) == lang) j += 1
      val ks = new Array[Long](j - i)
      val cs = new Array[Long](j - i)
      var t = 0L
      var p = i
      while (p < j) {
        ks(p - i) = rows(p).getLong(1)
        cs(p - i) = rows(p).getLong(2)
        t += cs(p - i)
        allTypes.add(ks(p - i))
        p += 1
      }
      langs += lang; keys += ks; counts += cs; totals += t
      i = j
    }
    CharLangModel(n, allTypes.size().toLong + 1, langs.toArray,
      totals.toArray, keys.toArray, counts.toArray)
  }

  /** Classify every document under `model`: appends `lang` (the argmax
    * language code — ties break to the ascending-first code,
    * deterministically; "und" when the text yields no char n-grams),
    * `lang_score` (the winner's mean per-gram log-likelihood,
    * `ln((count + k) / (total + k·V))` averaged — null for "und") and
    * `n_cgrams` (gram occurrence count). Map-only over the corpus: the
    * model broadcasts once, each document is one kernel pass with
    * |langs| binary searches per gram. The stopword [[langId]] remains
    * the zero-training fallback.
    */
  def langIdTrained(df: DataFrame, model: CharLangModel,
      textCol: String, k: Double = 1.0): DataFrame = {
    require(k > 0, s"add-k smoothing needs k > 0, got $k")
    require(df.columns.contains(textCol),
      s"df is missing text column '$textCol'")
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val kv = k
    val kernel = udf { (text: String) =>
      val m = bc.value
      val gs = charNgramHashes(text, m.n)
      if (gs.isEmpty || m.langs.isEmpty)
        ("und", null: java.lang.Double, 0L)
      else {
        var bestIdx = -1
        var bestLl = 0.0
        var li = 0
        while (li < m.langs.length) {
          val keys = m.gramKeys(li)
          val cnts = m.gramCounts(li)
          val denom = m.totals(li) + kv * m.vocabSize
          var ll = 0.0
          var i = 0
          while (i < gs.length) {
            val j = java.util.Arrays.binarySearch(keys, gs(i))
            val c = if (j >= 0) cnts(j) else 0L
            ll += math.log((c + kv) / denom)
            i += 1
          }
          // strictly greater: the first (ascending) code wins exact ties
          if (bestIdx < 0 || ll > bestLl) { bestLl = ll; bestIdx = li }
          li += 1
        }
        (m.langs(bestIdx), java.lang.Double.valueOf(bestLl / gs.length),
          gs.length.toLong)
      }
    }
    Reserved.requireFreeColumns(df,
      Seq("_li", "lang", "lang_score", "n_cgrams"), "langIdTrained",
      "it appends lang/lang_score/n_cgrams — re-tagging must drop the " +
        "stale columns first")
    df.withColumn("_li", kernel(col(textCol)))
      .withColumn("lang", col("_li._1"))
      .withColumn("lang_score", col("_li._2"))
      .withColumn("n_cgrams", col("_li._3"))
      .drop("_li")
  }

  /** [[lmScore]]'s exact output contract (`df.*` + `n_ngrams` +
    * `lm_score`) through the relational path: [[lmScoresRelational]]'s
    * score relation attached back to the corpus rows. The attach join
    * is the one step that touches corpus rows — the score relation is
    * DENSE (one row per scoreable document), so at full corpus scale it
    * exceeds any broadcast threshold and the attach becomes a
    * corpus-wide shuffle; that is the honest price of the unbounded
    * model. Prefer [[lmScoresRelational]] when a keyed score relation
    * is enough, and [[lmScore]] when the model fits its driver
    * contract (map-only, no shuffle at all).
    */
  def lmScoreRelational(df: DataFrame, model: NgramLmRelations,
      textCol: String, key: String, k: Double = 1.0): DataFrame = {
    Reserved.requireFreeColumns(df, Seq("n_ngrams", "lm_score"),
      "lmScoreRelational", "it joins n_ngrams/lm_score in — " +
        "re-scoring must drop the stale columns first")
    val scores = lmScoresRelational(df, model, textCol, key, k)
    df.join(scores, Seq(key), "left")
      .withColumn("n_ngrams", coalesce(col("n_ngrams"), lit(0L)))
      .select((df.columns.map(col) ++
        Seq(col("n_ngrams"), col("lm_score"))): _*)
  }

  /** Token-sequence packing — the step between this engine's chunk/doc
    * output and a tokenized training shard: concatenate every unit's
    * tokens (each followed by one `boundary` marker token) into a single
    * deterministic stream and slice it into sequences of exactly
    * `seqLen` tokens (the last may be short). Output:
    * `(seq_id, n_tokens, seq)` — every sequence except the final one
    * carries exactly `seqLen` tokens, and boundary markers preserve
    * document edges inside packed sequences, so no training example
    * silently spans two documents unmarked.
    *
    * `key` must be UNIQUE PER ROW (for [[chunkTokens]] output, combine:
    * `concat(col("key"), lit("#"), col("chunk_id"))`) — duplicate keys
    * do not corrupt the packing (offsets stay consistent) but make the
    * order among the tied rows, and therefore the sequence contents,
    * nondeterministic across runs — and the caller
    * owns choosing a `boundary` token that cannot occur in the corpus
    * (the default's `<|...|>` framing never survives whitespace
    * tokenization of natural text) — a colliding boundary would make
    * document edges ambiguous to a downstream consumer, though the
    * packing itself stays exact. The stream order
    * is the content-digest order (`md5(salt || key)`, the
    * [[graft.operators.Splits.deterministicSample]] engine-portability
    * contract) — deterministic on any engine, partitioning, or cluster
    * size, AND a free global shuffle of training units, which packing
    * wants anyway.
    *
    * Scale shape: one range-partitioned distributed sort feeds
    * [[graft.operators.Splits.withRunningTotal]]'s two narrow passes
    * (global token offsets WITHOUT a single-partition window — the
    * partition-count collect is the only driver data), units explode
    * map-side into at most `1 + len/seqLen` per-sequence pieces, and
    * one hash aggregation on `seq_id` assembles sequences whose pieces
    * are seqLen-bounded. Two shuffles total, both narrow.
    */
  def packChunks(df: DataFrame, chunkCol: String, key: String,
      seqLen: Int, boundary: String = "<|eod|>",
      salt: String = "graft"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(!boundary.exists(_.isWhitespace) && boundary.nonEmpty,
      s"boundary must be one non-empty whitespace-free token, " +
        s"got '$boundary'")
    // the key column rides every packing lineage (and a key named like
    // an internal would be silently REPLACED by the withColumn chain,
    // corrupting the sort order) — the parameter names must stay clear
    Reserved.requireFreeParams(
      Seq("_tk", "_tkb", "_len", "_off", "_from", "_until", "_piece",
        "_nt", "_ps", "seq_id", "n_tokens", "seq"),
      "packChunks", "key" -> key, "chunkCol" -> chunkCol)
    val tk = filter(split(trim(coalesce(col(chunkCol), lit(""))), "\\s+"),
      t => length(t) > 0)
    val withLen = df.select(col(key), tk.as("_tk"))
      .withColumn("_tkb", concat(col("_tk"), array(lit(boundary))))
      .withColumn("_len", size(col("_tkb")).cast("long"))
      .drop("_tk")
    // eager: packChunks is the repeated shard-production caller — each
    // call must release its sorted intermediate, not leave it cached
    // until the ContextCleaner notices (see withRunningTotal's doc)
    val withOff = Splits.withRunningTotal(withLen,
      Seq(Splits.contentDigest(key, salt), col(key)), "_len", "_off",
      eager = true)
    withOff
      .select(col("_tkb"), col("_len"), col("_off"),
        explode(sequence(floor(col("_off") / seqLen),
          floor((col("_off") + col("_len") - 1) / seqLen))).as("seq_id"))
      .select(col("seq_id"), col("_off"),
        greatest(col("_off"), col("seq_id") * seqLen).as("_from"),
        least(col("_off") + col("_len"),
          (col("seq_id") + 1) * seqLen).as("_until"), col("_tkb"))
      .select(col("seq_id"), col("_off"),
        slice(col("_tkb"), (col("_from") - col("_off") + 1).cast("int"),
          (col("_until") - col("_from")).cast("int")).as("_piece"),
        (col("_until") - col("_from")).as("_nt"))
      .groupBy(col("seq_id"))
      .agg(sum(col("_nt")).as("n_tokens"),
        array_sort(collect_list(struct(col("_off"), col("_piece"))))
          .as("_ps"))
      .select(col("seq_id"), col("n_tokens"),
        concat_ws(" ", flatten(col("_ps._piece"))).as("seq"))
  }

  // --------------------------------------------------------------------
  // Subword (BPE) tokenization — train + encode + decode
  // --------------------------------------------------------------------

  /** The recognized [[BpeModel.pretokenize]] modes — declared ABOVE the
    * model class so the constructor `require` reads an initialized val
    * even if a model is ever built during this object's own init. */
  private val pretokenizeModes = Set("whitespace", "gpt2")

  /** A trained byte-level BPE tokenizer ([[bpeTrain]]): token ids
    * 0–255 are raw UTF-8 bytes (the lossless OOV fallback — ANY text
    * encodes), id `256 + r` is the r-th learned merge. `merges(r)` is
    * the (left-id, right-id) pair that merge fuses; pairs may reference
    * earlier merged ids. Training is deterministic (best pair by count,
    * ties by ascending pair ids), so the same corpus always yields the
    * same vocabulary regardless of partitioning.
    *
    * `pretokenize` is part of the model, not an encode-time flag:
    * segmentation is only faithful to training when both sides fragment
    * text identically, so [[bpeEncode]] reads the mode from here and a
    * train/encode mismatch is unrepresentable. `"whitespace"` treats
    * each whitespace-delimited word as one merge domain; `"gpt2"`
    * additionally splits each word by the public GPT-2 pre-tokenizer
    * classes (see [[gpt2Fragments]]), so merges never fuse letters with
    * punctuation or digits — the segmentation real subword vocabularies
    * use.
    */
  final case class BpeModel(merges: Array[(Int, Int)],
      pretokenize: String = "whitespace")
      extends Serializable {
    // validated at CONSTRUCTION (not first encode): a hand-built or
    // deserialized-from-config model with a typo'd mode must fail here,
    // not as opaque per-row IllegalArgumentExceptions inside executor
    // tasks once bpeEncode's UDF finally consults the mode
    require(pretokenizeModes.contains(pretokenize),
      s"unrecognized pretokenize mode '$pretokenize' — recognized: " +
        pretokenizeModes.toSeq.sorted.mkString(", "))
    /** merge pair → rank (lower merges first at encode time) */
    @transient lazy val rank: java.util.HashMap[Long, Int] = {
      val m = new java.util.HashMap[Long, Int](merges.length * 2)
      var i = 0
      while (i < merges.length) {
        m.put((merges(i)._1.toLong << 32) | merges(i)._2.toLong, i)
        i += 1
      }
      m
    }
    def vocabSize: Int = 256 + merges.length
  }

  /** UTF-8 byte ids of one word with the GPT-2-style leading-space
    * convention: every word (including the first) is encoded as
    * `" " + word`, so word boundaries live INSIDE the byte stream and
    * merges can learn cross-boundary units like `" the"`. Decode strips
    * the leading space of the reassembled text.
    */
  private def wordBytes(w: String): Array[Int] = fragBytes(w, lead = true)

  /** UTF-8 byte ids of one pre-token fragment: the word-initial fragment
    * carries the leading space (see [[wordBytes]]); a mid-word fragment
    * is raw bytes, so fragments of one word concatenate back to the word
    * on decode with no seam — [[bpeDecode]] needs no mode awareness.
    */
  private def fragBytes(frag: String, lead: Boolean): Array[Int] = {
    val s = if (lead) " " + frag else frag
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new Array[Int](bs.length)
    var i = 0
    while (i < bs.length) { out(i) = bs(i) & 0xff; i += 1 }
    out
  }


  // The public GPT-2 pre-tokenizer pattern (from the released gpt-2
  // encoder, public knowledge): contractions, letter runs, digit runs,
  // punctuation runs — each ` ?`-prefixed in the original. Under this
  // codebase's whitespace-normalized leading-space convention every
  // word is preceded by exactly one space, so the space handling
  // reduces to position: word-INITIAL fragments match as if after a
  // space (contractions excluded — in the original the space forces
  // the ` ?[^\s\p{L}\p{N}]+` branch), mid-word fragments use the full
  // alternation. \s never occurs inside a whitespace-split word, so
  // the original's trailing `\s+` branches are unreachable here.
  private val gpt2Mid = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+")
  private val gpt2Head = java.util.regex.Pattern.compile(
    "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+")

  /** GPT-2 pre-token fragments of one whitespace-delimited word, in
    * order; concatenating them yields the word back. Each fragment is a
    * separate BPE merge domain — merges never cross a fragment edge, so
    * `"don't."` learns units for `don`, `'t`, `.` independently instead
    * of a `n't.` blob.
    */
  private[graft] def gpt2Fragments(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      val m = (if (i == 0) gpt2Head else gpt2Mid).matcher(w)
      m.region(i, w.length)
      if (m.lookingAt()) { out += m.group(); i = m.end() }
      else { // unreachable: the punct class accepts any non-space char
        out += w.substring(i, i + 1); i += 1
      }
    }
    out.toArray
  }

  /** A word's pre-token fragments paired with their word-initial flag,
    * under the model's mode — the single fragmentation authority shared
    * by training and encoding.
    */
  private def preTokens(w: String,
      pretokenize: String): Array[(String, Boolean)] =
    pretokenize match {
      case "whitespace" => Array((w, true))
      case "gpt2" =>
        val fs = gpt2Fragments(w)
        Array.tabulate(fs.length)(i => (fs(i), i == 0))
      case other => throw new IllegalArgumentException(
        s"unknown pretokenize mode '$other' — expected one of " +
          pretokenizeModes.toSeq.sorted.mkString(", "))
    }

  /** Greedy left-to-right replacement of every occurrence of `(a, b)`
    * in `s` by `id` — the merge step shared by training and encoding
    * (identical application order keeps encode segmentation faithful to
    * the training segmentation).
    */
  private def applyMerge(s: Array[Int], a: Int, b: Int,
      id: Int): Array[Int] = {
    val out = new Array[Int](s.length)
    var o = 0
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out(o) = id; o += 1; i += 2
      } else {
        out(o) = s(i); o += 1; i += 1
      }
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Train a byte-level BPE vocabulary on a corpus — the step that
    * turns [[packChunks]]'s whitespace-token shards into real
    * token-ID training shards. Classic Sennrich-style algorithm
    * (public-knowledge technique): the DISTRIBUTED job is one word
    * count over the corpus (explode + hash aggregation with map-side
    * combine — the only corpus-sized work); the iterative merge
    * learning then runs on the collected word-frequency table, which is
    * TYPE-sized (the same bounded-collect contract as [[ngramLm]],
    * guarded by `maxWordTypes` with a fail-fast count BEFORE the
    * collect). Each round counts adjacent symbol-pair frequencies
    * weighted by word count and fuses the most frequent pair (ties
    * break to the ascending pair — determinism independent of
    * partitioning); learning stops early when no pair occurs twice.
    * Words are raw whitespace tokens of the trimmed text (case
    * preserved — subword vocabularies are case-sensitive).
    *
    * `pretokenize = "gpt2"` further splits each word by the public
    * GPT-2 pre-tokenizer classes before counting (the merge domains
    * become (fragment, word-initial) pairs — see [[gpt2Fragments]]);
    * the whitespace path is unchanged and stays pure-codegen. The mode
    * is baked into the returned model so [[bpeEncode]] always fragments
    * the same way.
    */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int = 1000,
      maxWordTypes: Long = 10000000L,
      pretokenize: String = "whitespace"): BpeModel = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(df.columns.contains(textCol),
      s"df is missing text column '$textCol'")
    require(pretokenizeModes.contains(pretokenize),
      s"unknown pretokenize mode '$pretokenize' — expected one of " +
        pretokenizeModes.toSeq.sorted.mkString(", "))
    val rawWords = df.select(explode(
        split(trim(coalesce(col(textCol), lit(""))), "\\s+")).as("_w"))
      .filter(length(col("_w")) > 0)
    // the merge domains: whitespace words (always word-initial), or
    // their GPT-2 fragments tagged with the word-initial flag — the
    // flag is part of the TYPE (a word-initial "the" carries the
    // leading-space byte, a mid-word one does not)
    val domains = pretokenize match {
      case "whitespace" =>
        rawWords.select(col("_w").as("_f"), lit(true).as("_lead"))
      case _ =>
        val frag = udf((w: String) => {
          val fs = gpt2Fragments(w)
          fs.indices.map(i => (fs(i), i == 0))
        })
        rawWords.select(explode(frag(col("_w"))).as("_fl"))
          .select(col("_fl._1").as("_f"), col("_fl._2").as("_lead"))
    }
    val words = domains
      .groupBy(col("_f"), col("_lead")).agg(count(lit(1)).as("_c"))
      .localCheckpoint(false) // count guard + collect: aggregate once
    val types = words.count()
    if (types > maxWordTypes)
      throw new IllegalArgumentException(
        s"bpeTrain: corpus has $types distinct word types, above the " +
          s"driver-collect cap maxWordTypes=$maxWordTypes — raise the " +
          "cap if the driver heap affords it (16+ bytes per type)")
    var seqs: Array[(Array[Int], Long)] = words.collect()
      .map(r => (fragBytes(r.getString(0), r.getBoolean(1)),
        r.getLong(2)))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      // count adjacent pairs, weighted by word frequency
      val counts = new java.util.HashMap[Long, Long]()
      for ((s, c) <- seqs) {
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i).toLong << 32) | s(i + 1).toLong
          counts.merge(k, c, java.lang.Long.sum(_, _))
          i += 1
        }
      }
      // argmax by count, ties to the ascending (left, right) pair —
      // fully deterministic regardless of hash-map iteration order
      var bestKey = -1L
      var bestCount = 1L // a pair must occur at least twice to be worth a merge
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestCount ||
            (e.getValue == bestCount && bestKey >= 0 &&
              java.lang.Long.compareUnsigned(e.getKey, bestKey) < 0)) {
          bestKey = e.getKey
          bestCount = e.getValue
        }
      }
      if (bestKey < 0 && bestCount == 1L) exhausted = true
      else if (bestKey >= 0) {
        val a = (bestKey >>> 32).toInt
        val b = (bestKey & 0xffffffffL).toInt
        val id = 256 + merges.length
        merges += ((a, b))
        seqs = seqs.map { case (s, c) => (applyMerge(s, a, b, id), c) }
        m += 1
      } else exhausted = true
    }
    BpeModel(merges.toArray, pretokenize)
  }

  /** Encode one word's byte ids under the merge ranks: repeatedly apply
    * the LOWEST-ranked merge present (all its occurrences at once,
    * left-to-right) until none applies — the GPT-2 encode loop, which
    * reproduces the training-time segmentation exactly.
    */
  private def encodeWord(bytes: Array[Int],
      rank: java.util.HashMap[Long, Int],
      merges: Array[(Int, Int)]): Array[Int] = {
    var s = bytes
    var done = false
    while (!done && s.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i + 1 < s.length) {
        // getOrDefault, NOT get: get's null unboxes to rank 0 — the
        // first merge — for every absent pair
        val r = rank.getOrDefault(
          (s(i).toLong << 32) | s(i + 1).toLong, Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best)
        s = applyMerge(s, a, b, 256 + best)
      }
    }
    s
  }

  /** Tokenize a text column to BPE ids: appends `outCol`
    * (`array<int>`; null text → null, token-less text → empty).
    * Strictly map-only — the merge table broadcasts once; each row is
    * one kernel pass with a per-task word memo (real corpora repeat
    * words constantly, so most words hit the cache). Whitespace is
    * normalized to single spaces by the leading-space byte convention
    * (see [[wordBytes]]); [[bpeDecode]] of the ids returns exactly the
    * single-space token join, the same normalization contract as
    * [[packChunks]]/`maskRepeatedSpans` — under BOTH pretokenize modes
    * (the mode travels with the model; a `"gpt2"` model fragments each
    * word exactly as training did, and mid-word fragments carry no
    * space byte so decode reassembles the word seamlessly). Compose
    * with [[packChunks]]
    * for ID shards: `concat_ws(" ", token_ids)` is a packable chunk
    * column whose "tokens" are the ids.
    */
  def bpeEncode(df: DataFrame, model: BpeModel, textCol: String,
      outCol: String = "token_ids"): DataFrame = {
    require(df.columns.contains(textCol),
      s"df is missing text column '$textCol'")
    val bc = df.sparkSession.sparkContext.broadcast(model)
    // a concrete function OBJECT (not a lambda) so the word memo is
    // allocated once per deserialized task closure and shared across
    // that task's rows — each task gets its own instance, so no
    // cross-thread sharing
    val f = new (String => Array[Int]) with Serializable {
      @transient private lazy val cache =
        new java.util.HashMap[String, Array[Int]]()
      def apply(text: String): Array[Int] = {
        if (text == null) return null
        val m = bc.value
        val words = text.trim.split("\\s+").filter(_.nonEmpty)
        val out = scala.collection.mutable.ArrayBuffer[Int]()
        var i = 0
        while (i < words.length) {
          // the memo key is the whole word: fragmentation is a pure
          // function of the word under the model's (fixed) mode, so
          // caching the concatenated fragment encodings is sound
          var ids = cache.get(words(i))
          if (ids == null) {
            ids = preTokens(words(i), m.pretokenize).flatMap {
              case (f, lead) =>
                encodeWord(fragBytes(f, lead), m.rank, m.merges)
            }
            if (cache.size < 100000) cache.put(words(i), ids)
          }
          out ++= ids
          i += 1
        }
        out.toArray
      }
    }
    val kernel = udf(f)
    df.withColumn(outCol, kernel(col(textCol)))
  }

  /** Decode BPE ids back to text: merged ids expand recursively to
    * their byte sequences, bytes decode as UTF-8, and the leading space
    * of the reassembled stream is stripped. Lossless up to the
    * documented whitespace normalization: for any text,
    * `bpeDecode(encode(text)) == text.trim.split("\\s+").mkString(" ")`.
    */
  def bpeDecode(ids: Seq[Int], model: BpeModel): String = {
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
    // explicit work stack, not recursion: a long-run-dominated corpus
    // builds merge chains one link per merge (merge r references merge
    // r-1), so a recursive expand would go ~numMerges frames deep and
    // overflow the thread stack at GPT-2-class vocabulary sizes
    val stack = new scala.collection.mutable.ArrayDeque[Int]()
    def expand(id: Int): Unit = {
      stack.prepend(id)
      while (stack.nonEmpty) {
        val cur = stack.removeHead()
        if (cur < 256) bytes += cur.toByte
        else {
          val (a, b) = model.merges(cur - 256)
          stack.prepend(b); stack.prepend(a)
        }
      }
    }
    ids.foreach(expand)
    val s = new String(bytes.toArray,
      java.nio.charset.StandardCharsets.UTF_8)
    if (s.startsWith(" ")) s.substring(1) else s
  }
}
