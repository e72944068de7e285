package graft.operators

import graft.functions.TextFns

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis: token counting, quality scoring, language
  * ID, fingerprinting. All pure per-row projections (no shuffle) built from
  * codegen'd expressions — at 100 TB these run at scan speed with full
  * column pruning.
  */
object TextAnalysis {

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with")

  def withTokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      TextFns.tokenCount(col(textCol)).as("n_tokens"),
      length(col(textCol)).as("len_chars"),
      size(array_distinct(TextFns.tokens(col(textCol)))).as("n_distinct_tokens"))

  /** Quality features + a composite score: length band, stopword share,
    * alphabetic share, token diversity. Score is built from exact
    * divisions and power-of-two weights so it is bit-reproducible everywhere. */
  def withQuality(
      docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    docs.select((col(idCol) +: carry.map(col)) ++ Seq(
      length(col(textCol)).as("len_chars"),
      TextFns.tokenCount(col(textCol)).as("n_tokens"),
      TextFns.stopwordRatio(col(textCol), EnStopwords).as("stopword_ratio"),
      TextFns.charRatio(col(textCol), "[a-zA-Z]").as("alpha_ratio"),
      tokenDiversity(col(textCol)).as("token_diversity")): _*)
      .withColumn("quality_score", qualityScore(
        col("len_chars"), col("stopword_ratio"), col("alpha_ratio"), col("token_diversity")))

  /** [[withQuality]]'s `quality_score` of one text column, for a row filter. */
  def qualityScoreOf(text: Column): Column = qualityScore(length(text),
    TextFns.stopwordRatio(text, EnStopwords), TextFns.charRatio(text, "[a-zA-Z]"),
    tokenDiversity(text))

  private def tokenDiversity(text: Column): Column = {
    val toks = TextFns.tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
  }

  private def qualityScore(lenChars: Column, stopRatio: Column, alphaRatio: Column,
      diversity: Column): Column =
    when(lenChars < 20, lit(0.0)).otherwise(lit(0.25)) +
      when(stopRatio.between(0.01, 0.6), lit(0.25)).otherwise(lit(0.0)) +
      when(alphaRatio >= 0.6, lit(0.25)).otherwise(lit(0.0)) +
      diversity * lit(0.25)

  /** Quantile-band quality filter: keep documents whose composite quality
    * score lies inside the per-group [lo, hi] quantile band — the standard
    * curation step that drops the junk tail AND the degenerate top (boiler-
    * plate scoring suspiciously perfectly) relative to each group's own
    * distribution, not a global constant.
    *
    * Composition of [[withQuality]] and the exact `percentile` aggregate;
    * thresholds are one group-count-sized aggregate broadcast back over the
    * scan. Scores and thresholds are quantized to 1e-9 before comparison
    * (and the quantized score is what's returned), so the band decision is
    * robust to sub-ulp interpolation differences between engines. */
  def qualityBand(
      docs: DataFrame, idCol: String, textCol: String, groupCol: String,
      lo: Double, hi: Double): DataFrame = {
    val scored = withQuality(docs, idCol, textCol, carry = Seq(groupCol))
      .withColumn("score_q9",
        floor(col("quality_score") * lit(1.0e9) + lit(0.5)).cast("long"))
    val th = scored.groupBy(col(groupCol)).agg(
      floor(expr(s"percentile(quality_score, $lo)") * lit(1.0e9) + lit(0.5))
        .cast("long").as("lo_q9"),
      floor(expr(s"percentile(quality_score, $hi)") * lit(1.0e9) + lit(0.5))
        .cast("long").as("hi_q9"))
    scored.join(broadcast(th), groupCol)
      .filter(col("score_q9") >= col("lo_q9") && col("score_q9") <= col("hi_q9"))
      .select(col(idCol), col(groupCol), col("score_q9"))
  }

  def withLangId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextFns.langId(col(textCol)).as("predicted_lang"))

  def withFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), TextFns.fingerprint(col(textCol)).as("fingerprint"))

  /** License-marker detection — the compliance cut run before a web/code
    * corpus enters training (the licensing sibling of the PII tier):
    * case-insensitive marker classes for restrictive ("all rights
    * reserved"), Creative-Commons, and permissive (MIT/Apache/SPDX/GPL)
    * declarations, each a literal-alternation regex in the Java/RE2-shared
    * subset. `license_class` applies the conservative precedence —
    * restrictive beats CC beats permissive beats none — because a page
    * carrying both a CC badge and "all rights reserved" must be treated
    * as the stricter claim. One scan-speed projection. */
  def withLicenseSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val arr = t.rlike("(?i)all rights reserved")
    val cc = t.rlike("(?i)creative commons|cc-by")
    val perm = t.rlike(
      "(?i)mit license|apache license|spdx-license-identifier|gnu general public license")
    docs.select(col(idCol),
      arr.cast("long").as("has_restrictive"),
      cc.cast("long").as("has_cc"),
      perm.cast("long").as("has_permissive"),
      when(arr, "restrictive").when(cc, "open-cc")
        .when(perm, "open-permissive").otherwise("none").as("license_class"))
  }

  /** Code-vs-prose detection — the router every mixed web corpus needs
    * before language-specific processing (code into the code pipeline,
    * prose into the text one; The-Stack-style corpora are built on exactly
    * this cut). Signals are counted with subtraction-after-strip
    * (`len − len(strip(class))`) in the Java/RE2-shared regex subset:
    * structural symbols `{}();=<>[]#|&`, digits, and whitespace-prefixed
    * indentation runs (two-plus spaces after a newline — the code-block
    * signature). Integer per-mille rates; `is_code` fires on symbol
    * density ≥ `thrPermille` OR any indentation run. One scan-speed
    * projection, no shuffle. */
  def withCodeSignals(docs: DataFrame, idCol: String, textCol: String,
      thrPermille: Long = 30L): DataFrame = {
    val t = col(textCol)
    val n = length(t)
    val sym = n - length(regexp_replace(t, "[{}();=<>\\[\\]#|&]", ""))
    val dig = n - length(regexp_replace(t, "[0-9]", ""))
    // each non-overlapping newline+two-spaces match shrinks the strip by 2
    val indentRemoved = n - length(regexp_replace(t, "\\n  ", "\\n"))
    docs.select(col(idCol), n.cast("long").as("n_chars"),
      sym.cast("long").as("n_symbols"), dig.cast("long").as("n_digits"),
      indentRemoved.cast("long").as("__ir"))
      .withColumn("n_indents", expr("__ir div 2")).drop("__ir")
      .withColumn("symbol_permille", expr(
        "CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT) ELSE n_symbols * 1000 div n_chars END"))
      .withColumn("digit_permille", expr(
        "CASE WHEN n_chars = 0 THEN CAST(0 AS BIGINT) ELSE n_digits * 1000 div n_chars END"))
      .withColumn("is_code",
        (col("symbol_permille") >= thrPermille || col("n_indents") > 0L)
          .cast("long"))
  }

  /** Corpus-wide top-k word n-grams by DOCUMENT frequency (each doc counts a
    * gram once — `wordNgramsSorted` emits distinct grams per doc). Shape:
    * explode -> hash-partial count (map-side combine absorbs the explosion
    * before the single shuffle) -> global top-k. At 100 TB the shuffle
    * carries one row per distinct (partition, gram), not per occurrence. */
  def topkNgrams(docs: DataFrame, textCol: String, n: Int = 3, k: Int = 20): DataFrame =
    docs
      .select(explode(graft.functions.Kernels.wordNgramsSortedCol(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(k)

  /** Bigram language model: conditional next-word table
    * `P(w2|w1) = c(w1,w2) div c(w1)` in 1e-6 fixed point, restricted to the
    * top-`topK` successors per head word — the Markov-chain upgrade of
    * [[lmFitScore]]'s unigram model, and the table behind next-word
    * suggestion / corpus-predictability diagnostics. Counts occurrences
    * (not document frequency): every adjacent token pair counts.
    *
    * Shape: pairs come from `zip_with` of two slices (the lambda touches
    * only its own arguments — no outer-expression re-evaluation, the
    * wordNgrams O(n²) trap documented in DEVNOTES), then explode →
    * map-side-combined count → per-head top-k through WindowGroupLimit
    * (fanout per head bounded by vocabulary, never corpus). `c1` is derived
    * from the pair counts, so heads are words WITH a successor — exactly
    * the conditioning events of the model. */
  def bigramLm(docs: DataFrame, textCol: String, topK: Int = 3): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = TextFns.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsArr = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val c12 = docs.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("c12").desc, col("w2").asc)
    c12.join(c1, "w1")
      .withColumn("p_micro", expr("c12 * 1000000 div c1"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("w1"), col("rnk"), col("w2"), col("c12"), col("c1"), col("p_micro"))
  }

  /** Interpolated Kneser–Ney bigram probabilities — THE canonical n-gram
    * smoothing (add-one over-discounts frequent heads and ignores
    * continuation diversity; KN backs off to how many CONTEXTS a word
    * completes, which is why "francisco" scores low outside "san _"):
    * P(w2|w1) = max(c12−D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··).
    * With discount D = 3/4 everything scales by 4 into exact integers —
    * p_micro = (max(4·c12−3, 0)·Ncc + 3·N1h·N1c) · 1e6 div (4·c1·Ncc) —
    * so the trained model hash-matches its SQL re-derivation. The
    * interpolated mass telescopes: Σ_w2 P(w2|w1) = 1 exactly in the
    * unquantized algebra (spec-pinned within quantization slack).
    *
    * Overflow bound (refused loudly, not wrapped): the full numerator is
    * (4·c12·Ncc + 3·N1h·N1c)·1e6 — BOTH terms are bounded before any
    * per-row math: (4·max(c12)·Ncc + 3·max(N1h)·max(N1c))·1e6 < 2^63 and
    * the denominator 4·Σc12·Ncc < 2^63. The interpolation term matters on
    * its own (r14 ADVICE): hub heads/tails push N1h·N1c toward Ncc² while
    * max(c12) stays small, so the discount-term check alone could pass a
    * corpus whose interpolation term wraps. Maxima of the marginals are
    * one extra metadata aggregate over the (vocabulary-sized) head/tail
    * relations; pre-shard corpora beyond the bound (a vocabulary knob,
    * not a corpus-size one).
    *
    * Shape: one pair-stream aggregate (vocabulary²-bounded), three
    * vocabulary-sized marginals joined back — broadcastable at any corpus
    * size. Output per seen bigram: (w1, w2, c12, c1, n1h, n1c, p_micro). */
  def bigramKneserNey(docs: DataFrame, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsArr = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val c12 = docs.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .transform(Residuals.persist)
    val meta = c12.agg(max(col("c12")), count(lit(1)), sum(col("c12"))).head()
    require(!meta.isNullAt(0), "bigramKneserNey: corpus has no bigrams")
    val (cMax, ncc) = (meta.getLong(0), meta.getLong(1))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val n1h = c12.groupBy(col("w1")).agg(count(lit(1)).as("n1h"))   // N1+(w1·)
    val n1c = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1c"))   // N1+(·w2)
    val mMax = n1h.agg(max(col("n1h")).as("h"))
      .crossJoin(n1c.agg(max(col("n1c")).as("c"))).head()
    val (n1hMax, n1cMax) = (mMax.getLong(0), mMax.getLong(1))
    require(
      (BigInt(4) * cMax * ncc + BigInt(3) * n1hMax * n1cMax) * 1000000 <
        BigInt(Long.MaxValue) &&
        BigInt(4) * meta.getLong(2) * ncc < BigInt(Long.MaxValue),
      s"bigramKneserNey: max(c12)=$cMax x distinct bigrams=$ncc " +
        s"(+ interpolation term max(n1h)=$n1hMax x max(n1c)=$n1cMax) overflows the " +
        "exact integer numerator — shard the corpus or prune the vocabulary first")
    c12.join(c1, "w1").join(n1h, "w1").join(n1c, "w2")
      .withColumn("p_micro", expr(
        s"(greatest(4 * c12 - 3, 0) * $ncc + 3 * n1h * n1c) * 1000000 div (4 * c1 * $ncc)"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1h"), col("n1c"), col("p_micro"))
  }

  /** Per-document bigram log-probability under the corpus's add-one-
    * smoothed bigram LM — the document-level predictability score whose
    * exponential is perplexity; low log-prob = atypical/garbled/
    * out-of-domain text, the LM-quality filter at the heart of classic
    * corpus curation (CCNet-style). Smoothing:
    * `P(w2|w1) = (c12+1)/(c1+V)` with V = |successor vocabulary|.
    * `logprob_scaled = Σ_bigrams (qln(c12+1) − qln(c1+V))` — per-term
    * quantized ln of BIGINTs, order-free integer sum, so the score itself
    * hash-matches; perplexity = exp(−logprob/1e6/n_bigrams) downstream.
    *
    * Shape: the same zip_with pair stream as [[bigramLm]]; pair counts and
    * head counts aggregate over the vocabulary, then ONE equi-join of the
    * doc-pair stream against the (vocabulary-sized, broadcastable) counts
    * and a per-doc aggregate. */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsArr = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    // persisted: the tokenize+explode feeds the count model AND the scoring
    // join; the bigram counts feed c1, V and the join (r17)
    val docPairs = docs.select(col(idCol).as("doc"), explode(pairsArr).as("p"))
      .select(col("doc"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .transform(Residuals.persist)
    val c12 = docPairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .transform(Residuals.persist)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).as("v"))
    docPairs
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc"),
        (Features.qln(col("c12") + 1) - Features.qln(col("c1") + col("v"))).as("term"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("logprob_scaled"))
      .select(col("doc").as("doc_id"), col("n_bigrams"), col("logprob_scaled"))
  }

  /** Held-out perplexity: score one corpus under a bigram LM trained on
    * ANOTHER — the eval [[bigramLogProb]] (which trains on its own input)
    * cannot give, and the number every "did the new data mix help the LM"
    * comparison actually needs. Same add-one model and the same qln
    * 1e-6-quantize-before-order-free-integer-sum exactness contract; the
    * held-out twist is that unseen events must score, so the count joins
    * are LEFT joins with zero fallbacks: unseen (w1,w2) scores
    * qln(1) − qln(c1+V), unseen w1 entirely scores qln(1) − qln(V) = −qln(V)
    * (the uniform add-one floor). V is the TRAINING successor vocabulary.
    * Output per scored doc: n_bigrams, logprob_scaled (Σ micro-nats),
    * avg_nll_micro = −logprob_scaled div n_bigrams (the per-bigram
    * cross-entropy whose exp is perplexity — left in log space so the
    * metric stays integer-exact).
    *
    * Shape: two bigram-domain aggregations over TRAIN + one broadcast-sized
    * V row; scoring is two equi-joins keyed on the bigram/unigram domain —
    * never a self-join, never corpus×corpus. */
  def bigramLogProbHeldout(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def pairsOf(df: DataFrame): DataFrame = {
      val toks = TextFns.tokens(col(textCol))
      val n1 = greatest(size(toks) - 1, lit(0))
      val pairsArr = zip_with(
        slice(toks, lit(1), n1), slice(toks, lit(2), n1),
        (x, y) => struct(x.as("w1"), y.as("w2")))
      df.select(col(idCol).as("doc"), explode(pairsArr).as("p"))
        .select(col("doc"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    }
    // persisted: the trained bigram counts feed c1, V and the scoring join (r17)
    val c12 = pairsOf(train).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .transform(Residuals.persist)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).as("v"))
    val perDoc = pairsOf(score)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc"),
        (Features.qln(coalesce(col("c12"), lit(0L)) + 1)
          - Features.qln(coalesce(col("c1"), lit(0L)) + col("v"))).as("term"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("logprob_scaled"))
    // a per-doc groupBy over exploded bigrams silently drops zero-bigram
    // docs (the r12 lineDedup lesson) — left-join back onto the scored id
    // set; such docs report n_bigrams 0 with a NULL average
    score.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_scaled"), lit(0L)).as("logprob_scaled"))
      .withColumn("avg_nll_micro",
        when(col("n_bigrams") === 0L, lit(null).cast("long"))
          .otherwise(expr("(-logprob_scaled) div n_bigrams")))
  }

  /** RAKE keyword extraction (Rose et al. '10): candidate phrases are the
    * maximal stopword-free token runs; word score = degree div frequency
    * where degree sums the lengths of the phrases containing the word (a
    * word in long phrases co-occurs with more words); phrase score =
    * Σ word scores — which is what makes RAKE reward MULTI-WORD terms,
    * the axis TF-IDF (frequency) and TextRank (centrality) don't have.
    * Zero corpus statistics beyond the run itself.
    *
    * All fixed point: `wscore = deg·1e6 div freq` (integer), phrase scores
    * are order-free integer sums, ties broken by phrase text — the whole
    * extraction hash-matches. Phrase islands come from a per-doc window
    * (positions are distinct ⇒ the default RANGE frame equals ROWS, the r8
    * precedent); aggregates then run over the word and phrase-TYPE domains,
    * never the corpus. Returns the top-`k` phrase types
    * (phrase, n_words, n_occurrences, score_micro). */
  def rakeTerms(docs: DataFrame, idCol: String, textCol: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be positive")
    val toks = docs.select(col(idCol).as("doc"),
      posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc")).orderBy(col("pos"))
    // persisted: the tokenize+window island assignment feeds the phrase
    // aggregation AND the word-score join; phrases feed the word scores AND
    // the phrase-type counts — without the caches each is evaluated twice (r17)
    val marked = toks
      .withColumn("is_stop", col("tok").isInCollection(EnStopwords))
      .withColumn("island", sum(when(col("is_stop"), 1L).otherwise(0L)).over(w))
      .filter(!col("is_stop"))
      .transform(Residuals.persist)
    val phrases = marked.groupBy(col("doc"), col("island"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .transform(Residuals.persist)
    val words = marked.join(phrases, Seq("doc", "island"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore", expr("deg * 1000000 div freq"))
    val ptype = phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occurrences"))
    ptype
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("tok"))
      .join(words.select(col("tok"), col("wscore")), "tok")
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(count(lit(1)).cast("long").as("n_words"), sum(col("wscore")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), col("n_words"), col("n_occurrences"), col("score_micro"))
  }

  /** WordPiece-style greedy longest-match-first tokenization — the APPLY
    * side of the second major subword-tokenizer family beside BPE
    * ([[bpeMerges]]/[[bpeEncode]]): BERT's segmenter takes, at each
    * position, the LONGEST vocabulary piece (word-initial pieces and
    * `##`-continuation pieces are separate vocabularies — `able` the word
    * and `##able` the suffix are different units, exactly WordPiece's
    * position-dependent design).
    *
    * The vocabulary is DERIVED from the corpus deterministically: initial
    * pieces = word prefixes (length ≤ `maxPieceLen`) with occurrence mass ≥
    * `initMinCount`; continuation pieces = non-initial substrings with mass
    * ≥ `contMinCount`; ALL observed single characters of each position
    * class are kept, so segmentation always progresses and no `[UNK]`
    * exists by construction. Greedy segmentation is then a pure function of
    * the corpus — an external engine can replay vocabulary AND greedy walk
    * (bounded unrolled steps: a word of length L segments in ≤ L steps).
    *
    * Scale: the word relation is the DISTINCT vocabulary (never the
    * corpus); piece sets collect to the driver (vocabulary-bounded, the
    * bpeEncode broadcast argument) and segmentation is one map over
    * distinct words. Returns (word, n_occ, n_pieces, pieces) with
    * continuations rendered as ` ##piece`. */
  def wordpiece(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      initMinCount: Long = 20L, contMinCount: Long = 50L,
      maxWordLen: Int = 16): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen, "bad piece/word bounds")
    val spark = docs.sparkSession
    val words = docs.select(explode(TextFns.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) >= 1 && length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
      .transform(Residuals.persist)
    val initPieces = words.select(
      explode(array((1 to maxPieceLen).map(l =>
        when(length(col("word")) >= l, substring(col("word"), 1, l))): _*)).as("piece"),
      col("n_occ"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("n_occ")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= initMinCount)
    val contPieces = words.select(
      explode(array((for { p <- 2 to maxWordLen; l <- 1 to maxPieceLen } yield
        when(length(col("word")) >= p + l - 1, substring(col("word"), p, l))): _*)).as("piece"),
      col("n_occ"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("n_occ")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= contMinCount)
    val initSet = initPieces.select(col("piece")).collect().map(_.getString(0)).toSet
    val contSet = contPieces.select(col("piece")).collect().map(_.getString(0)).toSet
    val schema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("n_occ", LongType, nullable = false),
      StructField("n_pieces", LongType, nullable = false),
      StructField("pieces", StringType, nullable = false)))
    val rdd = words.rdd.mapPartitions(_.map { r =>
      val wd = r.getString(0)
      val occ = r.getLong(1)
      val sb = new StringBuilder
      var pos = 0
      var np = 0L
      while (pos < wd.length) {
        val set = if (pos == 0) initSet else contSet
        var l = math.min(maxPieceLen, wd.length - pos)
        while (l > 1 && !set.contains(wd.substring(pos, pos + l))) l -= 1
        // l == 1 always matches: every observed character of each position
        // class is in its vocabulary by construction
        if (np > 0) sb.append(" ##")
        sb.append(wd.substring(pos, pos + l))
        np += 1
        pos += l
      }
      Row(wd, occ, np, sb.toString)
    })
    spark.createDataFrame(rdd, schema)
  }

  /** Dunning log-likelihood-ratio collocations (Dunning '93): for every
    * adjacent word pair, the G² statistic of its 2×2 contingency table
    * against independence — THE standard "is this a real collocation or
    * chance co-occurrence" test, robust at low counts where PMI explodes.
    *
    *   G² = 2·Σ_ij k_ij·ln(k_ij·N / (row_i·col_j))
    *
    * Exactness: each of the four terms is the INTEGER
    * `k·(qln(k) + qln(N) − qln(row) − qln(col))` with `qln(x) =
    * floor(ln(x)·1e6 + 0.5)` (libm parity on integer inputs — the BM25
    * precedent), summed order-free, so `llr_scaled ≈ G²·1e6/2·...` — scaled
    * by 1e6, truncation ≤ 4 per term. Zero cells contribute exactly 0 (the
    * k·ln k → 0 limit). Overflow: |k·(…)| ≤ N·4·qln(N) — BIGINT-safe while
    * N < ~2e13 bigrams.
    *
    * Shape: the same pair stream as [[bigramLm]] (zip_with slices), one
    * pair count, two marginal aggregations over the PAIR relation
    * (vocabulary-sized, never corpus), one O(1) total. Returns
    * (w1, w2, c12, llr_scaled) for pairs with `c12 ≥ minCount`. */
  def collocationsLlr(docs: DataFrame, textCol: String, minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    val toks = TextFns.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsArr = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val c12 = docs.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .transform(Residuals.persist)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val nTot = c12.agg(sum(col("c12")).as("n"))
    def term(k: Column, row: Column, colm: Column, n: Column): Column =
      when(k > 0, k * (Features.qln(k) + Features.qln(n) - Features.qln(row) - Features.qln(colm))).otherwise(lit(0L))
    c12.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(nTot))
      .filter(col("c12") >= minCount)
      .withColumn("llr_scaled",
        term(col("c12"), col("c1"), col("c2"), col("n")) +
          term(col("c1") - col("c12"), col("c1"), col("n") - col("c2"), col("n")) +
          term(col("c2") - col("c12"), col("n") - col("c1"), col("c2"), col("n")) +
          term(col("n") - col("c1") - col("c2") + col("c12"),
            col("n") - col("c1"), col("n") - col("c2"), col("n")))
      .select(col("w1"), col("w2"), col("c12"), col("llr_scaled"))
  }

  /** Flesch reading-ease score in 1e-3 fixed point — the classic
    * readability gauge (206.835 − 1.015·words/sentences −
    * 84.6·syllables/words) with deterministic integer proxies: sentences =
    * max(1, count of `[.!?]+` runs), words = whitespace tokens, syllables =
    * vowel-group runs `[aeiouy]+` per lowercased word, min 1 per word —
    * both regexes inside the Java/RE2-identical subset, so token and
    * syllable counts agree across engines by construction. All divisions
    * truncating:
    *   score_milli = 206835 − 1015·words div sentences − 84600·syll div words
    * Returns (id, n_sentences, n_words, n_syllables, flesch_milli); empty
    * docs yield words = 0 → NULL score rather than a division error.
    * Row-local projection — no shuffle, scan-speed at any corpus size. */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val sentences = greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val syll = aggregate(
      transform(toks, w =>
        greatest(size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))), lit(1))),
      lit(0L), (acc, x) => acc + x)
    docs.select(col(idCol),
      sentences.cast("long").as("n_sentences"),
      size(toks).cast("long").as("n_words"),
      syll.as("n_syllables"))
      .withColumn("flesch_milli",
        expr("206835 - 1015 * n_words div nullif(n_sentences, 0)" +
          " - 84600 * n_syllables div nullif(n_words, 0)"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau '04): PageRank over the
    * undirected word co-occurrence graph — adjacent-token edges, distinct,
    * symmetrized — surfaces the corpus's structurally central terms, a
    * graph upgrade over raw TF-IDF salience. COMPOSITION of two gated
    * operators: the bigram pair stream feeds [[Graph.pagerank]]'s integer
    * fixed point verbatim, with words carried as md5-derived 60-bit node
    * ids (the engine's standard cross-engine hash; collision odds ~2⁻⁶⁰·V²
    * — at a realistic vocabulary a collision merges two words' ranks,
    * detectable by the vocab join fanning out, accepted and documented).
    * Returns the top-`k` terms by (rank, term). */
  def textrankTerms(docs: DataFrame, textCol: String, iters: Int = 3,
      k: Int = 20): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsArr = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    // persisted: the corpus-wide explode+distinct feeds both edge-direction
    // branches AND both vocabulary branches — 4 evaluations without it (r17)
    val und = docs.select(explode(pairsArr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"), greatest(col("w1"), col("w2")).as("b"))
      .distinct()
      .transform(Residuals.persist)
    val edges = und.select(col("a").as("ws"), col("b").as("wd"))
      .union(und.select(col("b").as("ws"), col("a").as("wd")))
      .select(TextFns.md5Long(col("ws"), 0).as("src"),
        TextFns.md5Long(col("wd"), 0).as("dst"))
    val vocab = und.select(col("a").as("term")).union(und.select(col("b").as("term")))
      .distinct()
      .select(col("term"), TextFns.md5Long(col("term"), 0).as("node"))
    Graph.pagerank(edges, "src", "dst", iters)
      .join(vocab, "node")
      .select(col("term"), col("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("term"))
      .limit(k)
  }

  /** Repetition quality signal (the "duplicate n-gram fraction" used to flag
    * boilerplate/spam in corpus filtering): share of a document's word
    * bigrams that are repeats of an earlier bigram. All-integer counts and
    * one final exact division — bit-reproducible. Pure projection, scan
    * speed: both counts come from one byte scan
    * (`Kernels.repetitionCounts`), the tokenization `filter_repetition`
    * gates on. A null text has 0 bigrams and a null distinct count. */
  def withRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (n, d) = repetitionCounts(col(textCol))
    docs.select(col(idCol), n.as("n_bigrams"), d.as("n_distinct_bigrams"),
      dupBigramFrac(n, d).as("dup_bigram_frac"))
  }

  private def repetitionCounts(text: Column): (Column, Column) = {
    val counts = graft.functions.Kernels.repetitionCountsCol(text)
    (coalesce(counts.getItem(0), lit(0L)), counts.getItem(1))
  }

  private def dupBigramFrac(n: Column, d: Column): Column =
    when(n === 0, lit(0.0)).otherwise((n - d).cast("double") / n.cast("double"))

  /** Gopher-style repetition occupancy signals: the fraction of tokens
    * claimed by the single most frequent word and bigram — the filters the
    * Gopher/MassiveText quality rules apply on top of the duplicate-ngram
    * fraction ([[withRepetition]]). The integer cores are row-LOCAL kernel
    * passes (`Kernels.maxNgramMultiplicity` — one tokenize + one hash map
    * per document, scan speed, no shuffle), unlike the explode+groupBy
    * formulation that would shuffle every token of a 100 TB corpus; the
    * fractions are single IEEE divisions of exact integers, so the signal
    * is bit-reproducible across engines. */
  def gopherSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      graft.functions.Kernels.maxNgramMultiplicityCol(col(textCol), 1).as("top_word_n"),
      graft.functions.Kernels.maxNgramMultiplicityCol(col(textCol), 2).as("top_bigram_n"))
      .withColumn("top_word_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("top_word_n").cast("double") / col("n_tokens").cast("double")))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") <= 1, lit(0.0))
          .otherwise(col("top_bigram_n").cast("double") / (col("n_tokens") - 1).cast("double")))

  /** Card-number PII signals — the checksum-validated tier above the plain
    * digit-run redaction of [[withPiiRedaction]]: maximal digit runs of
    * plausible card length (13–19) are counted and Luhn-checked, so a
    * takedown/redaction pipeline can distinguish "digits that LOOK like a
    * card" from "digits that checksum like one" (the false-positive
    * control). Pure integer mod-10 arithmetic in a row-local kernel —
    * scan-speed, shuffle-free, engine-exact. */
  def withCardPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.Kernels.luhnCountsCol(col(textCol)).as("p"))
      .select(col(idCol),
        element_at(col("p"), 1).as("n_card_like"),
        element_at(col("p"), 2).as("n_luhn_valid"))

  /** Per-document Shannon character entropy (nats) — the gibberish/encoding
    * detector of the quality block: natural text sits in a stable entropy
    * band, while base64 blobs, repeated padding and binary spills fall
    * outside it. Cross-engine-exact via the quantize-the-transcendental
    * pattern: `qln(x) = floor(ln(x)·1e6 + 0.5)` per distinct character
    * count, order-free integer sums, one final IEEE division
    * ([[graft.functions.Kernels.charEntropyParts]] — row-local, one hash
    * map per doc, no shuffle). */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.Kernels.charEntropyPartsCol(col(textCol)).as("p"))
      .select(col(idCol),
        element_at(col("p"), 1).as("n_chars"),
        element_at(col("p"), 2).as("sum_nlnn"))
      .withColumn("entropy_nats",
        when(col("n_chars") === 0, lit(0.0)).otherwise(
          (floor(log(col("n_chars").cast("double")) * 1e6 + 0.5).cast("long")
            * col("n_chars") - col("sum_nlnn")).cast("double")
            / (col("n_chars") * lit(1000000L)).cast("double")))

  /** Per-document salient terms — the TF-IDF shape with an exact-integer
    * ranking: terms are ordered by (tf DESC, df ASC, term ASC), which is the
    * tf·idf order whenever tf ties break by rarity, without a
    * cross-engine-flaky float `log`. Two map-side-combinable aggregations
    * (doc-term counts, term document-frequencies) + one join + one bounded
    * per-doc window. At 100 TB: the (doc, term) agg pre-combines before its
    * shuffle; the df table is corpus-vocabulary-sized — broadcast it while
    * it fits (`broadcastDf`), shuffle-join otherwise. */
  def tfidfTopTerms(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, broadcastDf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col(idCol), explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val d = if (broadcastDf) broadcast(dfreq) else dfreq
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(d, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** Unigram LM corpus-fit score (the CCNet-style quality/outlier filter):
    * train a unigram model ON the corpus itself — term counts over total
    * tokens — and score every document by its average negative log
    * likelihood under that model. Common, fluent text scores low; gibberish,
    * boilerplate-of-rare-tokens and off-domain docs score high, giving the
    * classic perplexity-band curation signal next to [[withQuality]]'s
    * heuristics and [[qualityBand]]'s distribution filter.
    *
    * Cross-engine exactness: per-TERM bits ln(T/cnt_t) are quantized to 1e-6
    * integers BEFORE the per-document Σ tf·q — the same order-free-integer-
    * sum pattern as BM25 — and the final average is one division chain on
    * identical operands. No smoothing is needed: every scored token exists
    * in the vocabulary it was trained from.
    *
    * Scale shape: one (doc, term) tf aggregation (map-side combined), a
    * vocabulary-sized broadcast join, one per-doc aggregation. The model
    * "training" is itself just the vocabulary aggregate — at 100 TB train on
    * a hash sample ([[Sampling.mixWeighted]]) and broadcast the vocab. */
  def lmFitScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val q = vocab.crossJoin(broadcast(tot))
      .select(col("term"),
        floor(log(col("t").cast("double") / col("cnt")) * 1e6 + lit(0.5))
          .cast("long").as("qv"))
    tf.join(broadcast(q), "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("qv")).as("nll_scaled"), sum(col("tf")).as("dl"))
      .withColumn("avg_nll", col("nll_scaled").cast("double") / 1e6 / col("dl"))
  }

  /** BM25 ranked retrieval: top-k documents for a bag-of-terms query —
    * the classic lexical search scorer (Robertson/Walker Okapi BM25,
    * k1 = 1.2, b = 0.75) that backs retrieval/RAG source selection over a
    * training corpus.
    *
    * score(d) = Σ_t ln((N − df_t + 0.5)/(df_t + 0.5))
    *            · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Cross-engine exactness: every intermediate is exact integer math
    * (tf/df/dl/N/T counts; dl/avgdl carried as dl·N/T) except `ln` and a
    * handful of IEEE ops written in an identical association order on both
    * engines; each per-term score is then quantized to 1e-6
    * (`floor(x·1e6 + 0.5)`) BEFORE the per-document sum, so the final score
    * is an order-free integer sum — a 1-ulp `ln` divergence would need to
    * land exactly on a quantization boundary to flip a result. The k1/b
    * constants appear as the pre-multiplied literals 2.2 / 0.3 / 0.9 in both
    * engines (decimal literals parse to identical doubles; computing
    * 1.2·0.25 at runtime would NOT equal the literal 0.3).
    *
    * Scale shape: (doc,term) tf agg pre-combines map-side before its single
    * shuffle; df and corpus stats are vocabulary-/scalar-sized broadcasts;
    * the final top-k is TakeOrdered (orderBy+limit), never a global sort. */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("w"))
    val dl = toks.select(col(idCol), size(col("w")).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val qTerms = terms.distinct
    val tf = toks.select(col(idCol), explode(col("w")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // per-term BM25 contribution, quantized to 1e-6 before summation
    val r = (col("dl") * col("n_docs")).cast("double") / col("total_tokens").cast("double")
    val comp = (lit(2.2) * col("tf").cast("double")) /
      (col("tf").cast("double") + lit(0.3) + lit(0.9) * r)
    val lnIdf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)))
    val perTerm = tf
      .join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("si_q", floor(lnIdf * comp * lit(1000000.0) + lit(0.5)).cast("long"))
    val byDoc = perTerm.groupBy(col(idCol))
      .agg(sum(col("si_q")).as("score_q"), count(lit(1)).as("n_terms"))
      .orderBy(col("score_q").desc, col(idCol).asc)
      .limit(k)
    byDoc
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_q").desc, col(idCol).asc)).cast("long"))
      .select(col(idCol), col("rank"), col("score_q"), col("n_terms"))
  }

  /** Benchmark-contamination check: for every corpus document, how many of
    * its distinct word n-grams appear anywhere in `benchmark` (an eval set
    * that must not leak into training data). The classic n-gram-overlap
    * decontamination pass.
    *
    * Shape: benchmark explodes to a distinct gram set (eval sets are tiny
    * next to the corpus — broadcast by default); the corpus explodes to
    * (doc, gram) and inner-joins it — an equi-join on the gram, never a
    * cross join — then counts matches per doc. Docs with zero overlap are
    * restored by a left join against the slim corpus (id, n_grams)
    * projection. At 100 TB the corpus side streams map-only when the
    * benchmark broadcasts; with `broadcastBench = false` the same plan runs
    * as a shuffle equi-join for oversized benchmark suites. */
  def ngramOverlap(
      corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
      n: Int = 4, broadcastBench: Boolean = true): DataFrame = {
    val grams = graft.functions.Kernels.wordNgramsSortedCol(col(textCol), n)
    val bg0 = benchmark.select(explode(grams).as("gram")).distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    val cg = corpus.select(col(idCol), explode(grams).as("gram"))
    val matched = cg.join(bg, "gram").groupBy(col(idCol)).agg(count(lit(1)).as("m"))
    corpus.select(col(idCol), size(grams).cast("long").as("n_grams"))
      .join(matched, Seq(idCol), "left")
      .select(
        col(idCol), col("n_grams"),
        coalesce(col("m"), lit(0L)).as("n_matched"))
      .withColumn(
        "overlap_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_matched").cast("double") / col("n_grams").cast("double")))
  }

  /** Per-(lang, source) corpus shape statistics with an EXACT lower median —
    * rank statistics are what corpus curation dashboards read, and the exact
    * median keeps the result hash-comparable (percentile_approx would not
    * be). One shuffle on the group key + one window pass; at 100 TB the
    * heavy reduction (counts/sums) is map-side combined and only the
    * rank pass touches sorted groups. */
  def corpusStats(docs: DataFrame, langCol: String, srcCol: String,
      lenCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(langCol), col(srcCol))
    val ordered = w.orderBy(col(lenCol).asc, col(idCol).asc)
    docs.select(col(langCol), col(srcCol), col(lenCol), col(idCol))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("m", count(lit(1)).over(w))
      .groupBy(col(langCol), col(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(lenCol)).as("sum_chars"),
        min(col(lenCol)).as("min_chars"),
        max(col(lenCol)).as("max_chars"),
        max(when(col("rn") === ((col("m") + 1) / 2).cast("int"), col(lenCol)))
          .as("median_chars"))
  }

  /** Mergeable per-group statistics — the monoid half of incremental stats
    * maintenance: count/sum/min/max are all associative-commutative, so a
    * statistics table maintained by merging per-ingest deltas is provably
    * equal to a full recompute ([[mergeStats]]; the gate query pins the
    * equality against a direct-recompute oracle). The non-mergeable median
    * stays in [[corpusStats]]; sketches cover its approximate maintenance. */
  def mergeableStats(docs: DataFrame, groupCol: String, lenCol: String): DataFrame =
    docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(lenCol)).as("sum_chars"),
      min(col(lenCol)).as("min_chars"),
      max(col(lenCol)).as("max_chars"))

  /** Merge independently-computed [[mergeableStats]] relations — a
    * metadata-sized aggregation (group-cardinality rows per part), never a
    * rescan of the underlying corpora. */
  def mergeStats(parts: Seq[DataFrame], groupCol: String): DataFrame =
    parts.reduce(_.unionByName(_)).groupBy(col(groupCol)).agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("sum_chars")).as("sum_chars"),
      min(col("min_chars")).as("min_chars"),
      max(col("max_chars")).as("max_chars"))

  /** Exact grouped quantiles with linear interpolation (the `quantile_cont`
    * definition; Spark's exact `percentile` computes the identical
    * `a + (b-a)*frac` on the two neighboring order statistics, so results
    * hash-match other engines bit-for-bit on integer inputs). Output column
    * `q<percent>` per requested quantile.
    *
    * Scale caveat, stated honestly: exact percentile buffers each GROUP's
    * values on its reducer. Right for bounded groups (per-language doc-length
    * distributions — millions of longs per group at worst); for unbounded
    * groups switch to `percentile_approx`, which trades the oracle-exact
    * guarantee for fixed memory. */
  def groupedQuantiles(
      df: DataFrame, groupCol: String, valueCol: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    val aggs = qs.map(q => expr(s"percentile($valueCol, $q)").as(s"q${(q * 100).round}"))
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Canonical pre-tokenization normalization: Unicode NFC, lowercase,
    * control strip, whitespace collapse, trim — one fused codegen kernel
    * ([[graft.functions.Kernels.normalizeText]]). Run BEFORE hashing /
    * shingling so byte-level variants of the same text dedup together.
    * Pure projection, scan speed. */
  def withNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.Kernels.normalizeTextCol(col(textCol)).as("normalized"))

  /** End-to-end curation decision: one scan computes every per-document
    * signal (quality score, language, bigram repetition) and folds them into
    * a boolean `keep` under the given thresholds. This is the filter pass a
    * training pipeline runs corpus-wide — one projection, NO joins between
    * the signal operators (they all read the same row), so at 100 TB it is
    * exactly one pass over the text column. */
  def curationKeep(
      docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5,
      allowedLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      maxDupFrac: Double = 0.2): DataFrame = {
    val (n, d) = repetitionCounts(col(textCol))
    docs.select(
      col(idCol),
      qualityScoreOf(col(textCol)).as("quality_score"),
      TextFns.langId(col(textCol)).as("predicted_lang"),
      dupBigramFrac(n, d).as("dup_bigram_frac"))
      .withColumn(
        "keep",
        col("quality_score") >= minQuality &&
          col("predicted_lang").isin(allowedLangs: _*) &&
          col("dup_bigram_frac") <= maxDupFrac)
  }

  /** Bounded-memory twin of [[groupedQuantiles]] + distinct counting for
    * unbounded groups: `approx_percentile` (KLL-style sketch, `accuracy`
    * controls error ~1/accuracy) and HLL++ `approx_count_distinct`
    * (`rsd` relative error). NOT oracle-gated — sketch internals are
    * engine-specific — but CurationSpec pins both against the exact
    * operators within their published error bounds. This is what replaces
    * the exact rank pass when a group stops fitting on one reducer. */
  def corpusStatsApprox(
      df: DataFrame, groupCol: String, valueCol: String, distinctCol: String,
      qs: Seq[Double], accuracy: Int = 10000, rsd: Double = 0.05): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1))
    val qAggs = qs.map(q =>
      expr(s"approx_percentile($valueCol, ${q}d, $accuracy)").as(s"q${(q * 100).round}"))
    val aggs = qAggs :+
      approx_count_distinct(col(distinctCol), rsd).as("approx_distinct") :+
      count(lit(1)).as("n_rows")
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Overlapping token-window chunking — the document→passage step of an
    * embed/index pipeline. Chunk i covers tokens [i*stride, i*stride +
    * chunkSize) (stride = chunkSize - overlap); every non-empty document
    * yields >= 1 chunk and every token lands in some chunk. One projection +
    * one explode, no shuffle: at 100 TB this runs at scan speed and the
    * explosion factor is ~n_tokens/stride per doc. Tokens are materialized
    * into a bound column BEFORE the per-chunk lambda so the tokenizer runs
    * once per document, not once per chunk (the HOF re-evaluation trap). */
  def chunkByTokens(
      docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val withToks = docs.select(col(idCol), TextFns.tokens(col(textCol)).as("__w"))
    val n = size(col("__w"))
    val nChunks = greatest(
      ceil((n - lit(overlap)).cast("double") / lit(stride)).cast("long"), lit(1L))
    withToks
      .select(col(idCol), explode(transform(
        sequence(lit(0L), nChunks - 1),
        i => struct(
          i.as("chunk_idx"),
          concat_ws(" ", slice(col("__w"), (i * stride + 1).cast("int"), lit(chunkSize)))
            .as("chunk")))).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk"))
  }

  /** N-gram novelty score — the inverse of contamination: the fraction of a
    * document's distinct n-grams that appear in NO other document. High
    * novelty marks unique content worth keeping (or hallucinated noise);
    * near-zero novelty marks boilerplate already covered elsewhere. Shape:
    * the per-doc distinct grams explode once, the corpus-wide document
    * frequency aggregates map-side, and a df=1 gram is by construction
    * unique to its single containing doc — so novelty needs ONE extra
    * aggregation over the exploded grams, no self-join. The fraction is a
    * single IEEE division of exact integer counts. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // grams derive twice (df pass + join pass) rather than holding a
    // persisted corpus-sized explosion — the explode is scan-speed kernel
    // output, so two passes beat caching it at 100 TB
    def grams = docs.select(col(idCol),
      explode(graft.functions.Kernels.wordNgramsSortedCol(col(textCol), n)).as("gram"))
    val df = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    grams.join(df, "gram")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_grams").cast("double"))
  }

  /** Chunk-level language segmentation — the code-switching detector: a
    * document is chunked ([[chunkByTokens]]), each chunk language-ID'd
    * ([[graft.functions.TextFns.langId]]), and the per-doc rollup reports
    * how many distinct languages appear, the majority language (ties to the
    * lexicographically smallest) and a mixed flag. Doc-level language ID
    * alone mislabels interleaved bilingual documents; the chunk-level vote
    * is the standard fix. Composition of two gated operators — one explode
    * + one (doc, lang) aggregation, no new per-row machinery. */
  def mixedLanguage(
      docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perChunk = chunkByTokens(docs, idCol, textCol, chunkSize, overlap)
      .select(col(idCol), TextFns.langId(col("chunk")).as("lang"))
    val counts = perChunk.groupBy(col(idCol), col("lang")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("n").desc, col("lang").asc)
    counts
      .withColumn("rk", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        sum(col("n")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(when(col("rk") === 1, col("lang"))).as("majority_lang"))
      .withColumn("mixed", (col("n_langs") > 1).cast("long"))
  }

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumberPattern = "[0-9]{7,}"

  /** Octet-validated dotted-quad (0-255 each) — stays in the regex subset
    * Java regex and RE2 share (no lookarounds), so the match set is
    * engine-identical. Word-ish boundaries via explicit non-digit/non-dot
    * context are handled by full-token extraction below. */
  val Ipv4Octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val Ipv4Pattern = s"$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet\\.$Ipv4Octet"

  /** Network-identifier PII: counts and redacts octet-valid IPv4 addresses
    * — the third PII tier next to [[withPiiRedaction]]'s emails/digit-runs
    * and [[withCardPii]]'s checksum-validated cards. Token-anchored: the
    * address must be a whole whitespace-delimited token, so version strings
    * like "1.2.3.4.5" and embedded decimals don't false-positive. Pure
    * per-row projection, scan speed. */
  def withIpv4Pii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokMatch = filter(TextFns.tokens(col(textCol)),
      t => t.rlike(s"^$Ipv4Pattern$$"))
    docs.select(
      col(idCol),
      size(tokMatch).cast("long").as("n_ipv4"),
      concat_ws(" ", transform(TextFns.tokens(col(textCol)),
        t => when(t.rlike(s"^$Ipv4Pattern$$"), lit("<IP>")).otherwise(t)))
        .as("redacted"))
  }

  /** PII scrubbing for training corpora: redacts email addresses and long
    * digit runs (phone/account numbers) and reports match counts. Patterns
    * are kept to the regex subset with identical semantics in Java regex and
    * RE2, so the redaction is oracle-checkable cross-engine. Pure per-row
    * projection — scan speed, no shuffle. */
  def withPiiRedaction(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(LongNumberPattern), lit(0))).as("n_numbers"),
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
        LongNumberPattern, "<NUM>").as("redacted"))

  /** BPE-style vocabulary induction — the tokenizer-training core: `rounds`
    * greedy merges of the most frequent adjacent symbol pair, starting from
    * characters. Returns one row per round: (round, pair, merged, n) —
    * bit-identical to merging one global argmax pair at a time.
    *
    * Exactness: symbol sequences are SPACE-DELIMITED STRINGS ("t h e") and
    * a merge rewrite is SYMBOL-ALIGNED: the string is lifted to a doubled-
    * space canonical form (single-space sentinels at the ends, two spaces
    * between symbols) so a plain left-to-right non-overlapping `replace` of
    * " a  b " can only match a whole adjacent symbol pair, never a suffix/
    * prefix inside a longer symbol (the old string-level divergence: pair
    * ("x","y") applied to "zx y" must NOT produce "zxy"). A match consumes
    * one space of each flanking double and the replacement " ab " restores
    * it, so the canonical form is closed under merges; collapsing doubles
    * and trimming recovers the plain form. `replace` semantics are
    * identical in Java and DuckDB, so this IS greedy array-based BPE
    * application expressed in the one string primitive both engines share,
    * and the winning pair — argmax by (count desc, pair asc), a
    * deterministic tie-break — makes k unrolled CTE rounds in SQL
    * reproduce the merge table bit-for-bit: tokenizer training itself is
    * oracle-checkable.
    *
    * Scale shape — the tokenizer-trainer split. The DATA-scale work is the
    * one corpus groupBy up front: pair statistics are frequency-weighted
    * over the WORD VOCABULARY with counts, not the corpus (the standard
    * BPE trick), so the merge loop's working set is vocabulary-bounded at
    * any corpus size. The ROUNDS-scale work then takes one of two paths:
    *  - Vocabulary fits the driver (`localVocabLimit`, the same bounded-
    *    collect budget as IVF centroids): the merge loop runs IN MEMORY
    *    with incremental pair-count deltas — merging pair P re-scans only
    *    the words that contain P, via a pair→words index, with a lazy-
    *    invalidation max-heap for the argmax — which is how production
    *    tokenizer trainers work and makes a realistic 32k-merge run a few
    *    seconds of driver CPU after TWO Spark jobs (count + collect),
    *    independent of `rounds`. Tie-breaks compare UTF-8 BYTES (Spark
    *    UTF8String and DuckDB binary collation agree; Java's UTF-16
    *    compareTo diverges on supplementary chars), so the in-memory loop
    *    is bit-identical to the SQL rounds.
    *  - Vocabulary beyond the driver: a distributed loop that BATCHES
    *    merges. Each recount collects the top `topK` (+1 bounding
    *    sentinel) pairs once and applies the longest sorted prefix that is
    *    provably order-equivalent to sequential argmax in ONE rewrite
    *    pass. The batch rule is exact, not a heuristic: a prefix pair is
    *    admitted only while (a) it shares no symbol — nor its
    *    concatenation, which an earlier merge could mint as a new symbol —
    *    with any earlier batch member, so its count is invariant under the
    *    earlier merges, and (b) its count is STRICTLY above the first
    *    conflicting (or off-window) count: every pair CREATED by an
    *    earlier batch merge is bounded by some conflicting original pair's
    *    count, so strict dominance means nothing can overtake it mid-
    *    batch, and unchanged non-batch pairs lose ties to it by pair-asc
    *    order. When the rule admits nothing, a plain 1-pair argmax round
    *    runs — worst case degrades to the sequential loop, never to wrong
    *    output. [[lastBpeBatchRounds]] exposes the cycle count for the
    *    sublinearity spec. */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int, topK: Int = 64,
      localVocabLimit: Long = 2000000L): DataFrame = {
    require(rounds >= 1 && topK >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = docs.select(explode(TextFns.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("segs"), col("n"))
    // localCheckpoint (eager), not persist: every cycle would otherwise
    // nest the previous InMemoryRelation's whole plan — at realistic merge
    // counts the lineage alone OOMs the driver (the Graph.scala lesson)
    var cur = vocab.localCheckpoint()
    if (cur.count() <= localVocabLimit) {
      val rows = cur.collect().map(r => (r.getString(0), r.getLong(1)))
      Dedup.releaseCheckpoint(cur)
      lastBpeBatchRounds = 1
      return bpeTrainLocal(rows, rounds).toDF("round", "pair", "merged", "n")
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1
    var cycles = 0
    while (round <= rounds) {
      // single-symbol words carry no pairs — filter BEFORE the explode
      // (also dodges the sequence(1, 0) descending-sequence trap)
      val pairs = cur
        .filter(size(split(col("segs"), " ")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(split(segs, ' ')) - 1), " +
            "i -> concat(element_at(split(segs, ' '), i), ' ', element_at(split(segs, ' '), i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("pair")).limit(topK + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      if (top.isEmpty) {
        round = rounds + 1 // vocabulary fully merged — nothing left to do
      } else {
        val batch = bpeSelectBatch(top, topK, rounds - round + 1)
        batch.foreach { case (pair, cnt) =>
          merges += ((round.toLong, pair, pair.replace(" ", ""), cnt))
          round += 1
        }
        // one symbol-aligned rewrite applies the whole batch, in priority
        // order — a later merge may mint a symbol equal to an earlier
        // pair's member, and that new symbol must NOT re-match
        val doubled =
          concat(lit(" "), replace(col("segs"), lit(" "), lit("  ")), lit(" "))
        val rewritten = batch.foldLeft(doubled) { case (acc, (pair, _)) =>
          replace(acc,
            lit(" " + pair.replace(" ", "  ") + " "),
            lit(" " + pair.replace(" ", "") + " "))
        }
        val next = cur
          .select(trim(replace(rewritten, lit("  "), lit(" "))).as("segs"), col("n"))
          .localCheckpoint() // eager: materialized before releasing the parent
        Dedup.releaseCheckpoint(cur)
        cur = next
        cycles += 1
      }
    }
    Dedup.releaseCheckpoint(cur)
    lastBpeBatchRounds = cycles
    merges.result().toDF("round", "pair", "merged", "n")
  }

  /** Recount+rewrite cycles of the last [[bpeMerges]] call — the
    * jobs-sublinear-in-rounds property OperatorsSpec pins. */
  @volatile var lastBpeBatchRounds: Int = 0

  /** The exact sequential-equivalence batch rule (rationale in
    * [[bpeMerges]]): longest (cnt desc, pair asc) prefix whose members are
    * pairwise disjoint over {first, second, concatenation}, cut to counts
    * strictly above the first conflicting — or off-window — count, capped
    * at `want`. Falls back to the bare argmax when the rule admits none. */
  private def bpeSelectBatch(
      top: Array[(String, Long)], scanned: Int, want: Int): Seq[(String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var bound = if (top.length > scanned) top(scanned)._2 else 0L
    var i = 0
    var open = true
    while (open && i < math.min(top.length, scanned)) {
      val (pair, cnt) = top(i)
      val parts = pair.split(" ", 2)
      if (used(parts(0)) || used(parts(1)) || used(parts(0) + parts(1))) {
        open = false
        bound = math.max(bound, cnt)
      } else {
        prefix += ((pair, cnt))
        used += parts(0); used += parts(1); used += parts(0) + parts(1)
        i += 1
      }
    }
    val safe = prefix.takeWhile(_._2 > bound)
    (if (safe.isEmpty) prefix.take(1) else safe).take(want).toSeq
  }

  /** Spark UTF8String / DuckDB binary-collation string order: unsigned
    * UTF-8 byte comparison. Java's String.compareTo (UTF-16 code units)
    * sorts supplementary characters differently — argmax tie-breaks must
    * use THIS order to stay bit-identical to the SQL rounds. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** In-memory BPE merge loop over the collected (segs, n) vocabulary —
    * sequential argmax with incremental pair-count deltas: merging pair P
    * re-scans only words containing P (pair→words index) and the argmax is
    * a lazy-invalidation max-heap (stale entries are re-enqueued with
    * their live count on pop), so total work is proportional to text
    * actually rewritten, not rounds × vocabulary. Count semantics mirror
    * the SQL rounds exactly: every adjacency is counted (overlaps
    * included), the rewrite is greedy left-to-right non-overlapping, and
    * ties break on UTF-8 bytes. */
  private def bpeTrainLocal(
      vocab: Array[(String, Long)], rounds: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val words = vocab.map(_._1.split(" "))
    val wn = vocab.map(_._2)
    // max-first: higher count wins; ties go to the byte-smaller pair
    val ord = new Ordering[(Long, String)] {
      def compare(p: (Long, String), q: (Long, String)): Int =
        if (p._1 != q._1) java.lang.Long.compare(p._1, q._1)
        else if (p._2 == q._2) 0
        else if (utf8Lt(p._2, q._2)) 1 else -1
    }
    val heap = mutable.PriorityQueue.empty[(Long, String)](ord)
    val pc = mutable.HashMap.empty[String, Long]
    val where = mutable.HashMap.empty[String, mutable.Set[Int]]
    def scanWord(wi: Int, syms: Array[String], sign: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val p = syms(i) + " " + syms(i + 1)
        val nv = pc.getOrElse(p, 0L) + sign * wn(wi)
        if (nv == 0L) pc.remove(p) else pc.update(p, nv)
        if (sign > 0L) {
          where.getOrElseUpdate(p, mutable.Set.empty) += wi
          heap.enqueue((nv, p))
        }
        i += 1
      }
    }
    words.indices.foreach(wi => scanWord(wi, words(wi), 1L))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1
    var done = false
    while (round <= rounds && !done) {
      if (heap.isEmpty) done = true
      else {
        val (c, p) = heap.dequeue()
        val live = pc.getOrElse(p, 0L)
        if (live != c) { if (live > 0L) heap.enqueue((live, p)) } // stale entry
        else {
          val parts = p.split(" ", 2)
          val m = parts(0) + parts(1)
          merges += ((round.toLong, p, m, c))
          // the index only grows, so entries may be stale — the rewrite
          // no-ops (same length) on words that no longer hold the pair
          where.getOrElse(p, mutable.Set.empty).foreach { wi =>
            val ns = bpeRewrite(words(wi), parts(0), parts(1), m)
            if (ns.length != words(wi).length) {
              scanWord(wi, words(wi), -1L)
              words(wi) = ns
              scanWord(wi, ns, 1L)
            }
          }
          where.remove(p)
          round += 1
        }
      }
    }
    merges.result()
  }

  /** Greedy left-to-right non-overlapping merge of (a, b) → m — exactly
    * the doubled-space `replace` the distributed path and the SQL oracle
    * apply. */
  /** Distributed BPE ENCODE — apply an ordered, trained merge list
    * ([[bpeMerges]] output pairs) to every document and report per-doc
    * whitespace-token and BPE-segment counts. The apply side of tokenizer
    * training: encoding is per-WORD, so the corpus first collapses to its
    * (doc, word) counts and the merge loop runs once per DISTINCT word
    * (`Kernels.bpeSegmentCount` — a row-local kernel with the exact
    * left-to-right pair-pass semantics of the trainer's rewrite), then a
    * vocabulary-sized broadcast join fans the segment counts back out.
    * At 100 TB: work scales with vocabulary + one map-side-combined
    * (doc, word) aggregation, never corpus x merges. */
  def bpeEncode(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[String]): DataFrame = {
    val mergesCol = array(merges.map(lit(_)): _*)
    // dw feeds both the vocabulary distinct and the fan-out join (2
    // tokenize passes); persisting it was TRIED AND REVERTED (r18):
    // 1.18 -> 1.68 s min-of-3 at sf0.1 — materializing the (doc, word,
    // count) relation costs more than the column-pruned second tokenize
    // (the vocabulary branch reads ONLY `word`; the eval_sq_rank_tau
    // column-pruning-beats-materialization precedent from r17).
    val dw = docs
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("k"))
    val vocab = dw.select(col("word")).distinct()
      .withColumn("n_bpe",
        graft.functions.Kernels.bpeSegmentCountCol(col("word"), mergesCol))
    dw.join(broadcast(vocab), "word")
      .groupBy(col(idCol))
      .agg(
        sum(col("k")).cast("long").as("n_tokens"),
        sum(col("k") * col("n_bpe")).cast("long").as("n_bpe_segments"))
  }

  private def bpeRewrite(syms: Array[String], a: String, b: String, m: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) { out += m; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** EXACT heavy hitters by sketch-then-verify — the two-pass shape that
    * finds frequent tokens at corpus scale without a full-vocabulary
    * aggregation dominating the job. Pass 1 builds a Count-Min sketch
    * (bounded depth×width state, one map-side-combined aggregation); the
    * sketch is collected (≤ depth·width longs) and embedded as LITERAL
    * arrays, so pass 2's candidate filter `est(w) >= threshold` is a
    * SCAN-SPEED projection — no join, no shuffle. CMS only overestimates,
    * so the filter has NO false negatives; the exact count then runs over
    * candidate occurrences alone (true heavies + the sketch's few false
    * positives) and the final `n >= threshold` makes the output EXACT —
    * which is why a plain GROUP BY/HAVING oracle hash-matches it. */
  def heavyHitters(
      docs: DataFrame, textCol: String, threshold: Long,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val toks = docs.select(explode(TextFns.tokens(col(textCol))).as("w"))
    // the sketch hash here is INTERNAL — the gate oracle is the plain
    // GROUP BY/HAVING, and CMS soundness (est >= true, no false negatives)
    // holds for any deterministic hash family — so it uses xxhash64
    // (codegen-native, one 64-bit mix) instead of md5Long (an md5 digest +
    // hex substring + base conversion per family per token: 8 md5s/token
    // across build + probe, measured as this cell's dominant cost r17).
    // Gated sketch VALUES (sketch_cms_freq) keep the md5 family.
    def bucket(c: Column, i: Int): Column =
      pmod(xxhash64(lit(i), c), lit(width.toLong)).cast("int")
    val counters = Array.fill(depth, width)(0L)
    toks
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("family"), bucket(col("w"), i).as("bucket"))): _*)).as("fb"))
      .groupBy(col("fb.family").as("family"), col("fb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        counters(r.getInt(0))(r.getInt(1)) = r.getLong(2)
      }
    val est = least((0 until depth).map { i =>
      element_at(
        array(counters(i).toIndexedSeq.map(lit(_)): _*),
        bucket(col("w"), i) + 1)
    }: _*)
    toks.filter(est >= threshold)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }

  /** Inverted-index postings: per token, document frequency plus the head
    * of the (doc-id-sorted) posting list — the IR building block behind
    * every keyword-retrieval path. The head cap rides a row_number window
    * (WindowGroupLimit pushes the top-k into the sort — the per-source
    * quota pattern), so no full posting list is ever collected; df comes
    * from a separate full count so the cap never understates frequency. */
  def invertedPostings(
      docs: DataFrame, idCol: String, textCol: String, cap: Int = 10): DataFrame = {
    val dt = docs.select(col(idCol).as("did"),
      explode(array_distinct(TextFns.tokens(col(textCol)))).as("token"))
    val dfc = dt.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val rn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("did"))
    val tops = dt
      .withColumn("rn", row_number().over(rn))
      .filter(col("rn") <= cap)
      .groupBy(col("token"))
      .agg(expr("array_join(transform(sort_array(collect_list(did)), x -> CAST(x AS STRING)), ',')")
        .as("postings_head"))
    dfc.join(tops, "token")
  }

  /** χ²-distinctive terms per language: for each (lang, token), the 2×2
    * contingency chi-square over DOCUMENT frequencies —
    * a = docs in lang with token, b = lang docs without it, c = other-lang
    * docs with it, d = the rest; χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)).
    * The classic feature-selection statistic (Manning/Schütze ch.5): high
    * χ² = the token's presence is strongly associated with the language —
    * exactly what a corpus router or contamination triage wants ranked.
    *
    * Exactness: all counts are exact integers; the χ² value casts each
    * FACTOR to double before multiplying (the PSI overflow lesson — a
    * products-of-counts long overflows at corpus scale, doubles never) and
    * both engines evaluate the identical left-associated IEEE expression,
    * so even the ORDER BY over χ² agrees bit-for-bit. Ubiquitous tokens
    * (in every doc) and single-language corpora are filtered: their
    * denominator factor is 0 and they carry no contrast anyway.
    *
    * Shape: one doc-distinct token explode, one (lang, token) count, one
    * token-df count, a broadcast join on the per-language totals (bounded
    * by #languages) and a token-keyed join for df (corpus-scale domain —
    * deliberately NOT broadcast), then a per-lang top-k window. */
  def chi2Terms(
      docs: DataFrame, idCol: String, langCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    val dt = docs.select(col(langCol).as("lang"), col(idCol).as("did"),
      explode(array_distinct(TextFns.tokens(col(textCol)))).as("token"))
    val langTotals = docs.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n_lang"))
    val n = langTotals.collect().map(_.getLong(1)).sum // driver state: one long per language
    val a = dt.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("a"))
    val tokDf = dt.groupBy(col("token")).agg(count(lit(1)).as("tok_df"))
    def d(c: Column): Column = c.cast("double")
    val adbc = d(col("a")) * d(col("dd")) - d(col("b")) * d(col("c"))
    val scored = a
      .join(broadcast(langTotals), "lang")
      .join(tokDf, "token")
      .withColumn("b", col("n_lang") - col("a"))
      .withColumn("c", col("tok_df") - col("a"))
      .withColumn("dd", lit(n) - col("n_lang") - col("c"))
      .filter(col("c") + col("dd") > 0 && col("b") + col("dd") > 0)
      .withColumn("chi2",
        lit(n.toDouble) * adbc * adbc /
          (d(col("n_lang")) * d(col("c") + col("dd")) * d(col("a") + col("c")) * d(col("b") + col("dd"))))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("chi2").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= topK)
      .select(col("lang"), col("token"), col("a").as("df_lang"), col("chi2"))
  }

  /** Mutual-information feature selection — [[chi2Terms]]'s
    * information-theoretic sibling (the two rank differently on rare
    * strongly-associated terms: χ² rewards them, MI discounts by mass; a
    * curation audit wants both). Per (token, lang) the binary-event MI over
    * document frequencies:
    *   MI·N = Σ_cells n_cell · ln(N·n_cell / (row·col))
    * over the four presence/absence cells, empty cells contributing exact 0
    * (lim x·ln x = 0).
    *
    * Exactness: each cell's log factors to FOUR separately-quantized qln
    * terms — `qln(n_cell) + qln(N) − qln(row) − qln(col)` (the WoE
    * precedent: no products inside ln, so no overflow at any count) — and
    * the cell contribution `n_cell·(…)` is an order-free integer sum.
    * `mi_scaled` ≈ MI·N·1e6 (micro-nats × N). |qln sum| < 1e8 ⇒ the
    * product binds only past n_cell ~ 9e10 docs per cell.
    *
    * Scale shape: identical to chi2Terms — distinct-token explode,
    * map-side-combined counts, broadcast lang totals, per-lang top-k
    * window (fanout bounded by vocabulary × languages). Returns
    * (lang, token, df_lang, mi_scaled) top-`topK` per lang. */
  def miTerms(docs: DataFrame, idCol: String, langCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    val dt = docs.select(col(langCol).as("lang"), col(idCol).as("did"),
      explode(array_distinct(TextFns.tokens(col(textCol)))).as("token"))
    val langTotals = docs.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n_lang"))
    val n = langTotals.collect().map(_.getLong(1)).sum // driver state: one long per language
    val a = dt.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("a"))
    val tokDf = dt.groupBy(col("token")).agg(count(lit(1)).as("tok_df"))
    // one cell's n·(qln(n_cell)+qln(N)−qln(row)−qln(col)); zero cells → 0
    def cell(nc: Column, rowTot: Column, colTot: Column): Column =
      when(nc === 0L, 0L).otherwise(
        nc * (Features.qln(nc) + Features.qln(lit(n)) -
          Features.qln(rowTot) - Features.qln(colTot)))
    val scored = a
      .join(broadcast(langTotals), "lang")
      .join(tokDf, "token")
      .withColumn("b", col("n_lang") - col("a"))
      .withColumn("c", col("tok_df") - col("a"))
      .withColumn("dd", lit(n) - col("n_lang") - col("c"))
      .withColumn("mi_scaled",
        cell(col("a"), col("n_lang"), col("tok_df")) +
        cell(col("b"), col("n_lang"), lit(n) - col("tok_df")) +
        cell(col("c"), lit(n) - col("n_lang"), col("tok_df")) +
        cell(col("dd"), lit(n) - col("n_lang"), lit(n) - col("tok_df")))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("mi_scaled").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(rk))
      .filter(col("rk") <= topK)
      .select(col("lang"), col("token"), col("a").as("df_lang"), col("mi_scaled"))
  }

  /** Gibberish / extraction-garbage detection — the filter that catches
    * what [[gopherQuality]]'s stopword evidence misses: binary-pasted
    * blobs, OCR line noise, base64/hex runs, minified payloads masquerading
    * as prose. Three structural signals in the shared Java/RE2-safe
    * subset:
    *   - `max_word_len` — longest whitespace-token (a 60-char "word" is a
    *     hash/base64 run, not language),
    *   - `novowel_permille` — share of words with no ASCII vowel (per-word
    *     list filter; real language keeps this near zero),
    *   - `alnum_permille` — alphanumeric share of all characters (symbol
    *     storms drive it down).
    * `is_garbage` fires on any of the three thresholds. All arithmetic
    * integer per-mille, divisions nullif-guarded; empty docs score clean
    * zeros, not errors.
    *
    * Scale shape: one narrow projection pass, token-array HOFs whose
    * lambdas touch only their own argument (the wordNgrams trap note);
    * no shuffle. Returns per-doc signals + the flag (reason-code contract:
    * the caller sees WHICH signal fired). */
  def garbageSignals(docs: DataFrame, idCol: String, textCol: String,
      maxWordLen: Long = 40L, novowelThrPermille: Long = 500L,
      alnumThrPermille: Long = 400L): DataFrame = {
    docs.select(col(idCol), col(textCol).as("__t"),
        TextFns.tokens(col(textCol)).as("__w"))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_chars", length(col("__t")).cast("long"))
      .withColumn("max_word_len",
        coalesce(expr("aggregate(__w, 0L, (a, x) -> greatest(a, CAST(length(x) AS BIGINT)))"),
          lit(0L)))
      // vowel evidence judges LATIN-script words only — a zh/ru document
      // has zero ASCII vowels by design and must not read as gibberish
      .withColumn("latin_words",
        expr("CAST(size(filter(__w, x -> x rlike '[A-Za-z]')) AS BIGINT)"))
      .withColumn("novowel_words",
        expr("CAST(size(filter(__w, x -> x rlike '[A-Za-z]' AND NOT x rlike '[aeiouAEIOU]')) AS BIGINT)"))
      // any-script letters/digits count as substance (\p{L}\p{N} — RE2 and
      // Java agree on the Unicode classes), not just ASCII
      .withColumn("alnum_chars",
        (col("n_chars") - length(regexp_replace(col("__t"), "[\\p{L}\\p{N}]", ""))).cast("long"))
      .withColumn("novowel_permille",
        expr("coalesce(novowel_words * 1000 div nullif(latin_words, 0), 0L)"))
      .withColumn("alnum_permille",
        expr("coalesce(alnum_chars * 1000 div nullif(n_chars, 0), 0L)"))
      .withColumn("is_garbage",
        (col("max_word_len") > maxWordLen ||
          (col("latin_words") > 0L && col("novowel_permille") >= novowelThrPermille) ||
          (col("n_chars") > 0L && col("alnum_permille") < alnumThrPermille)).cast("long"))
      .drop("__t", "__w", "latin_words", "novowel_words", "alnum_chars")
  }

  /** Gopher quality-rule battery (Rae et al. '21, table A1 core): word
    * count bounds, mean word length band, alphabetic-word share, minimum
    * stopword evidence — the standard pre-filter battery applied before
    * any model-based scoring. ONE narrow pass (token-array HOFs, each
    * lambda touching only its own argument), integer milli/per-mille
    * arithmetic, nullif-guarded divisions. Returns the per-rule signals
    * AND the composite keep flag so downstream audits can see WHICH rule
    * fired (the reason-code contract quality_check set). */
  def gopherQuality(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 20L, maxWords: Long = 100000L): DataFrame = {
    val g = gopherRules(col(textCol), minWords, maxWords)
    docs.select(col(idCol), g.nWords.as("n_words"), g.meanWlenMilli.as("mean_wlen_milli"),
      g.alphaPermille.as("alpha_permille"), g.stopHits.as("stop_hits"), g.keep.as("keep"))
  }

  /** [[gopherQuality]]'s `keep` flag (1 when every rule passes) of one text
    * column, for a row filter. */
  def gopherKeep(text: Column, minWords: Long, maxWords: Long): Column =
    gopherRules(text, minWords, maxWords).keep

  private final case class GopherRules(nWords: Column, meanWlenMilli: Column,
      alphaPermille: Column, stopHits: Column, keep: Column)

  private def gopherRules(text: Column, minWords: Long, maxWords: Long): GopherRules = {
    require(minWords >= 1 && maxWords >= minWords, "bad word bounds")
    val w = TextFns.tokens(text)
    val nWords = size(w).cast("long")
    val sumWlen = aggregate(w, lit(0L), (a, x) => a + length(x))
    val alphaWords = size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val stopHits = size(filter(w, x =>
      x.isin("the", "a", "an", "and", "of", "to", "in", "is"))).cast("long")
    val meanWlenMilli = call_function("div", sumWlen * 1000, nullif(nWords, lit(0L)))
    val alphaPermille = call_function("div", alphaWords * 1000, nullif(nWords, lit(0L)))
    GopherRules(nWords, meanWlenMilli, alphaPermille, stopHits, coalesce(
      nWords.between(minWords, maxWords) && meanWlenMilli.between(3000L, 10000L) &&
        alphaPermille >= 800L && stopHits >= 2L,
      lit(false)).cast("long"))
  }

  // ----- unigram-LM (SentencePiece-style) tokenizer training -----

  /** Driver-side twin of the cross-engine quantized-ln contract
    * ([[Features.qln]]): same JVM libm as Spark's `ln`, which matches
    * DuckDB's on integer inputs (the BM25/LM-fit precedent, r11 sqrt
    * extension to driver math). */
  private def qlnL(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong

  /** Viterbi best segmentation of `w` under piece log-scores: maximize the
    * score sum; ties broken toward the SMALLEST start index of the final
    * piece at every DP cell (strict `>` while scanning starts ascending —
    * the rule the unrolled SQL oracle re-derives as `min(i)` over the
    * argmax set). Single characters are always in the vocabulary by
    * construction, so segmentation is always feasible. */
  private def viterbiSegment(w: String, scores: Map[String, Long], maxPieceLen: Int): List[String] = {
    val L = w.length
    val best = new Array[Long](L + 1)
    val bp = new Array[Int](L + 1)
    var j = 1
    while (j <= L) {
      var b = Long.MinValue
      var bi = -1
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        scores.get(w.substring(i, j)) match {
          case Some(s) =>
            val cand = best(i) + s
            if (bi < 0 || cand > b) { b = cand; bi = i }
          case None => ()
        }
        i += 1
      }
      require(bi >= 0, s"no vocabulary piece covers '$w' at $j — chars missing from vocab")
      best(j) = b
      bp(j) = bi
      j += 1
    }
    var pieces = List.empty[String]
    var pos = L
    while (pos > 0) { pieces = w.substring(bp(pos), pos) :: pieces; pos = bp(pos) }
    pieces
  }

  /** Shared trainer: seed vocabulary from per-occurrence substring mass,
    * then `rounds` of HARD EM — Viterbi re-segmentation (E) and count
    * re-estimation with add-one rescoring (M), pruning multi-char pieces
    * whose expected count drops to zero. The deterministic integer form of
    * SentencePiece's unigram-LM EM: hard (Viterbi) expectations make every
    * count an integer and every score a quantized ln, so tokenizer
    * TRAINING itself hash-matches an unrolled SQL re-derivation (the
    * bpeMerges precedent, third tokenizer family).
    *
    * Scale: everything iterates over the DISTINCT word vocabulary, never
    * the corpus; per round one distributed count job (kernel segmentation
    * over broadcast scores) + one vocabulary-sized collect. Returns
    * (words relation, final piece -> (count, score)). */
  private def unigramTrain(docs: DataFrame, textCol: String, maxPieceLen: Int,
      seedMinCount: Long, rounds: Int, maxWordLen: Int): (DataFrame, Map[String, (Long, Long)]) = {
    require(maxPieceLen >= 1 && rounds >= 1 && maxWordLen >= maxPieceLen, "bad unigram params")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(TextFns.tokens(col(textCol))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("n_occ"))
      .transform(Residuals.persist)
    // seed: EVERY substring occurrence of length <= maxPieceLen (overlaps
    // count), mass-weighted; chars unconditionally kept
    val seedCols = for { p <- 1 to maxWordLen; l <- 1 to maxPieceLen } yield
      when(length(col("word")) >= p + l - 1, substring(col("word"), p, l))
    val seed = words.select(explode(array(seedCols: _*)).as("piece"), col("n_occ"))
      .filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("n_occ")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= seedMinCount)
      .as[(String, Long)].collect()
    var vocab: Map[String, Long] = seed.toMap // piece -> count
    val seedTotal = vocab.valuesIterator.sum
    var scores: Map[String, Long] = vocab.map { case (p, c) => p -> (qlnL(c) - qlnL(seedTotal)) }
    val mp = maxPieceLen
    for (_ <- 1 to rounds) {
      val sc = scores // stable closure capture per round
      val counts = words.as[(String, Long)]
        .flatMap { case (w, n) => viterbiSegment(w, sc, mp).map(_ -> n) }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .collect().toMap
      vocab = vocab.collect {
        case (p, _) if p.length == 1 => p -> counts.getOrElse(p, 0L)
        case (p, _) if counts.getOrElse(p, 0L) > 0L => p -> counts(p)
      }
      val total = vocab.valuesIterator.sum
      val v = vocab.size.toLong
      scores = vocab.map { case (p, c) => p -> (qlnL(c + 1) - qlnL(total + v)) }
    }
    (words, vocab.map { case (p, c) => p -> (c, scores(p)) })
  }

  /** Unigram-LM tokenizer TRAINING — returns the final vocabulary
    * (piece, cnt, score_scaled) after `rounds` hard-EM rounds. */
  def unigramLm(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedMinCount: Long = 30L, rounds: Int = 2, maxWordLen: Int = 16): DataFrame = {
    val (_, vocab) = unigramTrain(docs, textCol, maxPieceLen, seedMinCount, rounds, maxWordLen)
    val spark = docs.sparkSession
    import spark.implicits._
    val out = vocab.toSeq.map { case (p, (c, s)) => (p, c, s) }.sortBy(_._1)
    spark.createDataset(out).toDF("piece", "cnt", "score_scaled")
  }

  /** Unigram-LM ENCODE — Viterbi segmentation of every distinct word under
    * the trained vocabulary: (word, n_occ, n_pieces, pieces). */
  def unigramEncode(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      seedMinCount: Long = 30L, rounds: Int = 2, maxWordLen: Int = 16): DataFrame = {
    val (words, vocab) = unigramTrain(docs, textCol, maxPieceLen, seedMinCount, rounds, maxWordLen)
    val spark = docs.sparkSession
    import spark.implicits._
    val sc = vocab.map { case (p, (_, s)) => p -> s }
    val mp = maxPieceLen
    words.as[(String, Long)].map { case (w, n) =>
      val pieces = viterbiSegment(w, sc, mp)
      (w, n, pieces.length.toLong, pieces.mkString(" "))
    }.toDF("word", "n_occ", "n_pieces", "pieces")
  }

  // ----- HTML boilerplate extraction (the web-corpus front door) -----

  /** The shared HTML→text pipeline contract (pinned here, mirrored verbatim
    * by the DuckDB oracle — every regex stays in the Java/RE2-common subset:
    * no backrefs, no lookaround, whitespace classes spelled out):
    *   1. strip comments `(?s)<!--.*?-->`
    *   2. strip `(?is)<script…>…</script>` then `<style…>…</style>`
    *   3. block-level tags (p/div/li/ul/ol/h1-6/br/tr/td/th/table/thead/
    *      tbody/section/article/header/footer/nav/blockquote/pre; the
    *      `(\s[^>]*)?` suffix keeps `<pre>` from matching the `p` branch)
    *      become U+0001 block separators
    *   4. per block: anchor inner text via `(?is)<a(\s[^>]*)?>(.*?)</a>`
    *      group 2; visible text via cleanup = strip remaining tags → ' ',
    *      decode `&lt; &gt; &quot; &#39; &apos; &nbsp;` THEN `&amp;` last
    *      (so `&amp;lt;` renders as the literal `&lt;` — and a decoded `<`
    *      never re-triggers tag stripping because tags are already gone),
    *      collapse `[ \t\nVT\f\r]+` to one space, trim
    *   5. a block is boilerplate iff its anchor-chars·1000 div text-chars
    *      exceeds the threshold (nav bars / footers / link lists); kept
    *      blocks rejoin with \n in document order.
    */
  private val HtmlBlockTags =
    "p|div|li|ul|ol|h[1-6]|br|tr|td|th|table|thead|tbody|section|article|header|footer|nav|blockquote|pre"
  private val HtmlAnchorPat = "(?is)<a(\\s[^>]*)?>(.*?)</a>"

  /** cleanup stage 4 of the contract over any string column. */
  private[graft] def htmlCleanup(c: Column): Column = {
    val noTags = regexp_replace(c, "(?s)<[^>]*>", " ")
    val ents = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
    trim(regexp_replace(ents, "[ \t\n\u000B\f\r]+", " "))
  }

  /** HTML/markup text extraction — the ingestion front door every web
    * corpus passes through before any other operator here can touch it.
    * Tag strip + entity decode + script/style drop + per-block link-density
    * boilerplate cut (trafilatura/jusText's core signal: a block that is
    * mostly anchor text is navigation, not content).
    *
    * Plan shape: one per-row regex projection, posexplode to per-block rows
    * (all codegen'd column ops), one groupBy(id) — a single shuffle whose
    * key is the document id, so it partitions perfectly at any corpus size.
    * The only HOF lambda (anchor-length sum) touches nothing but its own
    * argument (the wordNgrams outer-expression trap does not apply).
    *
    * Output per document: `clean_text` (kept blocks joined with \n),
    * `n_kept` / `n_dropped` (nonempty blocks), `link_permille` (document
    * link density over ALL nonempty blocks — the audit number). */
  def htmlExtract(docs: DataFrame, idCol: String, htmlCol: String,
      dropDensityPermille: Long = 500L): DataFrame = {
    val prepared = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      col(htmlCol),
      "(?s)<!--.*?-->", ""),
      "(?is)<script(\\s[^>]*)?>.*?</script>", ""),
      "(?is)<style(\\s[^>]*)?>.*?</style>", ""),
      s"(?i)</?($HtmlBlockTags)(\\s[^>]*)?/?>", "\u0001")
    val perBlock = docs
      .select(col(idCol), posexplode(split(prepared, "\u0001")).as(Seq("idx", "block")))
      .withColumn("btxt", htmlCleanup(col("block")))
      .withColumn("achars", aggregate(
        regexp_extract_all(col("block"), lit(HtmlAnchorPat), lit(2)),
        lit(0L), (acc, x) => acc + length(htmlCleanup(x)).cast("long")))
      .withColumn("nonempty", col("btxt") =!= "")
      // nullif guard: ANSI div throws on zero, and && does not promise
      // short-circuit under codegen — FALSE && NULL = FALSE keeps empty
      // blocks out without evaluating the division (r10 linearFit lesson)
      .withColumn("keep", col("nonempty") &&
        expr(s"achars * 1000 div nullif(length(btxt), 0)") <= dropDensityPermille)
    perBlock
      .groupBy(col(idCol))
      .agg(
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("idx"), col("btxt"))))),
          _.getField("btxt")), "\n"), lit("")).as("clean_text"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum((col("nonempty") && !col("keep")).cast("long")).as("n_dropped"),
        coalesce(
          expr("sum(CASE WHEN nonempty THEN achars ELSE 0 END) * 1000" +
            " div nullif(sum(CASE WHEN nonempty THEN length(btxt) ELSE 0 END), 0)"),
          lit(0L)).as("link_permille"))
  }

  /** Multinomial naive-Bayes language classifier, trained and evaluated in
    * one call — the GENERATIVE baseline beside the heuristic
    * [[withLangId]], the perceptron and the kNN label probe: per-language
    * token counts with add-one smoothing, docs scored by
    * `qln(prior_L) + Σ_tok m·qln(cnt_{L,tok}+1) − n_tok·qln(total_L + V)`
    * (every factor a separately-quantized qln of an integer — the WoE
    * no-products-inside-ln pattern, overflow-free at any corpus size), so
    * the trained model AND its predictions hash-match a SQL re-derivation.
    * Unseen (token, lang) pairs contribute qln(0+1) = 0 exactly, which is
    * why the smoothing constant folds into the two totals terms. Argmax
    * ties break toward the smaller language id (min-struct, the
    * label-prop precedent).
    *
    * Scale shape: training is one map-side-combined (lang, token) count;
    * scoring joins the test docs' distinct-token multiset against the
    * count relation fanned over the LANGUAGE DOMAIN (a handful of rows,
    * broadcast) — per-doc work is |doc vocab|·|langs|. Vocabulary size V
    * is the one driver-side long (miTerms' n precedent). Returns the test
    * confusion matrix (lang, predicted_lang, n_docs). */
  def nbLangConfusion(train: DataFrame, test: DataFrame, idCol: String,
      labelCol: String, textCol: String): DataFrame = {
    val trainToks = train.select(col(labelCol).as("lang"),
      explode(TextFns.tokens(col(textCol))).as("tok"))
    val counts = trainToks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Residuals.persist)
    val vocabV = counts.select(col("tok")).distinct().count()
    val langMeta = counts.groupBy(col("lang")).agg(sum(col("cnt")).as("tok_total"))
      .join(train.groupBy(col(labelCol).as("lang")).agg(count(lit(1)).as("n_docs_train")), "lang")
    val testToks = test.select(col(idCol).as("did"), col(labelCol).as("lang_true"),
        explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("did"), col("lang_true"), col("tok"))
      .agg(count(lit(1)).as("m"))
    val scored = testToks
      .crossJoin(broadcast(langMeta))
      .join(counts, Seq("lang", "tok"), "left")
      .groupBy(col("did"), col("lang_true"), col("lang"),
        col("tok_total"), col("n_docs_train"))
      .agg(sum(col("m") * Features.qln(coalesce(col("cnt"), lit(0L)) + 1)).as("seen_sum"),
        sum(col("m")).as("n_tok"))
      .withColumn("score",
        Features.qln(col("n_docs_train")) + col("seen_sum")
          - col("n_tok") * Features.qln(col("tok_total") + lit(vocabV)))
    scored.groupBy(col("did"), col("lang_true"))
      .agg(min(struct((-col("score")).as("ns"), col("lang"))).as("best"))
      .select(col("lang_true").as("lang"), col("best.lang").as("predicted_lang"))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** S-stemmer conflation audit (Harman 1991) — the three-rule plural
    * stemmer ("ies"→"y", "es"→"e", "s"→∅, each with its exception list)
    * that normalizes regular English plurals without Porter's cascade.
    * Deterministic string surgery on lowercase-ASCII tokens only (mixed-
    * case, digits and non-Latin pass through ungrouped — stemming Cyrillic
    * with English rules is noise), so the stem is a pure CASE expression
    * identical in both engines. Returns the conflation classes the stemmer
    * actually creates on this corpus: (stem, n_types, n_tokens, variants)
    * for stems that merged ≥ 2 surface forms — the audit table an IR
    * pipeline reviews before switching recall-sensitive matching onto
    * stems. One explode + one map-side-combined aggregate. */
  def sStemConflation(docs: DataFrame, textCol: String): DataFrame = {
    val toks = docs.select(explode(TextFns.tokens(col(textCol))).as("t"))
      .filter(col("t").rlike("^[a-z]+$"))
    val stemmed = toks.withColumn("stem", expr(
      """CASE
        |  WHEN length(t) > 4 AND right(t, 3) = 'ies'
        |       AND right(t, 4) NOT IN ('eies', 'aies')
        |    THEN concat(substr(t, 1, length(t) - 3), 'y')
        |  WHEN length(t) > 3 AND right(t, 2) = 'es'
        |       AND right(t, 3) NOT IN ('aes', 'ees', 'oes')
        |    THEN substr(t, 1, length(t) - 1)
        |  WHEN length(t) > 3 AND right(t, 1) = 's'
        |       AND right(t, 2) NOT IN ('us', 'ss')
        |    THEN substr(t, 1, length(t) - 1)
        |  ELSE t
        |END""".stripMargin))
    stemmed.groupBy(col("stem"))
      .agg(countDistinct(col("t")).as("n_types"),
        count(lit(1)).as("n_tokens"),
        array_join(sort_array(collect_set(col("t"))), " ").as("variants"))
      .filter(col("n_types") >= 2)
  }

  /** Duplicate-n-gram CHARACTER occupancy (Rae et al./Gopher's
    * `dup_ngram_chars` family): the fraction of a document's token
    * characters covered by any word n-gram that occurs ≥ 2 times WITHIN
    * the document — the repetition signal [[gopherSignals]]'s top-gram
    * occupancy can't see (ten different repeated trigrams each below the
    * top slot still mark a loopy generation). Coverage is the UNION of
    * positions (overlapping duplicate grams never double-count a token):
    * gram occurrences → per-doc counts → duplicated grams back onto their
    * start positions → `sequence(pos, pos+n−1)` explode → distinct
    * (doc, position) → token-length sum. Everything is id-keyed explode +
    * groupBy — partitions by document at any corpus size, fanout n× the
    * token stream. Docs shorter than n tokens report 0. Output:
    * (id, n_tokens, total_chars, dup_chars, dup_permille); total_chars
    * counts token characters (whitespace excluded on both engines). */
  def dupNgramChars(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, "n must be positive")
    // Persisting base/toks/grams (3 duplicate corpus subtrees) was TRIED
    // r18 and measured 1.57 -> 1.96 s min-of-3: materializing the wide
    // token-array and exploded relations costs more than the codegen'd
    // recomputation. Kept: ONLY the gram stream persist (the per-token
    // slice+concat transform feeds both sides of its df semi-join — the
    // one provably expensive duplicate); base/toks stay recomputed
    // (column-pruned scans, the eval_sq_rank_tau precedent).
    val base = docs.select(col(idCol).as("id"), TextFns.tokens(col(textCol)).as("w"))
    val toks = base.select(col("id"), posexplode(col("w")).as(Seq("p", "t")))
    val totals = toks.groupBy(col("id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(length(col("t")).cast("long")).as("total_chars"))
    val grams = base.select(col("id"), posexplode(filter(
        transform(col("w"), (_, i) => concat_ws(" ", slice(col("w"), i + 1, lit(n)))),
        (_, i) => i <= size(col("w")) - n)).as(Seq("p", "g")))
      .transform(Residuals.persist)
    val dupStarts = grams
      .join(grams.groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2), Seq("id", "g"), "left_semi")
    val covered = dupStarts
      .select(col("id"), explode(expr(s"sequence(p, p + ${n - 1})")).as("p"))
      .distinct()
      .join(toks, Seq("id", "p"))
      .groupBy(col("id")).agg(sum(length(col("t")).cast("long")).as("dup_chars"))
    totals.join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"), col("total_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_permille",
        expr("dup_chars * 1000 div nullif(total_chars, 0)"))
  }
}
