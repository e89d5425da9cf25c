package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID heuristics, and document fingerprinting.
  * Everything is built from codegen'd built-ins (split/transform/
  * regexp_extract_all/md5) — no UDFs — and derived ratios are computed
  * from exact integer counts so results are engine- and order-independent.
  */
object TextAnalysis {

  /** Whitespace tokens (the corpus is single-space separated). */
  def tokens(textCol: Column): Column = split(textCol, " ")

  /** The n-gram start indices 1..(size(ws)-n+1), EMPTY for documents with
    * fewer than `n` tokens. The unguarded `sequence(1, size-n+1)` is a trap
    * on short docs: `sequence(1, 0)` defaults to step -1 and yields [1, 0],
    * whose 0 then throws INVALID_INDEX_OF_ZERO inside `element_at` — where
    * the oracle's `generate_series(1, 0)` is empty. Null text (null `ws`)
    * also lands in the empty branch.
    */
  private[operators] def gramStarts(ws: Column, n: Int): Column =
    when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
      .otherwise(array().cast("array<int>"))

  /** BPE-ish lexical tokens: letter runs, digit runs, single other chars. */
  def regexTokens(textCol: Column): Column =
    regexp_extract_all(textCol, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Per-document quality metrics from exact integer counts:
    * n_tokens, n_uniq, type-token ratio (per-mille), stopword pct,
    * mean token length (centi-chars), short-doc flag.
    */
  def quality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col(idCol).as("doc_id"),
      size(ws).cast("long").as("n_tokens"),
      size(array_distinct(ws)).cast("long").as("n_uniq"),
      size(filter(ws, w => array_contains(stopArr, w))).cast("long").as("n_stop"),
      length(col(textCol)).cast("long").as("n_chars"))
    .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
      floor(col("n_uniq") * 1000.0 / col("n_tokens")).cast("long").as("ttr_millis"),
      floor(col("n_stop") * 100.0 / col("n_tokens")).cast("long").as("stopword_pct"),
      floor((col("n_chars") - (col("n_tokens") - 1)) * 100.0 / col("n_tokens"))
        .cast("long").as("tok_len_centi"),
      (col("n_tokens") < 20).as("is_short"))
  }

  /** Per-group unigram KL divergence against the pooled corpus — the
    * mixture-drift diagnostic (which sources' token distributions sit
    * far from the blend they feed). KL is computed over the global
    * top-`topK` vocabulary plus one explicit OOV bucket: principled
    * (bounded-coverage estimate with the tail mass accounted once) AND
    * numerically reproducible — ~topK float terms per group, so the
    * summation-order error stays orders of magnitude below the
    * micro-nat flooring both engines agree on.
    *
    * Shape at scale: ONE corpus-sized pass — the (group, token) count
    * is scratch-materialized (|groups| × |vocab| rows, Zipf-small next
    * to the corpus) so its several consumers (vocabulary, group
    * totals, the term join) re-read the aggregate instead of
    * re-running the corpus scan per branch; after that everything is
    * vocabulary-sized, with the K-row vocabulary broadcast.
    */
  def corpusDivergence(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", topK: Int = 50): DataFrame = {
    val toks = docs.select(col(groupCol).as("grp"),
      explode(tokens(col(textCol))).as("tok"))
    val (gt, _) = Scratch.materialize(
      toks.groupBy("grp", "tok").agg(count(lit(1)).as("c")), "cdiv_gt")
    val tot = gt.groupBy("tok").agg(sum("c").as("ct"))
    val vocab = tot.orderBy(desc("ct"), asc("tok")).limit(topK)
    val ng = gt.groupBy("grp").agg(sum("c").as("ng"))
    val bigN = tot.agg(sum("ct").as("N"))
    val vocabN = vocab.agg(sum("ct").as("vN"))
    val inV = gt.join(broadcast(vocab), Seq("tok"))
    // p·ln(p/q) with p = c/ng, q = ct/N; zero-count groups contribute 0.
    val terms = inV.join(ng, Seq("grp")).crossJoin(broadcast(bigN))
      .select(col("grp"), col("ng"),
        (col("c") / col("ng") *
          log(col("c") * col("N") / (col("ng") * col("ct")))).as("term"),
        col("c"))
    val inKl = terms.groupBy("grp", "ng")
      .agg(sum("term").as("kl_v"), sum("c").as("cv"))
    // The OOV bucket: group mass outside the vocabulary vs pooled OOV.
    inKl.crossJoin(broadcast(bigN)).crossJoin(broadcast(vocabN))
      .select(col("grp"), col("ng").cast("long").as("n_tokens"),
        floor((col("kl_v") +
          when(col("ng") > col("cv"),
            (col("ng") - col("cv")) / col("ng") *
              log((col("ng") - col("cv")) * col("N") /
                (col("ng") * (col("N") - col("vN")))))
            .otherwise(lit(0.0))) * 1e6).cast("long").as("kl_micro"))
  }

  /** The eight Gopher stop words (Rae et al. 2021, table A1 — the
    * "contains ≥2 of" rule's list).
    */
  private val gopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models", appendix A1.1 — public paper), as per-document
    * boolean flags plus the combined keep verdict. Every flag derives
    * from exact integer counts with multiplied-out thresholds (no float
    * ratios), so both engines agree bit-for-bit; everything is
    * row-local codegen'd expressions — the whole filter is one
    * narrow-dependency pass, no shuffle, linear at any corpus size.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10] chars; symbol-to-word ratio (`#` or `...`) ≤ 1/10; ≤ 90%
    * of lines may start with a bullet; ≤ 30% of lines end with an
    * ellipsis; ≥ 80% of words contain an alphabetic character; ≥ 2 of
    * the eight Gopher stop words present.
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val ws = tokens(col(textCol))
    val lines = split(col(textCol), "\n")
    val stopArr = array(gopherStop.map(lit): _*)
    def occ(sub: String) =
      ((length(col(textCol)) -
        length(SparkCols.regexpReplaceAll(col(textCol), java.util.regex.Pattern.quote(sub), ""))) /
        sub.length).cast("long")
    docs.select(
      col(idCol).as("doc_id"),
      size(ws).cast("long").as("n_words"),
      aggregate(transform(ws, w => length(w)), lit(0L), (a, x) => a + x)
        .as("n_word_chars"),
      size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha_words"),
      size(filter(ws, w => array_contains(stopArr, w))).cast("long").as("n_stop"),
      (occ("#") + occ("...")).as("n_sym"),
      size(lines).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long").as("n_bullet"),
      size(filter(lines, l => l.endsWith("..."))).cast("long").as("n_ellipsis"))
    .select(col("doc_id"), col("n_words"), col("n_stop"),
      col("n_words").between(minWords, maxWords).as("f_word_count"),
      (col("n_word_chars") >= col("n_words") * 3 &&
        col("n_word_chars") <= col("n_words") * 10).as("f_mean_len"),
      (col("n_sym") * 10 <= col("n_words")).as("f_symbol"),
      (col("n_bullet") * 10 <= col("n_lines") * 9).as("f_bullet"),
      (col("n_ellipsis") * 10 <= col("n_lines") * 3).as("f_ellipsis"),
      (col("n_alpha_words") * 5 >= col("n_words") * 4).as("f_alpha"),
      (col("n_stop") >= 2).as("f_stop"))
    .withColumn("keep",
      col("f_word_count") && col("f_mean_len") && col("f_symbol") &&
        col("f_bullet") && col("f_ellipsis") && col("f_alpha") && col("f_stop"))
  }

  /** Marker-stopword language heuristic. The synthetic corpus draws every
    * language from one shared English-ish vocabulary, so this exercises the
    * operator shape (the honest signal on real corpora comes from per-lang
    * marker lists); predictions here are 'en'/'unknown'.
    */
  def langId(textCol: Column): Column = {
    val ws = tokens(textCol)
    when(array_contains(ws, "the") || array_contains(ws, "a"), "en")
      .otherwise("unknown")
  }

  /** Context-window chunking: split each document's token stream into
    * windows of `window` tokens starting every `stride` tokens — the
    * standard preparation step packing documents into model context
    * windows (overlap = window - stride). Entirely row-local (explode of a
    * per-row sequence): no shuffle, parallelism = corpus partitioning.
    * Only full windows are emitted, except that a document shorter than
    * `window` yields one (short) chunk — the usual drop-the-tail
    * convention, deterministic on both engines.
    *
    * Output: (doc_id, chunk_idx, start, n_tok, head_tok, tail_tok).
    */
  def chunkWindows(docs: DataFrame, window: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window > 0 && stride > 0)
    val ws = tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"), ws.as("ws"), size(ws).as("n"))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(1), greatest(col("n") - window, lit(0)) + 1,
          lit(stride))).as("start"))
      .select(col("doc_id"),
        floor((col("start") - 1) / lit(stride.toDouble)).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start"),
        least(lit(window), col("n") - col("start") + 1).cast("long").as("n_tok"),
        element_at(col("ws"), col("start")).as("head_tok"),
        element_at(col("ws"),
          least(col("start") + window - 1, col("n"))).as("tail_tok"))
  }

  /** Document fingerprint: lexicographic min of md5(3-word shingle) — a
    * stable 1-in-n minhash usable as a cheap near-dup prefilter key — plus
    * the distinct-shingle count.
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    val sh = transform(
      gramStarts(ws, 3),
      i => md5(concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))
    docs.select(col(idCol).as("doc_id"),
      array_min(sh).as("fingerprint"),
      size(array_distinct(sh)).cast("long").as("n_shingles"))
  }

  /** Sequence packing: assign documents to contiguous training shards of
    * ~`budgetTokens` tokens each. Documents are taken in `doc_id` order;
    * a document lands in the shard its EXCLUSIVE running token total falls
    * in (`floor(cumsum_before / budget)`), so shards are contiguous id
    * ranges that may overshoot the budget by at most one document — the
    * standard greedy convention, deterministic on any engine.
    *
    * Scale shape — the two-pass distributed prefix sum, NOT a global
    * window (`Window.orderBy` with no partition key moves every row into
    * ONE partition — the single-task anti-pattern): range-partition +
    * sort by doc_id, reduce each partition to its token total (the only
    * driver traffic: one long per partition), exclusive-prefix those
    * totals into per-partition offsets, then assign shards in a row-local
    * second pass seeded by the offset. This is the rare genuinely
    * imperative per-partition computation, so it runs on the RDD layer
    * with an explicit deterministic `RangePartitioner` (AQE cannot
    * re-coalesce partitions between the two passes there).
    *
    * Output: (shard_id, n_docs, first_doc, last_doc, shard_tokens).
    */
  def packShards(docs: DataFrame, budgetTokens: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    val kv = docs.select(col(idCol).cast("long"), size(tokens(col(textCol))).cast("long"))
      .as[(Long, Long)].rdd
    val numParts = math.max(1,
      math.min(kv.getNumPartitions, spark.sessionState.conf.numShufflePartitions))
    val sorted = kv.repartitionAndSortWithinPartitions(
      new org.apache.spark.RangePartitioner(numParts, kv, ascending = true))
    val partTotals = sorted
      .mapPartitions(it => Iterator.single(it.foldLeft(0L)(_ + _._2)), true)
      .collect()
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val assigned = sorted.mapPartitionsWithIndex { (pid, it) =>
      var running = offsets(pid)
      it.map { case (id, n) =>
        val before = running
        running += n
        (id, n, before / budgetTokens)
      }
    }
    assigned.toDF("doc_id", "n_tok", "shard_id")
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"),
        sum("n_tok").as("shard_tokens"))
  }

  /** Skip-gram training-pair extraction — the word2vec data-prep pass
    * (Mikolov et al. 2013): frequency-based subsampling of common words
    * (keep an occurrence with probability min(1, √(t·N/f)) — the
    * classic `sample` heuristic), then (center, context) pairs over the
    * COMPACTED kept sequence within ±`window` positions, aggregated to
    * pair counts (the input a negative-sampling trainer consumes).
    *
    * Subsampling is DETERMINISTIC and engine-neutral: each occurrence's
    * uniform draw is the first 8 hex chars of md5(doc_id "_" pos)
    * compared LEXICALLY against the word's keep-threshold rendered as
    * an 8-char hex string (⌊√(t·N/f)·2³²⌋, saturated at 2³²−1 — a
    * keep-everything word loses only the h = "ffffffff" draw, ~2⁻³²
    * per occurrence, identically on every engine). The hex-string
    * compare is the [[hashSplit]] trick; it needs no hex→int parsing
    * on either engine.
    *
    * Scale shape: the vocabulary (Zipf-small) aggregates once and its
    * threshold table joins back occurrence-side with the strategy left
    * to AQE (broadcast when it fits, shuffle when web-scale); the
    * compaction row_number windows BY DOCUMENT (history-sized
    * partitions, hash-distributed); pair generation is `window`
    * co-partitioned equi-joins on (doc, cpos+k) — no quadratic per-doc
    * blowup; the pair table folds map-side. The top-K cut is the
    * standard TakeOrdered path.
    *
    * Output: (center, context, cnt) — top `topK` by (cnt desc, center,
    * context).
    */
  def skipgramPairs(docs: DataFrame, window: Int = 2, t: Double = 1e-3,
      topK: Int = 100, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && topK >= 1)
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos0", "word")))
      .filter(col("word") =!= "")
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("f"))
    val tot = vocab.agg(sum("f").cast("long").as("n_total"))
    val thr = vocab.crossJoin(broadcast(tot))
      .select(col("word"), lower(lpad(hex(
        least(floor(sqrt(lit(t) * col("n_total") / col("f")) * 4294967296.0),
          lit(4294967295.0)).cast("long")), 8, "0")).as("thr"))
    val kept = toks.join(thr, Seq("word"))
      .filter(substring(md5(concat_ws("_", col("doc_id"), col("pos"))), 1, 8) < col("thr"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val seq = kept.select(col("doc_id"), col("word"),
      row_number().over(w).as("cpos"))
    val pairs = (1 to window).map { k =>
      seq.as("a").join(seq.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("b.cpos") === col("a.cpos") + k)
        .select(col("a.word").as("center"), col("b.word").as("context"))
    }.reduce(_ unionByName _)
    pairs.groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("center"), col("context"))
      .limit(topK)
  }

  /** Corpus-frequency document scoring — the exact-integer core of unigram
    * LM quality signals. Builds the global token frequency table (one
    * explode + aggregate with map-side partials), joins it back to every
    * token occurrence, and reduces per document:
    *
    *   - `freq_sum`  = sum of each token's global occurrence count
    *     (mean = freq_sum / n_tokens: boilerplate scores high, rare-token
    *     documents low — the integer-exact stand-in for mean log-prob,
    *     which no two engines' `ln` agree on bit-for-bit);
    *   - `n_rare`    = tokens with global count < `rareBelow` (OOV-ish);
    *   - `min_freq`  = the document's rarest token's count.
    *
    * Scale shape: the frequency table is Zipf-small relative to the corpus
    * (vocabulary, not tokens); its size is left to AQE's runtime estimate —
    * small vocabularies broadcast into the occurrence join, and a
    * vocabulary too big for an executor (plausible for web-scale n-gram
    * tables) correctly falls back to a shuffled join instead of OOMing,
    * which a forced broadcast hint would remove.
    */
  def unigramFreqScore(docs: DataFrame, rareBelow: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    toks.join(vocab, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("freq").as("freq_sum"),
        sum(when(col("freq") < rareBelow, 1L).otherwise(0L)).as("n_rare"),
        min("freq").as("min_freq"))
  }

  /** Dedup-normalization (the C4-style canonical form): lowercase, strip
    * punctuation, collapse whitespace runs, trim. Two documents differing
    * only in case/punctuation/spacing hash identically after this —
    * compose with [[Dedup.exact]]/[[Dedup.deduplicate]] for
    * normalization-insensitive dedup. Pure codegen'd builtins, row-local.
    */
  def normalizeForDedup(textCol: Column): Column =
    trim(SparkCols.regexpReplaceAll(
      SparkCols.regexpReplaceAll(lower(textCol), "[^a-z0-9 ]", " "),
      " +", " "))

  /** PII redaction patterns — written in the common RE2 ∩ java.util.regex
    * dialect (no backrefs, no lookaround) so the Spark engine and a
    * DuckDB/RE2 oracle replace the exact same spans.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>")

  /** PII scrubbing: replace emails / phone numbers / IPv4 literals with
    * typed placeholder tokens and count what was redacted — the standard
    * pre-training privacy pass. Entirely row-local codegen'd
    * `regexp_replace`/`regexp_extract_all` chains: no shuffle, no UDF;
    * cost is one regex scan per pattern per document.
    *
    * Each count runs against the text AS IT STOOD when that pattern was
    * applied (replacement is a sequential fold): counting every pattern
    * in the ORIGINAL text would claim a `<PHONE>` redaction for digits
    * the email pass had already swallowed — counts must equal what the
    * clean text actually lost.
    *
    * Output: (doc_id, clean_text, n_email, n_phone, n_ip).
    */
  def redactPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (cleaned, counts) =
      piiPatterns.foldLeft((col(textCol), Vector.empty[Column])) {
        case ((c, acc), (pat, tag)) =>
          (SparkCols.regexpReplaceAll(c, pat, tag),
            acc :+ size(regexp_extract_all(c, lit(pat), lit(0))).cast("long"))
      }
    docs.select(col(idCol).as("doc_id"), cleaned.as("clean_text"),
      counts(0).as("n_email"), counts(1).as("n_phone"), counts(2).as("n_ip"))
  }

  /** Cross-corpus n-gram overlap — the benchmark-decontamination
    * primitive: for every (corpus doc, probe doc) pair sharing at least
    * one word n-gram, the count of distinct shared n-grams. Candidates
    * come through the inverted n-gram index keyed by the PROBE side
    * (benchmark sets are tiny next to a training corpus, so the join
    * shuffles |corpus n-grams ∩ probe n-grams| rows, never corpus²; with
    * a small probe set AQE broadcasts its index — the strategy is AQE's
    * from runtime sizes, NOT a forced hint, so decontaminating against a
    * probe set that is itself corpus-sized falls back to a shuffled join
    * instead of OOMing, the same policy as the token-frequency joins).
    * A corpus document with any overlap ≥ the caller's threshold gets
    * quarantined upstream.
    *
    * Output: (corpus_id, probe_id, shared_ngrams).
    */
  def crossCorpusOverlap(corpus: DataFrame, probes: DataFrame, n: Int = 5): DataFrame = {
    val ci = Dedup.shinglesJit(corpus, n).select(col("doc_id").as("corpus_id"), col("shingle"))
    val pi = Dedup.shinglesJit(probes, n).select(col("doc_id").as("probe_id"), col("shingle"))
    ci.join(pi, Seq("shingle"))
      .groupBy("corpus_id", "probe_id")
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus — the
    * data-selection dual of [[crossCorpusOverlap]]: instead of flagging
    * docs that overlap an eval set, score how much of each candidate
    * document is text the reference corpus has never seen. Selecting
    * high-novelty docs maximizes marginal information per training
    * token (anti-curriculum to dedup: dedup removes copies, novelty
    * RANKS the survivors).
    *
    * novelty_millis = ⌊1000 · |doc's distinct n-grams ∉ reference| /
    * |doc's distinct n-grams|⌋ — exact-integer, hash-stable. Docs with
    * fewer than n tokens have no n-grams and score 0.
    *
    * Scale shape: both sides reduce to distinct (key, shingle) sets;
    * the reference side collapses to DISTINCT shingles (one map-side-
    * combined shuffle, linear in reference tokens), the membership
    * probe is a LEFT JOIN co-partitioned on shingle (AQE picks
    * broadcast only when the reference is genuinely small), and the
    * per-doc verdict folds map-side on doc_id. No row ever pairs two
    * documents — cost is linear in corpus + reference tokens, never
    * quadratic.
    */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, n: Int = 5): DataFrame = {
    val ds = Dedup.shinglesJit(docs, n)
    val ref = Dedup.shinglesJit(reference, n).select("shingle").distinct()
      .withColumn("seen", lit(1))
    ds.join(ref, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("seen").isNull, 1)).as("n_novel"))
      .unionByName(
        // <n-token docs produce no shingles and vanish from the join —
        // re-seat them with an explicit zero score.
        docs.filter(size(tokens(col("text"))) < n)
          .select(col("doc_id").cast("long"), lit(0L).as("n_grams"),
            lit(0L).as("n_novel")))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        when(col("n_grams") > 0,
          floor(col("n_novel") * 1000.0 / col("n_grams")))
          .otherwise(0L).cast("long").as("novelty_millis"))
  }

  /** Within-document repetition metrics (the Gopher-style repetition
    * filters, adapted to the corpus' single-line documents):
    *
    *   - `dup_trigram_millis`: per-mille of word 3-grams that are repeats
    *     of an earlier 3-gram in the same document (row-local array ops);
    *   - `top_tok_count` / `top_tok_millis`: occurrences and per-mille
    *     share of the document's most frequent token (explode + per-doc
    *     reduce — two map-side-combined shuffles on (doc_id, token) and
    *     doc_id, both linear in corpus tokens).
    *
    * High values flag degenerate machine-generated or boilerplate text.
    */
  def repetitionMetrics(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    val sh = transform(
      gramStarts(ws, 3),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))
    val base = docs.select(col(idCol).as("doc_id"),
      size(ws).cast("long").as("n_tok"),
      size(sh).cast("long").as("n_tri"),
      size(array_distinct(sh)).cast("long").as("n_tri_uniq"))
    val top = docs.select(col(idCol).as("doc_id"), explode(ws).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_tok_count"))
    base.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n_tok"),
        when(col("n_tri") > 0,
          floor((col("n_tri") - col("n_tri_uniq")) * 1000.0 / col("n_tri")))
          .otherwise(0L).cast("long").as("dup_trigram_millis"),
        col("top_tok_count"),
        floor(col("top_tok_count") * 1000.0 / col("n_tok")).cast("long").as("top_tok_millis"))
  }

  /** Bigram analogue of [[unigramFreqScore]] — the transition-level LM
    * signal: documents whose adjacent-token pairs are globally rare are
    * novel (or noisy) even when every individual token is common. All
    * bigram OCCURRENCES count (unlike the dedup shingles, which are
    * per-document distinct). Same scale shape as [[unigramFreqScore]]:
    * join strategy left to AQE (a web-scale bigram table outgrows any
    * executor — a forced broadcast hint would OOM exactly where this
    * operator is documented to run), exact-integer per-doc reductions.
    *
    * Output: (doc_id, n_bigrams, freq_sum, n_rare, min_freq).
    */
  def bigramFreqScore(docs: DataFrame, rareBelow: Long = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = tokens(col(textCol))
    val bigrams = transform(
      gramStarts(ws, 2),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))
    val occ = docs.select(col(idCol).as("doc_id"), explode(bigrams).as("bg"))
    val freq = occ.groupBy("bg").agg(count(lit(1)).as("freq"))
    occ.join(freq, Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("freq").as("freq_sum"),
        sum(when(col("freq") < rareBelow, 1L).otherwise(0L)).as("n_rare"),
        min("freq").as("min_freq"))
  }

  /** Per-document top terms by tf/df — the tf-idf ranking with the
    * monotone idf transform dropped (ln(N/df) is not bit-stable across
    * engines; tf/df is a single integer division producing the same
    * double everywhere, and for a FIXED document the ranking by tf·idf
    * equals the ranking by tf/df whenever N is constant). The document-
    * frequency join strategy is AQE's call (Zipf-small vocabularies
    * broadcast; web-scale ones shuffle rather than OOM); the rank window
    * partitions by doc_id — millions of keys, no hot funnel.
    *
    * Output: (doc_id, rn, tok, tf, df).
    */
  def topTermsByTfIdf(docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("tok"))
    tf.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("doc_id", "rn", "tok", "tf", "df")
  }

  /** Line-level boilerplate dedup (the RefinedWeb/CCNet pass): a line
    * (textCol split on `sep`) occurring in at least `minDf` DISTINCT
    * documents is boilerplate (nav menus, footers, cookie banners) and is
    * removed from EVERY document; the survivors are reassembled in
    * original line order. Every document survives — one whose lines were
    * all boilerplate comes back with empty `clean_text` (dropping it is
    * the caller's quality-filter decision, not the dedup's).
    *
    * Scale shape: one row-local posexplode; line document frequencies via
    * two map-side-combined shuffles ((doc_id, line) distinct, then per-line
    * counts); the boilerplate set joins back by line with the strategy left
    * to AQE (a typical boilerplate set is tiny and broadcasts, a web-scale
    * one correctly shuffles instead of OOMing); reassembly is one groupBy
    * doc_id. Linear in corpus lines end to end — no quadratic stage.
    *
    * Output: (doc_id, clean_text, n_kept, n_removed).
    */
  def dedupLines(docs: DataFrame, minDf: Long, sep: String = "\n",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf would remove every line")
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val boiler = lines.select("doc_id", "line").distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("line"), lit(true).as("is_boiler"))
    lines.join(boiler, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        // collect_list skips nulls, so only kept lines enter the array.
        array_join(transform(
          array_sort(collect_list(when(col("is_boiler").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), sep).as("clean_text"),
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L)).as("n_removed"))
  }

  /** Token positions covered by a cross-document duplicated n-gram — the
    * primitive under [[spanDupStats]] and [[scrubDupSpans]] (the span-level
    * dedup of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", recast relationally: their suffix-array scan becomes
    * an n-gram inverted index, which is the shuffle-friendly form).
    *
    * A position p of doc d is duplicated iff some n-gram starting in
    * [p-n+1, p] of d also occurs in >= `minDf` DISTINCT documents. Shape:
    * one distinct + one map-combined count per gram (the inverted index),
    * a semi-join back (never corpus x corpus), and a bounded x n position
    * explode on the duplicated grams only.
    *
    * `fingerprint` = true keys the index by the 128-bit md5 of each gram
    * (16 raw bytes, codegen'd) instead of the gram string — the 100 TB
    * form, shuffling ~16 bytes per gram instead of the text itself; the
    * grouping/join structure is identical. 64 bits would already see
    * birthday collisions at trillion-gram scale; 128 does not.
    *
    * Output: (doc_id LONG, p LONG) distinct, p 1-based.
    */
  private def dupPositions(corpus: DataFrame, n: Int, minDf: Long,
      idCol: String, textCol: String, fingerprint: Boolean): DataFrame = {
    val gramKey =
      if (fingerprint) unhex(md5(array_join(slice(col("ws"), col("s"), lit(n)), " ")))
      else array_join(slice(col("ws"), col("s"), lit(n)), " ")
    val grams = corpus
      .select(col(idCol).cast("long").as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), explode(gramStarts(col("ws"), n)).as("s"), col("ws"))
      .select(col("doc_id"), col("s"), gramKey.as("gram"))
    val hot = grams.select("doc_id", "gram").distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("gram")
    grams.join(hot, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(n - 1))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("p"))
      .distinct()
  }

  /** Per-document duplicated-span metrics: for each doc with at least one
    * token covered by a cross-document duplicated `n`-gram, the token
    * count, the number of duplicated token positions, and the number of
    * MAXIMAL contiguous duplicated runs (spans). The span count is a lag
    * comparison inside a per-doc window — per-partition state is one doc's
    * positions, so the window never funnels the corpus through one task.
    *
    * Output: (doc_id, n_tokens, dup_tokens, n_spans), duplicated docs only.
    * `fingerprint` = true is the 100 TB form (see [[dupPositions]]).
    */
  def spanDupStats(corpus: DataFrame, n: Int = 10, minDf: Long = 2,
      idCol: String = "doc_id", textCol: String = "text",
      fingerprint: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = corpus.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val spans = dupPositions(corpus, n, minDf, idCol, textCol, fingerprint)
      .withColumn("new_span",
        when(col("p") - lag("p", 1).over(w) === 1, lit(0L)).otherwise(lit(1L)))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("dup_tokens"),
        sum("new_span").cast("long").as("n_spans"))
    base.join(spans, Seq("doc_id"))
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans")
  }

  /** Span-level scrub: rebuild each document's text with every token that
    * sits inside a cross-document duplicated `n`-gram REMOVED (the
    * train-set hygiene pass that drops boilerplate/licence blocks and
    * copy-pasted passages while keeping the unique remainder of the doc —
    * doc-level dedup would either keep the whole doc or lose it).
    *
    * Every input doc survives, possibly with empty `clean_text` (a doc that
    * is entirely quoted elsewhere scrubs to ""). The rebuild is a per-doc
    * collect_list over KEPT tokens — bounded by one document's size, the
    * same per-doc envelope every row-local text op here assumes.
    *
    * Output: (doc_id, n_tokens, dup_tokens, clean_text).
    * `fingerprint` = true is the 100 TB form (see [[dupPositions]]).
    */
  def scrubDupSpans(corpus: DataFrame, n: Int = 10, minDf: Long = 2,
      idCol: String = "doc_id", textCol: String = "text",
      fingerprint: Boolean = false): DataFrame = {
    val toks = corpus
      .select(col(idCol).cast("long").as("doc_id"), posexplode(tokens(col(textCol))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("tok"))
    val kept = toks
      .join(dupPositions(corpus, n, minDf, idCol, textCol, fingerprint),
        Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          e => e.getField("tok"))).as("clean_text"))
    corpus.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("dup_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Deterministic corpus mixing: downsample each source so the kept
    * corpus approaches the target `weights` mix WITHOUT upsampling — the
    * source with the scarcest supply relative to its weight keeps every
    * row (rate 1.0) and every other source keeps weight-proportionally
    * less. The keep decision is a pure function of the row id (md5 prefix
    * vs a per-source threshold), so the sample is reproducible across
    * engines, partitionings, and retries — no RNG state, the property the
    * q43-style deterministic sampler established.
    *
    * Per-source counts are a driver-side collect of |weights| longs (the
    * IVF-codebook envelope); the thresholds join back as a broadcast of
    * |weights| rows and the filter is row-local — one map-combined count
    * shuffle total, nothing else, at any corpus size. Sources absent from
    * `weights` are dropped.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      sourceCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty, "mixtureSample needs at least one source weight")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(sourceCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty,
      s"mixtureSample: no rows match any weighted source (${weights.keys.mkString(",")})")
    // Largest feasible scale: the binding source s* minimizes count/weight
    // and keeps all its rows; every rate is (weight * c) / count <= 1.
    // The float expression order below is mirrored verbatim by the DuckDB
    // oracle so both engines derive bit-identical thresholds.
    val c = weights.collect { case (s, wt) if counts.contains(s) => counts(s) / wt }.min
    val thresholds = weights.toSeq.collect { case (s, wt) if counts.contains(s) =>
      val t = math.min(math.floor(((wt * c) / counts(s)) * 4294967296.0).toLong,
        4294967295L)
      (s, f"$t%08x")
    }.toDF(sourceCol, "__thr")
    // A saturated threshold ("ffffffff", i.e. rate 1.0 clamped from 2^32)
    // means "keep every row" — without the explicit bypass the strict <
    // would drop rows whose md5 prefix is exactly ffffffff (~2^-32 each:
    // real rows at trillion-row scale, and a contract violation for the
    // binding source). The oracle mirrors the bypass.
    docs.join(broadcast(thresholds), Seq(sourceCol))
      .filter(col("__thr") === lit("ffffffff") ||
        substring(md5(col(idCol).cast("string")), 1, 8) < col("__thr"))
      .drop("__thr")
  }

  /** Windowed co-occurrence collocations — the phrase/stopword-discovery
    * signal (top word pairs by pointwise mutual information). Pairs are
    * generated ROW-LOCALLY from each document's token array (nested
    * transform + slice inside codegen — never a positions self-join,
    * whose hash-join-then-range-filter shape inflates to L² rows per
    * document and dies on long documents), normalized to unordered
    * (least, greatest) so both directions aggregate together. Counting is
    * two map-combined shuffles (pair counts, token counts); the token-
    * count join strategy is left to AQE like [[unigramFreqScore]]'s — a
    * Zipf-small vocabulary broadcasts at runtime (plan-asserted at test
    * scale in PipelineSpec), while a web-scale distinct-token table
    * (typos, URLs, hashes can reach 10⁸-10⁹ rows on 100 TB of web text)
    * correctly falls back to a shuffled join instead of OOMing the
    * driver, which the previous forced `broadcast(tc)` hint removed
    * (ProfileVocab (git 2262e7b) measures the fallback engaging on a synthetic
    * unique-token corpus). Corpus totals (token count, pair count) come
    * from ONE single-row aggregate — the pair total via the closed form
    * Σ_docs Σ_{j=1..L-1} min(window, j), which equals the number of rows
    * the pair explode emits. The score is the PMI RATIO
    * p(x,y)/(p(x)p(y)) = nab·N²/(na·nb·P) rather than its log —
    * rank-equivalent, and computed from exact integer counts through the
    * same IEEE expression in both engines, so the top-k is hash-stable
    * (ties broken by the pair itself).
    */
  def collocations(docs: DataFrame, window: Int = 2, minCount: Long = 5,
      topK: Int = 50, textCol: String = "text"): DataFrame = {
    require(window >= 1 && topK >= 1)
    val toks = docs.select(tokens(coalesce(col(textCol), lit(""))).as("ws"))
    val pairs = toks.select(explode(expr(
      s"""flatten(transform(ws, (x, i) -> transform(slice(ws, i + 2, $window),
          y -> struct(least(x, y) AS x, greatest(x, y) AS y))))""")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val pos = toks.select(explode(col("ws")).as("tok"))
    val pc = pairs.groupBy("x", "y").agg(count(lit(1)).as("nab"))
    val tc = pos.groupBy("tok").agg(count(lit(1)).as("n"))
    // Both corpus totals in one job: tokens = Σ L; pairs = Σ_{j<L} min(w, j)
    // per doc — the closed form of what the explode above emits
    // (Σ_{i=0..L-1} min(w, L-1-i)), so np is exactly pairs.count() without
    // a second pass.
    // (Spark's Column `/` is always DOUBLE division — keep the triangular
    // terms integral: L·(L−1) is even so the halved product is exact, and
    // the full-window triangle is a Scala-side constant.)
    val L = size(col("ws")).cast("long")
    val w = window.toLong
    val pairCount = when(L - 1 <= w, ((L - 1) * L / 2).cast("long"))
      .otherwise(lit(w * (w + 1) / 2) + (L - 1 - w) * w)
    val totals = toks.agg(
      coalesce(sum(L), lit(0L)).as("nt"),
      coalesce(sum(pairCount), lit(0L)).as("np")).head()
    val (nt, np) = (totals.getLong(0), totals.getLong(1))
    pc.join(tc.select(col("tok").as("x"), col("n").as("na")), Seq("x"))
      .join(tc.select(col("tok").as("y"), col("n").as("nb")), Seq("y"))
      .filter(col("nab") >= minCount)
      .select(col("x"), col("y"), col("nab").as("n_pair"),
        round(col("nab").cast("double") * lit(nt) * lit(nt) /
          (col("na").cast("double") * col("nb") * lit(np)), 6).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Deterministic train/validation/test splitting: each row's split is a
    * pure function of its id (md5 prefix vs cumulative weight thresholds),
    * so the assignment is reproducible across engines, partitionings,
    * retries, and CORPUS GROWTH — a document keeps its split when new
    * data arrives, the property that prevents silent train/test leakage
    * over pipeline reruns (a seeded randomSplit reshuffles everything when
    * the input changes). Thresholds quantize to 32-bit like
    * [[mixtureSample]]'s (floor(cumFraction · 2^32), same IEEE op order as
    * the oracle), the final split is the catch-all so no row is dropped,
    * and the whole thing is one row-local CASE — no shuffle, no join,
    * nothing collected.
    */
  def hashSplit(docs: DataFrame, splits: Seq[(String, Double)],
      idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty, "hashSplit needs at least one split")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    require(splits.map(_._1).distinct.size == splits.size,
      "split names must be unique")
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val h = substring(md5(col(idCol).cast("string")), 1, 8)
    // Interior boundaries only — the last split catches everything, so
    // threshold saturation at 2^32 can never drop a row.
    val bounds = splits.init.zip(cum.init).map { case ((name, _), c) =>
      (name, f"${math.min(math.floor(c * 4294967296.0).toLong, 4294967295L)}%08x")
    }
    val label = bounds.foldRight(lit(splits.last._1): Column) {
      case ((name, thr), rest) => when(h < lit(thr), name).otherwise(rest)
    }
    docs.withColumn("split", label)
  }

  /** Deterministic weighted (importance) sampling — the quality-aware
    * downsampling step of a training-data mixture: each document keeps
    * with probability `weight` (clamped to [0, 1]), decided by a pure
    * function of its id — u = first-8-hex-chars of md5(id) as an
    * integer, kept when u < weight × 2³², so reruns and corpus growth
    * never re-roll survivors (same leak-free construction as
    * [[hashSplit]]). Row-local and zero-shuffle; the weight column can
    * be any deterministic quality proxy. The long→double promotion and
    * the weight product round identically across engines (both operands
    * exact below 2⁵³), so the kept set is hash-comparable against an
    * oracle computing the same expression.
    */
  def sampleByWeight(docs: DataFrame, weight: Column,
      idCol: String = "doc_id"): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double")
    docs.filter(
      u < least(lit(1.0), greatest(lit(0.0), weight)) * lit(4294967296.0))
  }

  /** The DuckDB-side mirror of [[hashSplit]]'s CASE for declared-query
    * oracles: identical thresholds from the identical float expression.
    */
  def hashSplitOracleCase(splits: Seq[(String, Double)], idExpr: String): String = {
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val bounds = splits.init.zip(cum.init).map { case ((name, _), c) =>
      (name, f"${math.min(math.floor(c * 4294967296.0).toLong, 4294967295L)}%08x")
    }
    bounds.map { case (name, thr) =>
      s"WHEN substr(md5(CAST($idExpr AS VARCHAR)), 1, 8) < '$thr' THEN '$name'"
    }.mkString("CASE ", " ", s" ELSE '${splits.last._1}' END")
  }

  /** Okapi BM25 ranked retrieval (Robertson & Walker 1994, public) for a
    * fixed query over the corpus — the lexical-retrieval baseline every
    * RAG/data-curation stack measures embedding search against. Fixed
    * k1 = 1.2, b = 0.75 — DELIBERATELY rationals (6/5, 3/4): the tf
    * normalization then multiplies through to the exact integer ratio
    *   tfnorm = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)
    * (T = corpus token count, dl = doc length, N = docs), so the only
    * float is the idf ln — and each (doc, term) contribution is floored
    * to integer MICRO units BEFORE the per-doc sum, making the score a
    * deterministic integer sum (a float sum's addend order would differ
    * across partitionings; ln itself matches across engines' libms, the
    * corpus-divergence precedent). Negative idf for >half-corpus terms
    * participates as-is, the standard Robertson behavior.
    *
    * Scale shape: query terms are a tiny broadcast list; df/dl/T are one
    * corpus pass each (map-side combined); scoring touches only docs
    * containing a query term (the inverted-index semi-join); top-k folds
    * into TakeOrdered. Output: (rank, doc_id, score_micro) top `k` by
    * (score desc, doc_id asc).
    */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val stats = docs.select(col(idCol).cast("long").as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("dl"))
    val nRow = stats.agg(count(lit(1)), sum("dl")).head()
    val n = nRow.getLong(0)
    val t = nRow.getLong(1)
    val q = queryTerms.toDF("tok")
    val qtoks = toks.join(broadcast(q), Seq("tok"))
    val df = qtoks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val tf = qtoks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val perTerm = tf.join(broadcast(df), Seq("tok"))
      .join(stats, Seq("doc_id"))
      .select(col("doc_id"),
        floor(lit(1e6) *
          log((lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(22.0 * t) * col("tf")) /
          (lit(10.0 * t) * col("tf") + lit(3.0 * t) +
            lit(9.0 * n) * col("dl"))).cast("long").as("micro"))
    // top-k FIRST (orderBy+limit folds to distributed TakeOrdered — a
    // global window here would funnel every scored doc through one
    // partition), then rank over the k survivors only.
    val scored = perTerm.groupBy("doc_id").agg(sum("micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "doc_id", "score_micro")
  }

  /** Per-group vocabulary coverage: what fraction of each group's token
    * occurrences falls OUTSIDE the global top-`topK` vocabulary — the
    * tokenizer/vocab OOV-rate diagnostic run before committing to a vocab
    * size (and the per-source drill-down of the corpus-divergence OOV
    * bucket). Exact integer counts only.
    *
    * Scale shape: one corpus aggregation to the Zipf-small token counts,
    * the K-row vocabulary broadcast back onto the token stream, per-group
    * counts map-side combined — two linear passes, nothing corpus².
    */
  def vocabCoverage(docs: DataFrame, groupCol: String = "source",
      topK: Int = 100, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(groupCol).as("grp"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(topK).select("tok", "c")
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("grp")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("grp"), col("n_tokens"), col("n_oov"),
        floor(col("n_oov") * 1000.0 / col("n_tokens")).cast("long").as("oov_permille"))
  }

  /** Per-group retention cap — "keep at most `maxN` documents per group,
    * best first" — the anti-domination policy every large crawl corpus
    * applies before mixing (a handful of boilerplate-heavy domains
    * otherwise contribute an outsized share of tokens). Ranking is
    * (`qualityCol` DESC, id ASC), so the retained set and its ranks are
    * deterministic under any partitioning.
    *
    * Scale shape — two-phase exact top-N, NOT a corpus-wide window (a
    * window partitioned by domain drags a hot domain's every row through
    * one task — exactly the skew this operator exists to police): phase 1
    * keeps at most `maxN` candidates per group per PARTITION with bounded
    * in-memory heaps (row-local, no shuffle, state ≤ groups × N per
    * task); phase 2 ranks only the surviving ≤ N × partitions rows per
    * group. Output is identical to the naive global rank.
    */
  def capPerGroup(docs: DataFrame, groupCol: String, maxN: Int,
      qualityCol: String, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(groupCol).cast("string").as("grp"),
        (-col(qualityCol).cast("long")).as("negq"),
        col(idCol).cast("long").as("doc_id"))
      .as[(String, Long, Long)]
    val ord = Ordering.Tuple2[Long, Long]
    val candidates = keyed.mapPartitions { it =>
      // max-heap per group on (negQuality, id): evict the LARGEST once
      // over N, leaving each partition's N best-quality rows.
      val heaps = collection.mutable.HashMap
        .empty[String, collection.mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (g, nq, id) =>
        val h = heaps.getOrElseUpdate(g,
          collection.mutable.PriorityQueue.empty[(Long, Long)](ord))
        if (h.size < maxN) h.enqueue((nq, id))
        else if (ord.lt((nq, id), h.head)) { h.dequeue(); h.enqueue((nq, id)) }
      }
      heaps.iterator.flatMap { case (g, h) => h.iterator.map(e => (g, e._1, e._2)) }
    }.toDF("grp", "negq", "doc_id")
    val w = Window.partitionBy("grp").orderBy(col("negq"), col("doc_id"))
    candidates.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= maxN)
      .select("doc_id", "grp", "rn")
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public paper): each
    * document scored by its average per-token log-likelihood ratio
    * between a TARGET distribution (the domain to upsample, given as a
    * per-document predicate) and the RAW corpus distribution, under
    * add-one-smoothed unigram models over the global top-`topK`
    * vocabulary plus one OOV bucket. The top-`topN` documents return as
    * `(doc_id, n_tokens, llr_micro)` — the selection step whose weights
    * then feed [[sampleByWeight]] for the actual resample.
    *
    * Determinism: vocabulary counts are exact integers (double partial
    * sums of integers stay exact below 2⁵³, so R/T/rv/tv are
    * order-independent); the only order-sensitive float sum is the
    * per-document term sum (≤ tokens-per-doc small terms), floored at
    * micro-nats — the same engine-parity budget [[corpusDivergence]]
    * ships under.
    *
    * Scale shape: ONE corpus pass builds the (token → raw/target count)
    * table (scratch-materialized — Zipf-small next to the corpus, and
    * read by four consumers); the K-row smoothed log-ratio table
    * broadcasts; scoring is a second linear pass joined against that
    * broadcast with a map-side per-doc combine. Nothing is corpus² and
    * nothing unbounded is collected.
    */
  def importanceWeights(docs: DataFrame, isTarget: Column, topK: Int = 50,
      topN: Int = 20, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), isTarget.as("is_t"),
      explode(tokens(col(textCol))).as("tok"))
    val (cnt, _) = Scratch.materialize(
      toks.groupBy("tok").agg(
        count(lit(1)).cast("double").as("rc"),
        sum(when(col("is_t"), 1L).otherwise(0L)).cast("double").as("tc")),
      "iw_cnt")
    val vocab = cnt.orderBy(desc("rc"), asc("tok")).limit(topK)
    val tot = cnt.agg(sum("rc").as("R"), sum("tc").as("T"))
    val vs = vocab.agg(sum("rc").as("rv"), sum("tc").as("tv"))
    val smooth = lit((topK + 1).toDouble)
    val terms = toks.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vs))
      .select(col("doc_id"),
        (when(col("rc").isNotNull, log((col("tc") + 1) / (col("rc") + 1)))
          .otherwise(log((col("T") - col("tv") + 1) / (col("R") - col("rv") + 1)))
          + log((col("R") + smooth) / (col("T") + smooth))).as("lr"))
    terms.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lr").as("s"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("s") / col("n_tokens") * lit(1e6)).cast("long").as("llr_micro"))
      .orderBy(desc("llr_micro"), asc("doc_id"))
      .limit(topN)
  }

  /** Deterministic stratified sample: `perStratum` documents per stratum,
    * chosen by md5 of the id — a reproducible, engine-independent draw
    * (md5 of the decimal id string agrees everywhere; ties broken by id).
    *
    * Scale shape — two-phase exact top-k, NOT a corpus-wide window (a
    * window partitioned by a handful of strata drags each stratum's every
    * row through one task): phase 1 keeps at most `perStratum` candidates
    * per stratum per PARTITION with bounded in-memory heaps (row-local,
    * no shuffle, state ≤ strata × k per task); phase 2 ranks only the
    * surviving ≤ k × partitions rows per stratum — the window there
    * touches a vanishing fraction of the corpus. Output is identical to
    * the naive global rank.
    */
  def stratifiedSample(docs: DataFrame, stratumCol: String, perStratum: Int,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col(stratumCol).cast("string").as("stratum"),
        md5(col(idCol).cast("string")).as("k"), col(idCol).cast("long").as("doc_id"))
      .as[(String, String, Long)]
    val candidates = keyed.mapPartitions { it =>
      // max-heap per stratum on (md5, id): evict the LARGEST once over k,
      // leaving each partition's k smallest draws.
      val heaps = collection.mutable.HashMap
        .empty[String, collection.mutable.PriorityQueue[(String, Long)]]
      it.foreach { case (s, k, id) =>
        val h = heaps.getOrElseUpdate(s,
          collection.mutable.PriorityQueue.empty[(String, Long)](
            Ordering.Tuple2[String, Long]))
        if (h.size < perStratum) h.enqueue((k, id))
        else if (Ordering.Tuple2[String, Long].lt((k, id), h.head)) {
          h.dequeue(); h.enqueue((k, id))
        }
      }
      heaps.iterator.flatMap { case (s, h) => h.iterator.map(e => (s, e._1, e._2)) }
    }.toDF("stratum", "k", "doc_id")
    val w = Window.partitionBy("stratum").orderBy(col("k"), col("doc_id"))
    candidates
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perStratum)
      .select("doc_id", "stratum", "rn")
  }

  /** Temperature-based source sampling — the multilingual-mixing recipe
    * (α-scaled source distribution, mT5 §3.1 / XLM-R style, fixed here
    * at α = 1/2): source s with c_s documents gets quota
    * ⌊N · √c_s / Σ_t √c_t⌋, flattening the head so low-resource sources
    * are upsampled relative to their raw share. √ (not a free-α pow) is
    * deliberate: IEEE sqrt is correctly rounded on every engine, and
    * the weights are then floored to integer MILLIS so quota arithmetic
    * is EXACT integer math — `pow(c, α)` differs in the last ulp across
    * libm implementations and would make quotas engine-dependent. The
    * milli scale keeps totalN·maxW inside BIGINT headroom out to
    * trillion-doc corpora (√10¹² · 10³ = 10⁹; 10⁹ draws × 10⁹ < 2⁶³);
    * the ≤0.1% relative weight quantization is far below sampling noise.
    *
    * Draws within a source are the stratified-sample draw: md5 of the
    * id ranks documents, the quota-prefix wins — reproducible,
    * engine-independent, stable under corpus growth of OTHER sources.
    *
    * Scale shape: the source histogram is one map-side-combined
    * aggregate (cardinality = #sources, tiny); quotas derive from it
    * with integer arithmetic and broadcast back; candidate selection
    * reuses the two-phase bounded-heap prefix (state ≤ sources × maxQ
    * per task) so the per-source window ranks only survivors — the
    * corpus is never globally sorted. maxQ is a one-number driver
    * aggregate (bounded), the codebook-collect pattern.
    *
    * Output: (doc_id, source, rn, quota), rn ≤ quota.
    */
  def temperatureSample(docs: DataFrame, sourceCol: String, totalN: Long,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col(sourceCol).cast("string").as("stratum"))
      .agg(count(lit(1)).as("c"))
      .withColumn("w", floor(sqrt(col("c")) * 1e3).cast("long"))
    val totalW = counts.agg(sum("w").as("tw"))
    // `div`, not `/`: Spark's `/` on BIGINT is DOUBLE division, and
    // totalN·w overflows the 53-bit mantissa at corpus scale — integer
    // division keeps quotas exact (and matches DuckDB's `//`).
    val quotas = counts.crossJoin(broadcast(totalW))
      .select(col("stratum"),
        expr(s"(${totalN}L * w) div tw").cast("long").as("quota"))
    val maxQ = quotas.agg(max("quota")).head().getLong(0).toInt
    val ranked = stratifiedSample(
      docs.withColumn("__stratum", col(sourceCol).cast("string")),
      "__stratum", maxQ, idCol)
    ranked.join(broadcast(quotas), Seq("stratum"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("stratum").as("source"), col("rn"), col("quota"))
  }

  /** Token-budget data selection: per group (language/source), take
    * documents in descending-quality order until the group's token
    * budget is filled — the "best docs under a token cap" draw a
    * fixed-size training mix wants (quality here = per-mille unique-
    * token ratio, the exact-integer proxy; ties break by id). The
    * greedy convention matches [[packShards]]: a document is kept iff
    * the tokens BEFORE it are under budget, so the crossing document is
    * included and a group overshoots by at most one document.
    *
    * Scale shape: the per-group ordered cumsum runs on SURVIVORS of a
    * bounded per-partition heap pre-prune (≤ budget+1 docs per group
    * per partition — every kept doc costs ≥1 token, so no group can
    * select more; the [[stratifiedSample]] two-phase shape), never on
    * the corpus: the Window.partitionBy(group) sort touches
    * groups × (budget+1) × partitions rows, a vanishing fraction.
    * Output identical to the naive full-corpus window.
    *
    * Output: (group, rn, doc_id, n_tok, quality), rn = quality rank
    * within group.
    */
  def tokenBudgetSelect(docs: DataFrame, groupCol: String, budgetTokens: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0)
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val ws = tokens(col(textCol))
    val scored = docs.select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("long").as("doc_id"),
        size(ws).cast("long").as("n_tok"),
        floor(size(array_distinct(ws)) * 1000.0 / size(ws)).cast("long").as("quality"))
      .filter(col("n_tok") > 0)
    // Heap cap: no group can select more than budget+1 docs (each costs
    // ≥1 token). A budget so large the cap would blow task memory falls
    // back to the exact full window — correctness over the pre-prune.
    val cap = (budgetTokens + 1).min(1000000L).toInt
    val pruned = if (budgetTokens + 1 > 1000000L) scored
    else scored.as[(String, Long, Long, Long)].mapPartitions { it =>
      // min-heap on (quality, -id): evict the WORST kept (lowest quality,
      // then largest id) once over cap, leaving each partition's best.
      val ord = Ordering.Tuple2[Long, Long]
      val heaps = collection.mutable.HashMap
        .empty[String, collection.mutable.PriorityQueue[(Long, Long, Long)]]
      it.foreach { case (g, id, n, q) =>
        val h = heaps.getOrElseUpdate(g,
          collection.mutable.PriorityQueue.empty[(Long, Long, Long)](
            Ordering.by[(Long, Long, Long), (Long, Long)](e => (-e._1, e._2))(ord)))
        if (h.size < cap) h.enqueue((q, id, n))
        else if (q > h.head._1 || (q == h.head._1 && id < h.head._2)) {
          h.dequeue(); h.enqueue((q, id, n))
        }
      }
      heaps.iterator.flatMap { case (g, h) =>
        h.iterator.map(e => (g, e._2, e._3, e._1))
      }
    }.toDF("grp", "doc_id", "n_tok", "quality")
    val w = Window.partitionBy("grp").orderBy(desc("quality"), col("doc_id"))
    pruned
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum_before",
        (sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - col("n_tok")).cast("long"))
      .filter(col("cum_before") < budgetTokens)
      .select(col("grp").as("group"), col("rn"), col("doc_id"),
        col("n_tok"), col("quality"))
  }

  /** LM-perplexity quality filtering (the CCNet recipe, Wenzek et al.
    * 2020): score every document by its average negative log-likelihood
    * under an interpolated bigram/unigram language model trained on the
    * corpus itself, and surface the `topN` WORST-scoring documents — the
    * ones a perplexity filter would drop first. Vocabulary is the global
    * top-`topK` tokens; everything else folds into a single OOV bucket
    * (spelled `" "`, which whitespace-split tokens can never produce), so
    * both count tables are bounded by the vocab, not the corpus:
    * unigrams ≤ topK+1 rows, bigrams ≤ (topK+1)² rows. Probabilities are
    * add-one smoothed over V = topK+1 and interpolated
    * λ·P(cur|prev) + μ·P(cur) (μ passed explicitly, not computed as
    * 1−λ — the IEEE value of `1.0 - 0.7` is not the literal `0.3` the
    * oracle spells, and the flooring would expose the difference); the per-doc score is
    * floor(mean(−ln p)·1e6) as an integer, the same fixed-point flooring
    * the other float-scoring operators use.
    *
    * Scale shape: one tokenize pass feeds the (bounded) unigram count
    * aggregate; the vocab and both count tables broadcast; bigram
    * bucketing + scoring is a second linear pass over the corpus joined
    * only against broadcasts (no corpus-side shuffle except the final
    * per-doc combine, which is map-side partial). Documents with fewer
    * than two tokens have no bigrams and are naturally absent — the
    * filter has nothing to say about them.
    */
  def perplexityScores(docs: DataFrame, topK: Int = 50, topN: Int = 20,
      lambda: Double = 0.7, mu: Double = 0.3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val v = (topK + 1).toDouble
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
    val (cnt, _) = Scratch.materialize(
      base.select(explode(col("ws")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("double").as("c")),
      "ppl_cnt")
    val vocab = cnt.orderBy(desc("c"), asc("tok")).limit(topK)
    val tot = cnt.agg(sum("c").as("n"))
    val vs = vocab.agg(sum("c").as("vc"))
    // Bounded unigram table: the vocab rows plus the single OOV bucket.
    val ucnt = vocab.unionByName(
      tot.crossJoin(vs).select(lit(" ").as("tok"), (col("n") - col("vc")).as("c")))
    // (prev, cur) bigrams, each side folded to its vocab bucket.
    val pairs = base.select(col("doc_id"),
        explode(gramStarts(col("ws"), 2)).as("i"), col("ws"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("prev"),
        element_at(col("ws"), col("i") + lit(1)).as("cur"))
    val vb = broadcast(vocab.select(col("tok")))
    val bp = pairs
      .join(vb.withColumnRenamed("tok", "prev").withColumn("pv", lit(1)), Seq("prev"), "left")
      .join(vb.withColumnRenamed("tok", "cur").withColumn("cv", lit(1)), Seq("cur"), "left")
      .select(col("doc_id"),
        when(col("pv").isNotNull, col("prev")).otherwise(lit(" ")).as("pb"),
        when(col("cv").isNotNull, col("cur")).otherwise(lit(" ")).as("cb"))
    val (bcnt, _) = Scratch.materialize(
      bp.groupBy("pb", "cb").agg(count(lit(1)).cast("double").as("bc")), "ppl_big")
    val terms = bp
      .join(broadcast(bcnt), Seq("pb", "cb"))
      .join(broadcast(ucnt.withColumnRenamed("tok", "pb").withColumnRenamed("c", "pc")), Seq("pb"))
      .join(broadcast(ucnt.withColumnRenamed("tok", "cb").withColumnRenamed("c", "cc")), Seq("cb"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (-log(lit(lambda) * (col("bc") + 1) / (col("pc") + lit(v))
          + lit(mu) * (col("cc") + 1) / (col("n") + lit(v)))).as("t"))
    terms.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("t").as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("s") / col("n_bigrams") * lit(1e6)).cast("long").as("nll_micro"))
      .orderBy(desc("nll_micro"), asc("doc_id"))
      .limit(topN)
  }

  /** Wordlist-based filtering (the NSFW/badword-list pass every crawl
    * pipeline runs): per-document count of blocklisted token OCCURRENCES
    * and the block verdict `n_hits·100 > n_tokens·tauPct`. Returns the
    * input columns plus `n_tokens`, `n_hits`, `blocked` — a composable
    * stage, not a report.
    *
    * Scale shape: the blocklist is a broadcast table (production lists
    * run 10⁴-10⁵ entries — a row-local literal-array membership scan
    * would pay O(|list|) per token, and a literal IN-list that size blows
    * up codegen; the broadcast hash join pays O(1) per token). Tokens
    * that hit are a vanishing fraction of the corpus, so the per-doc hit
    * count aggregates a small exploded subset (map-side combined) and
    * joins back on `doc_id`; the verdict is an exact integer comparison,
    * engine-independent. Docs with zero hits never leave the scan — the
    * inner join drops them and the left join restores `n_hits = 0`.
    */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String],
      tauPct: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(blocklist.nonEmpty, "blocklistFilter: empty blocklist")
    val bl = broadcast(blocklist.toDF("tok"))
    val hits = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .join(bl, Seq("tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("h"))
    docs.withColumn("n_tokens", size(tokens(col(textCol))).cast("long"))
      .join(hits.withColumnRenamed("doc_id", "__bl_id"),
        col(idCol) === col("__bl_id"), "left")
      .drop("__bl_id")
      .withColumn("n_hits", coalesce(col("h"), lit(0L)))
      .drop("h")
      .withColumn("blocked", col("n_hits") * 100 > col("n_tokens") * tauPct)
  }
}
