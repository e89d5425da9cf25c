package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large document corpora.
  *
  * All variants follow the same 100 TB-safe shape: no all-pairs product is
  * ever formed. Candidate generation goes through an inverted index or an
  * LSH bucket join (shuffle keys: shingle / band-hash / simhash-chunk), and
  * only candidate pairs are verified exactly. Costs scale with corpus size
  * x bucket width, not corpus².
  */
object Dedup {

  /** Disk-backed checkpoint via [[Scratch]]: runs the producing plan once,
    * owns no cache-manager entry, and the dir is reclaimed — eagerly where
    * an operator can prove it superseded, at JVM exit otherwise (shutdown
    * hook on the session scratch root). The bytes written are bounded by
    * what a cache would have held anyway (signatures / reduced indexes /
    * near-dup pairs, all small relative to the corpus).
    */
  private def materialize(df: DataFrame, prefix: String): DataFrame =
    Scratch.materialize(df, prefix)._1

  /** Null text is an EMPTY document — the crawl convention every operator
    * here follows: a missing payload hashes/shingles/fingerprints as "",
    * so two null-text rows are exact duplicates of each other (and of
    * empty-text rows), and no executor ever NPEs on a dirty corpus.
    */
  @inline private[operators] def nn(t: String): String = if (t == null) "" else t

  /** Exact duplicates by content hash. Returns (dup_id, kept_id): every
    * row whose text hash already has a lower id. One shuffle on the hash.
    * Null text = empty text (see [[nn]]).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col(idCol).as("doc_id"),
      md5(coalesce(col(textCol), lit(""))).as("h"))
    val groups = hashed.groupBy("h")
      .agg(min("doc_id").as("kept_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    hashed.join(groups, "h")
      .filter(col("doc_id") =!= col("kept_id"))
      .select(col("doc_id").as("dup_id"), col("kept_id"))
  }

  /** Distinct word n-gram shingles per document as an array column
    * (doc_id, shingles) — computed entirely row-local, no shuffle.
    */
  def shingleArray(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val ws = split(col(textCol), " ")
    val sh = transform(
      TextAnalysis.gramStarts(ws, n),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k)): _*))
    docs.select(col(idCol).as("doc_id"), array_distinct(sh).as("shingles"))
  }

  /** Distinct word n-gram shingles per document: (doc_id, shingle). */
  def shingles(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleArray(docs, n, idCol, textCol)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Cross-source n-gram overlap matrix — the dataset-contamination
    * diagnostic: for every source pair, the count of DISTINCT word
    * n-grams both contain plus the Jaccard of the two shingle sets
    * (per-mille, from exact integer counts). Scale shape: one
    * map-side-combined (source, shingle) distinct (the only
    * corpus-sized shuffle, scratch-materialized for its three
    * consumers), then a self-equi-join on the shingle whose per-key
    * fan-out is bounded by the SOURCE count (the distinct caps
    * multiplicity — no corpus² blowup), and source-count joins small
    * enough for AQE to broadcast. Pairs sharing nothing are absent.
    */
  def crossSourceOverlap(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col(groupCol).cast("string"), col(textCol))
      .as[(String, String)]
      .flatMap { case (s, t) => wordShingles(nn(t), n).map((s, _)) }
      .toDF("src", "shingle").distinct()
    val shM = materialize(sh, "xsrc_sh")
    val sizes = shM.groupBy("src").agg(count(lit(1)).as("n_sh"))
    val inter = shM
      .join(shM.select(col("src").as("src_b"), col("shingle")), Seq("shingle"))
      .filter(col("src") < col("src_b"))
      .groupBy(col("src").as("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("src").as("src_a"), col("n_sh").as("na")), Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n_sh").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        col("n_shared").cast("long").as("n_shared"),
        floor(lit(1000.0) * col("n_shared") /
          (col("na") + col("nb") - col("n_shared")))
          .cast("long").as("jaccard_millis"))
  }

  /** Per-document duplication ratio — the corpus-health diagnostic the
    * big crawl pipelines report before dedup: for each document, how
    * many of its DISTINCT word n-grams also appear in at least one
    * OTHER document (n_dup of n_sh, plus the per-mille ratio from
    * exact integer counts). Documents shorter than n words have no
    * shingles and are absent. Scale shape: shingling is the JIT'd
    * row-local pass ([[shinglesJit]] — the Column-HOF form measured 6×
    * slower end-to-end in ProfileDupOps (git 2262e7b)), its distinct (doc, shingle)
    * pairs are scratch-materialized for their two consumers; the
    * shared-shingle set is a map-side-combined count over it; the
    * doc-level ratio is one equi-join back on the shingle plus a
    * doc_id aggregation — never corpus².
    */
  def shingleDupRatio(docs: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = materialize(shinglesJit(docs, n, idCol, textCol), "dupratio_sh")
    // Distinct pairs per doc → a shingle's row count IS its doc count.
    val shared = sh.groupBy("shingle").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("shingle"), lit(1).as("dup"))
    sh.join(shared, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("dup"), lit(0))).as("n_dup"))
      .select(col("doc_id"),
        col("n_sh").cast("long").as("n_sh"),
        col("n_dup").cast("long").as("n_dup"),
        floor(lit(1000.0) * col("n_dup") / col("n_sh"))
          .cast("long").as("dup_millis"))
  }

  /** [[shingles]] through the JIT'd imperative tokenizer ([[wordShingles]],
    * identical split semantics) instead of Column HOFs — Spark evaluates
    * `transform`/`element_at` lambdas interpreted, ~10× slower per token;
    * prefer this form on any corpus-sized input.
    */
  def shinglesJit(docs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => wordShingles(nn(t), n).map((id, _)) }
      .toDF("doc_id", "shingle")
  }

  /** Distinct character n-gram shingles per document (JIT'd typed path —
    * semantics identical to `substr(text, i, n)` over 1..len-n+1).
    */
  def charShingles(docs: DataFrame, n: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t0) =>
        val t = nn(t0)
        val seen = new java.util.HashSet[String]()
        (0 to t.length - n).iterator
          .map(i => t.substring(i, i + n))
          .filter(seen.add)
          .map((id, _))
      }
      .toDF("doc_id", "shingle")
  }

  /** Exact Jaccard over a shingle set for CANDIDATE pairs only, through the
    * inverted shingle index (never a cartesian product). `candidates` has
    * columns (a, b); returns (a, b, jaccard).
    *
    * `packed` picks the verify shape by the CALLER's candidate regime —
    * both return identical ROW SETS with identical jaccard values (same
    * integer counts through the same double expression; the packed form
    * filters zero-intersection candidates to match the exploded form's
    * inner intersection join, which never sees a pair sharing no shingle):
    *   - `true` (default — the sparse-LSH regime, pairs ≪ docs × degree):
    *     each candidate doc's distinct shingles pack into one array row
    *     and intersections run row-locally via `array_intersect`, so the
    *     joins carry |pairs| rows and no wide (a, b)-keyed aggregate
    *     follows. At the 100×-synthetic probe the exploded form spent
    *     97% of the operator's wall (426 of 492 s) in that 50M-row
    *     aggregate; packing cut the end-to-end operator 2.6-3.5×
    *     (SCALE.md round 9).
    *   - `false` (dense all-pairs-ish candidates over a small doc set,
    *     e.g. uncapped char-gram pairs on ~100 docs): the packed form
    *     duplicates each doc's array once PER PAIR, so the classic
    *     exploded intersection join + count aggregate is cheaper
    *     (measured: dedup_ngram_jaccard 2.28 → ~1.0 s at sf0.1).
    */
  def verifyJaccard(candidates: DataFrame, shingleDf: DataFrame,
      packed: Boolean = true, minJaccard: Option[Double] = None): DataFrame =
    verifyJaccardImpl(candidates, shingleDf, materialize(_, "shidx"), packed,
      minJaccard)

  /** [[verifyJaccard]] without the scratch materializations — for callers
    * whose candidate plan is already materialized (checkpointed) and whose
    * input is small enough that re-executing the cheap derived plans per
    * consumer beats a scratch write+read round trip per intermediate: the
    * streaming path's per-micro-batch regime, where the spills were two
    * extra serial jobs per batch. Row-identical to verifyJaccard.
    */
  private[graft] def verifyJaccardInline(candidates: DataFrame,
      shingleDf: DataFrame, packed: Boolean = true,
      minJaccard: Option[Double] = None): DataFrame =
    verifyJaccardImpl(candidates, shingleDf, identity, packed, minJaccard)

  /** The PPJoin LENGTH filter (Xiao et al. WWW'08 §3, companion to the
    * prefix filter in [[jaccardCandidates]]): J(a, b) >= t forces
    * min(|a|, |b|) >= t · max(|a|, |b|), so a candidate pair whose set
    * sizes are too lopsided cannot verify and need never reach the
    * intersection join. LOSSLESS for any caller that keeps only
    * `jaccard >= t` rows: the bound is evaluated as the SAME IEEE
    * expression shape verification computes — J_ub = least / (sza + szb
    * − least), i.e. jaccard at the maximum possible intersection
    * i = min(|a|, |b|) — and double division is monotone in the
    * numerator / antitone in the denominator, so jaccard <= J_ub holds
    * in floating point exactly, never just in real arithmetic (a
    * min >= t·max form could round the OTHER way at the boundary and
    * drop a pair whose jaccard lands exactly on t).
    */
  private def lengthFilter(t: Double, sza: Column, szb: Column): Column =
    (least(sza, szb).cast("double") /
      (sza.cast("long") + szb.cast("long") - least(sza, szb))) >= lit(t)

  private def verifyJaccardImpl(candidates: DataFrame, shingleDf: DataFrame,
      spill: DataFrame => DataFrame, packed: Boolean = true,
      minJaccard: Option[Double] = None): DataFrame = {
    // The candidate plan feeds THREE consumers below (the id set plus the
    // pair join(s)); left lazy, an expensive generation pass (the uncapped
    // inverted-index self-join + distinct behind dedup_threshold_curve:
    // ~4 s at sf0.1) re-executes per consumer — materialize it once.
    // (`spill` is identity only in plan audits, where cost is irrelevant.)
    val cand = spill(candidates)
    // Only candidate documents' shingles matter — semi-join the index down
    // first (AQE broadcasts the id set when small). `spill` materializes
    // the reduced index / packed sets so the corpus-wide shingle pass runs
    // once for every consumer (identity for plan audits).
    val ids = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    if (packed) {
      // The spill carries the set SIZE next to the set: the length
      // prefilter below then reads two slim integer columns off the
      // columnar spill instead of rehydrating arrays to count them.
      val docSets = spill(shingleDf.join(ids, Seq("doc_id"), "left_semi")
        .groupBy("doc_id").agg(collect_set(col("shingle")).as("shs"))
        .withColumn("sz", size(col("shs"))))
      // Length prefilter (lossless under the caller's >= t cut — see
      // [[lengthFilter]]): join the candidate pairs with the slim
      // (doc_id, sz) projections first, so lopsided pairs never ship
      // their shingle arrays through the verify joins at all.
      val candF = minJaccard match {
        case Some(t) if t > 0.0 => cand
          .join(docSets.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
          .join(docSets.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
          .filter(lengthFilter(t, col("sza"), col("szb")))
          .select("a", "b")
        case _ => cand
      }
      candF
        .join(docSets.select(col("doc_id").as("a"), col("shs").as("sh_a")), Seq("a"))
        .join(docSets.select(col("doc_id").as("b"), col("shs").as("sh_b")), Seq("b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .filter(col("inter") > 0)
        .select(col("a"), col("b"),
          (col("inter").cast("double") /
            (size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))).as("jaccard"))
    } else {
      // Exploded intersection join — every intermediate column uniquely
      // named (unqualified references across a self-joined shingle index
      // resolve nondeterministically in Spark's hybrid analyzer).
      val shc = spill(shingleDf.join(ids, Seq("doc_id"), "left_semi"))
      val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shA = shc.select(col("doc_id").as("a"), col("shingle").as("sh_a"))
      val shB = shc.select(col("doc_id").as("bb"), col("shingle").as("sh_b"))
      minJaccard match {
        case Some(t) if t > 0.0 =>
          // Length prefilter (lossless under the caller's >= t cut —
          // see [[lengthFilter]]) BEFORE the intersection join: the
          // size joins move from after the (a, b) aggregate to before
          // the explode-side joins, pruning pairs that cannot verify
          // from the operator's most expensive stage.
          val candF = cand
            .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
            .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
            .filter(lengthFilter(t, col("sza"), col("szb")))
          candF
            .join(shA, Seq("a"))
            .join(shB, col("b") === col("bb") && col("sh_a") === col("sh_b"))
            .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("inter"))
            .select(col("a"), col("b"),
              (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
        case _ =>
          val inter = cand
            .join(shA, Seq("a"))
            .join(shB, col("b") === col("bb") && col("sh_a") === col("sh_b"))
            .groupBy("a", "b").agg(count(lit(1)).as("inter"))
          inter
            .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
            .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
            .select(col("a"), col("b"),
              (col("inter").cast("double") / (col("sza") + col("szb") - col("inter"))).as("jaccard"))
      }
    }
  }

  /** Sentinel for [[jaccardPairs]]' `maxShingleDf`: derive the cap from
    * corpus stats. Pass `Long.MaxValue` for exact uncapped candidate
    * generation (what the declared oracle queries do).
    */
  val AutoShingleDf: Long = -1L

  /** The AUTO hot-shingle cap: a shingle in more than 0.1% of documents
    * (floor 64) is boilerplate for candidate purposes. Pure arithmetic on
    * the corpus size — deterministic, no extra distributed pass — and
    * deliberately loose: it exists to kill the df² candidate blow-up of
    * truly corpus-wide shingles, not to thin mid-frequency ones (the
    * looser the cap, the smaller the pairs-whose-every-shared-shingle-is-
    * hot miss window).
    */
  private[operators] def resolveShingleCap(maxShingleDf: Long, nDocs: => Long): Long =
    if (maxShingleDf == AutoShingleDf) math.max(64L, nDocs / 1000L)
    else maxShingleDf

  /** Candidate pairs through the inverted shingle index, with shingles
    * above the df cap dropped from candidate generation.
    *
    * `jaccardThreshold`, when set, additionally applies the EXACT prefix
    * filter of the set-similarity-join literature (PPJoin, Xiao et al.
    * WWW'08): under any global total order on shingles (lexicographic
    * here — no global state needed), a document only needs its first
    * |d| − ⌈t·|d|⌉ + 1 sorted shingles in the index; two sets with
    * Jaccard ≥ t MUST collide inside those prefixes (if both prefixes
    * were disjoint from the intersection, the intersection would fit in
    * the suffixes, forcing J < t). LOSSLESS for the threshold-filtered
    * output — unlike the df cap, which is a (documented) recall
    * heuristic. At t = 0.5 the index halves and the candidate join's
    * pair fan-out roughly quarters — the knob that matters most at web
    * scale, where candidate generation dominates the dedup bill.
    *
    * Filter ORDER is part of the contract (round 16): the df cap is
    * computed over the FULL inverted index and applied FIRST, then the
    * prefix filter runs over the reduced per-document sets. Two reasons:
    * (a) "in >0.1% of documents" is a statement about true document
    * frequency, not frequency-within-prefixes; (b) both stages are then
    * pure relational algebra a SQL oracle can replicate verbatim
    * (df-filter the shingle CTE, then sort+slice each doc's remaining
    * list) — which is exactly what the declared dedup_threshold_curve
    * oracle does. The reverse order (prefix first, df over prefixes)
    * would make the cap depend on the prefix layout and be unmirrorable.
    */
  private[operators] def jaccardCandidates(sh: DataFrame, cap: Long,
      jaccardThreshold: Option[Double] = None): DataFrame = {
    val cool =
      if (cap == Long.MaxValue) sh
      else {
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti")
      }
    val candIndex = jaccardThreshold match {
      case Some(t) if t > 0.0 =>
        cool.groupBy("doc_id").agg(sort_array(collect_set(col("shingle"))).as("shs"))
          .select(col("doc_id"), explode(slice(col("shs"), lit(1),
            (size(col("shs")) - ceil(size(col("shs")) * lit(t)) + 1)
              .cast("int"))).as("shingle"))
      case _ => cool
    }
    candIndex.select(col("doc_id").as("a"), col("shingle"))
      .join(candIndex.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** All pairs with exact shingle-Jaccard >= threshold among an (optionally
    * restricted) corpus, candidate-generated through the inverted index:
    * only documents sharing at least one shingle are ever compared.
    *
    * `maxShingleDf` drops shingles whose document frequency exceeds the
    * cap from CANDIDATE GENERATION only (verification still counts them,
    * so reported Jaccard values stay exact). A stop-shingle like a
    * boilerplate phrase otherwise contributes df² candidate pairs — at
    * web scale one templated sentence shared by a million pages is 10^12
    * pairs, so the cap DEFAULTS ON ([[AutoShingleDf]], 0.1% of the corpus
    * with a floor of 64, costing one count() job). Since round 16 the cap
    * is applied BEFORE the prefix filter (so the candidate order is
    * mirrorable as pure relational algebra — see [[jaccardCandidates]]),
    * which widens the miss window: a pair can be missed whenever its
    * Jaccard over the post-cap (cool) shingle sets falls below the
    * threshold, even if its full-set Jaccard clears it — still rare at
    * thresholds >= 0.5 with the loose default, since that needs a large
    * share of the overlap to sit on corpus-hot shingles. Pass
    * `Long.MaxValue` for exact uncapped generation
    * (the declared oracle queries do, keeping the correctness gate exact).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      charGrams: Boolean = false, maxShingleDf: Long = AutoShingleDf): DataFrame = {
    // The shingle index feeds the df-cap aggregate, both sides of the
    // candidate self-join, and verification — left lazy, the corpus-wide
    // shingle flatMap re-executes 3-4x (measured: the dominant cost of
    // the threshold-curve lane at sf0.1). One scratch materialization
    // runs the pass once; every consumer scans the columnar index.
    val sh = materialize(
      if (charGrams) charShingles(docs, n) else shinglesJit(docs, n), "shall")
    val cap = resolveShingleCap(maxShingleDf, docs.count())
    // Inverted-index candidates are all-pairs-DENSE by construction (any
    // shared shingle makes a pair), so the exploded verify wins here —
    // see verifyJaccard's shape note.
    verifyJaccard(jaccardCandidates(sh, cap, Some(threshold)), sh,
        packed = false, minJaccard = Some(threshold))
      .filter(col("jaccard") >= threshold)
  }

  /** All pairs whose shingle CONTAINMENT — |A∩B| / min(|A|, |B|) —
    * reaches `threshold`: the asymmetric near-dup measure Jaccard is
    * blind to. A 50-shingle quote copied whole into a 5000-shingle page
    * has Jaccard ≈ 1% but containment 1.0 — partial-copy detection
    * (syndicated bodies inside wrapper pages, quotation mining, doc-in-
    * doc splices) keys on containment. Candidate generation shares the
    * inverted-index + hot-shingle-cap machinery with [[jaccardPairs]]
    * (a contained copy shares ALL its shingles, so the prefix-filter
    * miss argument holds a fortiori); verification computes both
    * measures from ONE intersection pass. Output: (a, b, containment,
    * jaccard), a < b.
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      maxShingleDf: Long = AutoShingleDf): DataFrame = {
    // Same one-pass materialization as jaccardPairs: the index feeds the
    // cap aggregate, the candidate self-join and the verify semi-join.
    val sh = materialize(shinglesJit(docs, n), "shall")
    val cap = resolveShingleCap(maxShingleDf, docs.count())
    val candidates = jaccardCandidates(sh, cap)
    val ids = candidates.select(col("a").as("doc_id"))
      .union(candidates.select(col("b").as("doc_id"))).distinct()
    val shc = materialize(sh.join(ids, Seq("doc_id"), "left_semi"), "cnidx")
    val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shA = shc.select(col("doc_id").as("a"), col("shingle").as("sh_a"))
    val shB = shc.select(col("doc_id").as("bb"), col("shingle").as("sh_b"))
    val inter = candidates
      .join(shA, Seq("a"))
      .join(shB, col("b") === col("bb") && col("sh_a") === col("sh_b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / least(col("sza"), col("szb")))
          .as("containment"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter"))).as("jaccard"))
      .filter(col("containment") >= threshold)
  }

  /** splitmix64 finalizer — the per-permutation mixer for minhash. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — the per-shingle base hash. */
  @inline private def fnv64(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Distinct word n-gram shingles of one text, imperatively. Token
    * semantics match `split(text, " ")` / DuckDB `string_split` exactly
    * (split keeps empty tokens), so jaccard verification agrees with the
    * SQL-expression formulations.
    */
  private[operators] def wordShingles(text: String, n: Int): Iterator[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Iterator.empty
    else {
      val seen = new java.util.HashSet[String]()
      (0 to ws.length - n).iterator.map { i =>
        val sb = new java.lang.StringBuilder(ws(i))
        var k = 1
        while (k < n) { sb.append(' ').append(ws(i + k)); k += 1 }
        sb.toString
      }.filter(seen.add)
    }
  }

  /** Per-document LSH band hashes: (doc_id, band, bh), `bands` rows per
    * document, computed in ONE row-local JIT'd pass straight off the text.
    *
    * Implementation note: this is deliberately a typed flatMap loop, not
    * Column expressions — a k-wide `min(hash)` aggregate shuffles
    * |corpus tokens| rows, and higher-order array functions (`transform`/
    * `array_min`) always evaluate interpreted (never whole-stage codegen);
    * both benchmarked ~10x slower. One strong base hash per shingle +
    * k cheap splitmix derivations is the standard minhash trick; the loop
    * does corpus-tokens x k mixes with zero allocation per hash.
    */
  def minhashBands(docs: DataFrame, numHashes: Int, bands: Int, shingleN: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val hs = bandHashesOf(text, numHashes, bands, shingleN)
        // Shingle-less documents (< shingleN tokens) can never reach a
        // sub-1.0 Jaccard threshold (0/0 intersection), but their constant
        // empty signature would put EVERY such doc in the same `bands`
        // buckets — at web scale that alone is a quadratic candidate
        // blow-up among billions of short docs. Emit nothing for them.
        if (hs == null) Iterator.empty
        else hs.iterator.zipWithIndex.map { case (h, b) => (id, b, h) }
      }
      .toDF("doc_id", "band", "bh")
  }

  /** One document's per-band LSH hashes — the row-local core of
    * [[minhashBands]], shared with [[bandArrayUdf]] so the two can never
    * drift. Returns null for shingle-less documents (the emit-nothing
    * contract above).
    */
  @inline private def bandHashesOf(text: String, numHashes: Int, bands: Int,
      shingleN: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    wordShingles(nn(text), shingleN).foreach { s =>
      any = true
      val base = fnv64(s)
      var i = 0
      while (i < numHashes) {
        val v = mix64(base ^ (i.toLong * 0xA54FF53A5F1D36F1L))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    if (!any) null
    else {
      val rowsPerBand = numHashes / bands
      Array.tabulate(bands) { b =>
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < rowsPerBand) { h = mix64(h ^ sig(b * rowsPerBand + r)); r += 1 }
        h
      }
    }
  }

  /** A band-and-hash pair as a struct element for [[bandArrayUdf]]. */
  final case class BandHash(band: Int, bh: Long)

  /** [[minhashBands]] as an array-valued column: text → array of
    * (band, bh), exactly the rows minhashBands would emit for the
    * document (empty for shingle-less docs). Lets a caller compute the
    * LSH signature INSIDE an existing row pass — the streaming path folds
    * it into its single batch checkpoint instead of paying a second
    * serial flatMap job over the same text every micro-batch.
    */
  private[graft] def bandArrayUdf(numHashes: Int, bands: Int, shingleN: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((text: String) => {
      val hs = bandHashesOf(text, numHashes, bands, shingleN)
      if (hs == null) Seq.empty[BandHash]
      else hs.toIndexedSeq.zipWithIndex.map { case (h, b) => BandHash(b, h) }
    })

  /** Banding parameters tuned to a Jaccard threshold: split `numHashes`
    * into (bands, rowsPerBand) with the LARGEST rowsPerBand whose
    * detection probability at the threshold, 1−(1−t^r)^b, still exceeds
    * `minRecall`. Larger r = steeper S-curve = far fewer sub-threshold
    * candidate pairs to verify; the recall floor keeps the banding from
    * overshooting into missed true pairs. With 128 hashes: 32×4 for
    * t=0.8 (the operator default, P(detect)=0.974), 64×2 for t=0.5,
    * 16×8 for t=0.9.
    */
  def lshParamsFor(threshold: Double, numHashes: Int = 128,
      minRecall: Double = 0.97): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && numHashes > 0)
    val choices = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map { r =>
        val b = numHashes / r
        (b, r, 1 - math.pow(1 - math.pow(threshold, r), b))
      }
    val eligible = choices.filter(_._3 >= minRecall)
    // fall back to the highest-recall split if nothing clears the floor
    val (b, r, _) =
      if (eligible.nonEmpty) eligible.maxBy(_._2) else choices.maxBy(_._3)
    (b, r)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Banding: `bands` bands of `numHashes/bands` rows; the default
    * `bands = 0` DERIVES the split from the threshold via
    * [[lshParamsFor]] (0.8 → 32×4, P(detect at 0.8) = 0.974; 0.5 → 64×2
    * — a hardcoded 32×4 at threshold 0.5 would silently miss ~13% of
    * true pairs, since verification only removes false POSITIVES and
    * cannot recover a pair banding never surfaced). Explicit `bands`
    * overrides for callers/tests that own the trade-off.
    * Shuffles: shingles -> signatures (doc_id), band bucket join
    * (band idx+hash), verification joins (doc_id, shingle). Never O(n²).
    *
    * EAGER CONTRACT (when `materialized`, the default): calling this
    * executes the full LSH pipeline at DataFrame-construction time and
    * returns a scan over the (small) verified pair set on scratch parquet —
    * so downstream consumers, notably the multi-round label propagation in
    * [[deduplicate]], re-read pairs from disk instead of re-running the
    * pipeline, and no cache entry outlives the call. The two intermediate
    * spills (band signatures, reduced shingle index) are deleted as soon as
    * the pair set is on disk. Pass `materialized = false` to get the whole
    * pipeline as one LAZY plan instead (nothing executed, nothing written —
    * the form to compose inside larger lazy builders or to `.explain`).
    */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.8, numHashes: Int = 128,
      bands: Int = 0, shingleN: Int = 3, materialized: Boolean = true): DataFrame = {
    val b = effectiveBands(threshold, numHashes, bands)
    if (!materialized)
      minhashLshPlan(docs, threshold, numHashes, b, shingleN)
    else
      minhashLshMaterialized(docs, threshold, numHashes, b, shingleN)._1
  }

  /** `bands = 0` → threshold-derived banding ([[lshParamsFor]]); explicit
    * values pass through.
    */
  private def effectiveBands(threshold: Double, numHashes: Int, bands: Int): Int =
    if (bands == 0) lshParamsFor(threshold, numHashes)._1 else bands

  /** [[minhashLsh]]'s eager path, also returning the pair set's scratch dir
    * so callers that fully consume it ([[deduplicate]]'s propagation loop)
    * can reclaim it eagerly.
    */
  private def minhashLshMaterialized(docs: DataFrame, threshold: Double,
      numHashes: Int, bands: Int, shingleN: Int): (DataFrame, String) = {
    val spark = docs.sparkSession
    val spills = collection.mutable.ArrayBuffer.empty[String]
    def spill(prefix: String)(df: DataFrame): DataFrame = {
      val (out, dir) = Scratch.materialize(df, prefix)
      spills += dir
      out
    }
    val (pairs, pairsDir) = Scratch.materialize(
      minhashLshImpl(docs, threshold, numHashes, bands, shingleN,
        spill("bands"), spill("shidx")),
      "pairs")
    // The pair set is self-contained on disk — the intermediates feeding
    // it are superseded; reclaim them now rather than at JVM exit.
    spills.foreach(Scratch.delete(spark, _))
    (pairs, pairsDir)
  }

  /** The whole LSH pipeline as ONE lazy plan, nothing materialized — for
    * plan audits (QueryPlanSpec asserts it cartesian-free; PLANS.md dumps
    * it). Execution goes through [[minhashLsh]], whose scratch-parquet
    * spills deliberately break this plan into single-computation stages.
    */
  private[graft] def minhashLshPlan(docs: DataFrame, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 0, shingleN: Int = 3): DataFrame =
    minhashLshImpl(docs, threshold, numHashes,
      effectiveBands(threshold, numHashes, bands), shingleN, identity, identity)

  private def minhashLshImpl(docs: DataFrame, threshold: Double,
      numHashes: Int, bands: Int, shingleN: Int,
      spillBands: DataFrame => DataFrame,
      spillIndex: DataFrame => DataFrame): DataFrame = {
    require(bands * (numHashes / bands) == numHashes)
    // Band hashes come straight off the text in one JIT'd pass (no shuffle
    // before the bucket join). The exploded shingle index is only built for
    // verification — same imperative tokenizer, so the two agree — and is
    // scanned from both sides of the intersection join.
    val sh = shinglesJit(docs, shingleN)
    // Both sides of the bucket self-join consume the signature pass —
    // spill it (tiny: `bands` longs per document) so it runs once.
    val banded = spillBands(minhashBands(docs, numHashes, bands, shingleN))
    val cands = banded.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    verifyJaccardImpl(cands, sh, spillIndex, minJaccard = Some(threshold))
      .filter(col("jaccard") >= threshold)
  }

  /** The deduplicated corpus: documents minus every near-duplicate that is
    * not its cluster's minimum id.
    *
    * `threshold >= 1.0` means exact duplicates only, where connected
    * components are simply the content-hash groups — one shuffle via
    * [[exact]], no LSH, no iteration.
    *
    * Below 1.0, exact-duplicate groups are first collapsed to one
    * representative each (see the inline note — hot-group protection), so
    * exact duplicates always merge, even degenerate documents shorter than
    * the shingle width that the LSH itself cannot see.
    *
    * Below 1.0, clusters are the connected components of the near-dup pair
    * graph, found by iterative min-label propagation over the (sparse,
    * pre-materialized) edge list — each round is one join + aggregate. The
    * loop runs to CONVERGENCE (needed: a duplicate chain a-b-c-... of graph
    * diameter d takes ~d rounds; exiting early silently leaves real
    * duplicates in the output). `maxRounds` is a runaway-graph safety cap
    * that THROWS when tripped rather than returning a wrong answer; 64
    * covers any plausible near-dup chain in a web corpus. Each round's
    * label table is materialized to scratch parquet: that cuts the plan
    * lineage (the propagation join references the previous round twice, so
    * an un-truncated plan doubles every round), makes the convergence
    * check a cheap re-read, and leaves no cache-manager entry behind.
    */
  def deduplicate(docs: DataFrame, threshold: Double = 0.8,
      maxRounds: Int = 64): DataFrame = {
    val dupIds = componentLabels(docs, threshold, maxRounds)
      .filter(col("doc_id") =!= col("label")).select("doc_id")
    docs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Session-scoped memo of near-dup component labels, keyed by the
    * CANONICALIZED input plan + parameters: deduplicate / clusters /
    * canonical-election queries over the same corpus share one LSH +
    * propagation run (the labels live on session scratch parquet until
    * JVM exit, so the memoized frame is a cheap file scan). Mirrors the
    * solver's per-revision solve cache. Staleness caveat: the key is the
    * PLAN — if the underlying files are overwritten in place mid-session,
    * disable with `spark.graft.dedupCache=false` (same contract as
    * Spark's own dataset cache). Only the sub-1.0 path memoizes; the
    * exact-hash branch is one cheap shuffle with no scratch to reuse.
    * LRU-bounded at 16 entries (a session rarely juggles more than a few
    * corpora); eviction drops only the memo — the evicted entry's label
    * scratch stays on disk until the session shutdown hook, because a
    * caller may still hold the evicted DataFrame (see [[graft.LruMap]]).
    */
  private val labelCache = new graft.LruMap[
    (org.apache.spark.sql.SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Double, Int),
    DataFrame](16)

  /** The duplicate-cluster label (= the cluster's minimum doc_id) for
    * EVERY document — the connected components of the near-dup graph as a
    * first-class result, usable beyond dedup (cluster-size distributions,
    * canonical-document election, provenance grouping). [[deduplicate]] is
    * exactly `docs` minus the rows whose label differs from their id.
    * Same branching and scale shape as documented on [[deduplicate]];
    * repeat calls on the same corpus are served from [[labelCache]].
    */
  def componentLabels(docs: DataFrame, threshold: Double = 0.8,
      maxRounds: Int = 64): DataFrame = {
    val spark0 = docs.sparkSession
    if (threshold < 1.0 &&
        GraftConf.DedupCache(spark0)) {
      val key = (spark0, docs.queryExecution.analyzed.canonicalized, threshold, maxRounds)
      return labelCache.getOrElseUpdate(key,
        componentLabelsUncached(docs, threshold, maxRounds))
    }
    componentLabelsUncached(docs, threshold, maxRounds)
  }

  private def componentLabelsUncached(docs: DataFrame, threshold: Double,
      maxRounds: Int): DataFrame = {
    if (threshold >= 1.0) {
      val hashed = docs.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
      val reps = hashed.groupBy("h").agg(min("doc_id").as("label"))
      return hashed.join(reps, Seq("h")).select("doc_id", "label")
    }
    // Collapse exact-duplicate groups to one representative (the group's
    // min id) BEFORE the LSH: an exact group is trivially one cluster, and
    // at web scale a hot group (millions of copies of the same
    // boilerplate) would otherwise meet itself in every band bucket — a
    // quadratic pair blow-up the banding cannot bound. Reps then go
    // through LSH + propagation, and members inherit their rep's label.
    val hashed = materialize(
      docs.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h")), "xh")
    val reps = hashed.groupBy("h").agg(min("doc_id").as("rep_id"))
    val repDocs = docs.join(reps.select(col("rep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // minhashLsh returns pairs already materialized to scratch parquet, so
    // every propagation round re-reads a small file instead of re-running
    // the LSH pipeline, and no cache is held for it.
    // Threshold-derived banding (NOT a hardcoded 32x4, which holds its
    // 0.97 recall only at t~0.8 and drops to 0.87 at t=0.5).
    val (pairsDf, pairsDir) = minhashLshMaterialized(repDocs, threshold, 128,
      lshParamsFor(threshold)._1, 3)
    val labels = propagateMinLabels(pairsDf, maxRounds)
    // The returned plan reads only `hashed` + the final labels — the edge
    // list has been fully consumed by the loop; reclaim it now.
    Scratch.delete(docs.sparkSession, pairsDir)
    // Map every document through its representative's converged label
    // (reps with no near-dup edge keep themselves). The rep is its exact
    // group's min id and propagation minimizes over reps, so the final
    // label is the true min doc_id of the merged cluster.
    hashed.join(reps, Seq("h"))
      .join(labels.select(col("doc_id").as("rep_id"), col("label")),
        Seq("rep_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("rep_id")).as("label"))
  }

  /** Min-label propagation over a MATERIALIZED pair set: (doc_id, label =
    * min reachable id) for every node appearing in `pairsDf` (a, b).
    * The loop reads the pair file every round, so the input must already
    * be scratch/storage-backed, not a live plan.
    */
  private def propagateMinLabels(pairsDf: DataFrame, maxRounds: Int): DataFrame = {
    val spark = pairsDf.sparkSession
    val pairs = pairsDf.select("a", "b")
    // The label tables are bounded by the nodes of the pair graph (≤ 2 ×
    // pairs — near-dup graphs are SPARSE relative to the corpus), so the
    // per-round scratch writes are sized from the now-known pair count
    // instead of inheriting shuffle.partitions: locally that collapses
    // each round to a couple of tasks and files instead of 32 near-empty
    // ones (~25% of the operator's wall-clock), and at scale the same
    // formula keeps ~1M labels per partition up to a 10k-partition bound.
    val nPairs = pairsDf.count()
    val labelParts = math.max(1L, math.min(10000L, 4L * nPairs / 1000000L + 1L)).toInt
    // Undirected edges, both directions.
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    // label(x) = min doc_id reachable so far; start with the direct mins.
    var (labels, labelsDir) = Scratch.materialize(
      edges.groupBy(col("a").as("doc_id"))
        .agg(least(min(col("b")), first(col("a"))).as("label"))
        .coalesce(labelParts),
      "labels")
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxRounds)
        throw new IllegalStateException(
          s"Dedup: label propagation did not converge in " +
            s"$maxRounds rounds — duplicate-chain diameter exceeds the cap; " +
            s"raise maxRounds (results before convergence would be WRONG: " +
            s"unmerged duplicates survive the anti-join)")
      // Propagate: my new label = min(my label, labels of my neighbors) —
      // then SHORTCUT through the previous round's label table: also adopt
      // label(label). Propagation alone needs ~diameter rounds; with
      // per-round shortcutting (Shiloach-Vishkin style) the loop converges
      // in O(log diameter) — the difference between ~50 and ~6 shuffle
      // rounds on an adversarial dup chain. `labels` is materialized
      // parquet, so the three reads in this one plan re-scan a small file
      // rather than recompute anything, and each round costs exactly one
      // scratch write; the superseded round's dir is deleted as soon as the
      // new one is on disk, so live scratch stays at one label table. The
      // changed-label count rides the materializing write as an
      // Observation, so the convergence check launches NO extra job.
      val obs = org.apache.spark.sql.Observation()
      val (next, nextDir) = Scratch.materialize(
        edges
          .join(labels.select(col("doc_id").as("b"), col("label").as("nl")), Seq("b"))
          .groupBy(col("a").as("doc_id"))
          .agg(min(col("nl")).as("prop"))
          .join(labels, Seq("doc_id"))
          .select(col("doc_id"), least(col("prop"), col("label")).as("pl"),
            col("label").as("old"))
          .join(labels.select(col("doc_id").as("pl"), col("label").as("pll")),
            Seq("pl"), "left")
          .select(col("doc_id"),
            least(col("pl"), coalesce(col("pll"), col("pl"))).as("label"),
            col("old"))
          .coalesce(labelParts)
          .observe(obs, sum(when(col("label") =!= col("old"), 1L).otherwise(0L)).as("changed")),
        "labels")
      Scratch.delete(spark, labelsDir)
      converged = obs.get("changed") == null || obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select("doc_id", "label")
      labelsDir = nextDir
      round += 1
    }
    labels
  }

  /** Connected-component labels of an arbitrary undirected pair graph —
    * the propagation engine behind [[componentLabels]] as a PUBLIC
    * building block: (node, label = minimum reachable node id) for every
    * node appearing in `pairs` (columns a, b). Compose it over any
    * candidate-pair generator — [[minhashLsh]] pairs (what
    * [[componentLabels]] does), [[Similarity.cosineDuplicatesAuto]]
    * embedding pairs, [[simhashPairs]] — to get clusters, canonical
    * election, or provenance groups on that modality. Same guarantees as
    * the dedup loop: runs to convergence with Shiloach-Vishkin
    * shortcutting (O(log diameter) rounds), throws at `maxRounds` rather
    * than under-merging, one scratch label table live at a time. Isolated
    * nodes carry no pair and get no row — left-join and coalesce with the
    * corpus id for total labeling.
    */
  def componentsFromPairs(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    val spark = pairs.sparkSession
    // The loop re-reads the edge list every round: pin the (possibly
    // expensive) pair plan to scratch once; the final labels are
    // themselves scratch-backed, so the input spill is reclaimed eagerly.
    val (pairsDf, pairsDir) = Scratch.materialize(pairs.select("a", "b"), "cc_pairs")
    val labels = propagateMinLabels(pairsDf, maxRounds)
    Scratch.delete(spark, pairsDir)
    labels.select(col("doc_id").as("node"), col("label"))
  }

  /** Incremental exact dedup — the production shape for a corpus that
    * grows in batches (daily crawl increments): keep a new document iff
    * (a) its content hash is unseen in the KNOWN corpus (anti-join against
    * the known hash set — at 100 TB that set lives as a bucketed/sorted
    * table so the probe is a co-located join, and only the increment is
    * scanned in full) and (b) it is its hash's minimum id WITHIN the
    * increment (one groupBy on the increment only). The known corpus is
    * never re-deduplicated — cost scales with the increment, not the
    * archive.
    */
  def incrementalExact(newDocs: DataFrame, knownDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalExactImpl(newDocs, archiveHashes(knownDocs, textCol), idCol, textCol)

  /** [[incrementalExact]] against a PRE-COMPUTED distinct content-hash set
    * (column `h` = md5 of the text) — the archive text is never touched. */
  private def incrementalExactImpl(newDocs: DataFrame, knownHashes: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val newHashed = newDocs.select(col(idCol).as("doc_id"),
      md5(coalesce(col(textCol), lit(""))).as("h"))
    val unseen = newHashed.join(knownHashes.select("h"), Seq("h"), "left_anti")
    val keep = unseen.groupBy("h").agg(min("doc_id").as("doc_id"))
      .select(col("doc_id").as(idCol))
    newDocs.join(keep, Seq(idCol), "left_semi")
  }

  /** The archive's distinct content-hash set for incremental dedup — meant
    * to be computed ONCE and persisted (at 100 TB: a bucketed table keyed
    * on `h`), then handed to [[incrementalNear]] via [[ArchiveIndex]] so
    * repeated increments never rescan archive text for the exact screen. */
  def archiveHashes(knownDocs: DataFrame, textCol: String = "text"): DataFrame =
    knownDocs.select(md5(coalesce(col(textCol), lit(""))).as("h")).distinct()

  /** Precomputed archive-side artifacts for [[incrementalNear]]: the LSH
    * band table (doc_id, band, bh) and the distinct content-hash set, plus
    * the banding parameters they were built with (carried here so an
    * increment can never be banded incompatibly with its archive). Build
    * once with [[buildArchiveIndex]], persist both frames (bands bucketed
    * by (band, bh), hashes by h), and reconstruct from the stored tables on
    * every subsequent increment — the daily-crawl shape at 100 TB, where
    * re-deriving signatures from archive text would dominate the cost. */
  final case class ArchiveIndex(bands: DataFrame, hashes: DataFrame,
      numHashes: Int, numBands: Int, shingleN: Int)

  /** Derive an [[ArchiveIndex]] from archive text — one signature pass +
    * one hash pass, both lazy; persist the two frames and rebuild the index
    * from the stored tables for subsequent increments. Banding is the
    * CALLER's choice here (an index has no threshold; both probe sides
    * inherit it) — size it with [[lshParamsFor]] at the lowest threshold
    * the index will be probed at (default 32×4 holds 0.97 recall at 0.8).
    */
  def buildArchiveIndex(knownDocs: DataFrame, numHashes: Int = 128,
      bands: Int = 32, shingleN: Int = 3): ArchiveIndex =
    ArchiveIndex(minhashBands(knownDocs, numHashes, bands, shingleN),
      archiveHashes(knownDocs), numHashes, bands, shingleN)

  /** Incremental NEAR-dup dedup — [[incrementalExact]]'s semantics lifted
    * to Jaccard >= `threshold`: the production shape for keeping a crawl
    * increment clean against an already-deduplicated archive without ever
    * re-processing the archive pairwise. A new document survives iff
    *
    *   1. its content hash is unseen in the archive and minimal within the
    *      increment (the [[incrementalExact]] stage — also catches
    *      shingle-less documents the LSH cannot see);
    *   2. it has no near-dup (J >= threshold) in the ARCHIVE — candidates
    *      from the cross bucket join of the increment's band hashes
    *      against the archive's, verified exactly;
    *   3. it is the minimum id of its near-dup component WITHIN the
    *      increment (components over verified increment-internal pairs
    *      among step-2 survivors — same keep policy as [[deduplicate]]).
    *
    * Cost scales with the increment: in this convenience form the archive
    * contributes one signature pass + its side of the bucket join; with a
    * precomputed [[ArchiveIndex]] (the overload below — the repeated-
    * increment form) even that pass disappears and the archive's bands
    * arrive from a stored table (persist it bucketed by (band, bh) and the
    * probe is a co-located join). Verification only ever touches candidate
    * documents' shingles either way. Ids must be globally unique across
    * the two frames (the crawl convention) — a shared id would alias in
    * the verification index.
    */
  def incrementalNear(newDocs: DataFrame, knownDocs: DataFrame,
      threshold: Double = 0.8, numHashes: Int = 128, bands: Int = 0,
      shingleN: Int = 3): DataFrame =
    incrementalNearImpl(newDocs, knownDocs, None, threshold, numHashes,
      effectiveBands(threshold, numHashes, bands), shingleN)

  /** [[incrementalNear]] against a PRE-COMPUTED [[ArchiveIndex]]: archive
    * text is consulted ONLY to verify the candidate documents the bucket
    * join surfaces (a semi-join-reduced set that scales with the increment,
    * not the archive) — signatures and content hashes come from the stored
    * index. This is the repeated-increment production form; the 2-frame
    * convenience overload above re-derives the index per call and is right
    * only for one-shot use. */
  def incrementalNear(newDocs: DataFrame, knownDocs: DataFrame,
      index: ArchiveIndex, threshold: Double): DataFrame =
    incrementalNearImpl(newDocs, knownDocs, Some(index), threshold,
      index.numHashes, index.numBands, index.shingleN)

  private def incrementalNearImpl(newDocs: DataFrame, knownDocs: DataFrame,
      index: Option[ArchiveIndex], threshold: Double, numHashes: Int,
      bands: Int, shingleN: Int): DataFrame = {
    def exactScreen: DataFrame = index match {
      case Some(ix) => incrementalExactImpl(newDocs, ix.hashes, "doc_id", "text")
      case None     => incrementalExact(newDocs, knownDocs)
    }
    if (threshold >= 1.0) return exactScreen
    val spark = newDocs.sparkSession
    // Stage 1: exact-hash screen (archive collisions + within-batch),
    // pinned to scratch once — it feeds the signature pass, the
    // verification index, and the final anti-join.
    val kept0 = materialize(exactScreen, "inc_kept")
    // One signature pass for the increment, spilled — it feeds two bucket
    // joins. The archive side comes from the stored index when supplied
    // (no archive text pass, nothing of ours to reclaim); otherwise it is
    // derived here and spilled alongside.
    val (nb, nbDir) = Scratch.materialize(
      minhashBands(kept0, numHashes, bands, shingleN), "inc_nb")
    val (kb, kbDir) = index match {
      case Some(ix) => (ix.bands, None)
      case None =>
        val (df, dir) = Scratch.materialize(
          minhashBands(knownDocs, numHashes, bands, shingleN), "inc_kb")
        (df, Some(dir))
    }
    // Stage 2: increment × archive candidates, verified exactly. The
    // verification index only holds the increment's shingles plus the
    // candidate archive documents' (semi-join reduction inside
    // verifyJaccard) — never the whole archive.
    val crossCands = nb.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(kb.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .select("a", "b").distinct()
    val candKnownIds = crossCands.select(col("b").as("doc_id")).distinct()
    val sh = shinglesJit(kept0, shingleN)
      .union(shinglesJit(knownDocs.join(candKnownIds, Seq("doc_id"), "left_semi"), shingleN))
    // Materialized, not lazy: as a plan this feeds stage 3's two
    // anti-joins, the self-candidate verify, AND the final drops union —
    // the cross-bucket join + packed verify (the operator's most
    // expensive stage) would re-run once per consumer. The result is a
    // doc-id list that scales with the increment; spill it once.
    val (dupOfKnown, dokDir) = Scratch.materialize(
      verifyJaccard(crossCands, sh, minJaccard = Some(threshold))
        .filter(col("jaccard") >= threshold)
        .select(col("a").as("doc_id")).distinct(),
      "inc_dok")
    // Stage 3: increment-internal components among archive-clean docs.
    val selfCands = nb.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(nb.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .join(dupOfKnown.select(col("doc_id").as("a")), Seq("a"), "left_anti")
      .join(dupOfKnown.select(col("doc_id").as("b")), Seq("b"), "left_anti")
    val selfPairs = verifyJaccard(selfCands, sh, minJaccard = Some(threshold))
      .filter(col("jaccard") >= threshold)
    val dupInBatch = componentsFromPairs(selfPairs.select("a", "b"))
      .filter(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    // Pin the (small) drop set before reclaiming the signature spills.
    val drops = materialize(dupOfKnown.union(dupInBatch), "inc_drops")
    Scratch.delete(spark, dokDir)
    Scratch.delete(spark, nbDir)
    kbDir.foreach(Scratch.delete(spark, _))
    kept0.join(drops, Seq("doc_id"), "left_anti")
  }

  /** 64-bit SimHash per document over word tokens (weight 1 each):
    * bit j of the signature is the sign of sum_t (+-1 by bit j of the
    * token hash). The token hash is the FIRST 8 BYTES (big-endian) OF
    * md5(token) — the same engine-neutral derivation the exact-dedup and
    * fingerprint paths use — so any engine with an md5() builtin can
    * reproduce the signatures bit-for-bit (the DuckDB oracle does).
    * Computed in one row-local JIT'd pass with a per-partition digest —
    * the 64-wide conditional-sum aggregate shuffles every token and
    * benchmarked ~2x slower.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) =>
          val counts = new Array[Int](64)
          nn(t).split(" ", -1).foreach { tok =>
            md.reset()
            val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var k = 0
            while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
            var j = 0
            while (j < 64) {
              if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
              j += 1
            }
          }
          var sig = 0L
          var j = 0
          while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
          (id, sig)
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-duplicate candidates with Hamming distance <= maxDist.
    * Pigeonhole banding: signatures split into (maxDist+1) chunks; any pair
    * within distance maxDist agrees on >= 1 chunk, so the bucket join on
    * (chunk idx, chunk value) has full recall. Hamming verified via
    * bit_count(xor).
    *
    * Hot-group safety: IDENTICAL signatures (m copies of one boilerplate
    * page; empty/null docs, which all hash to one constant signature)
    * would meet in EVERY chunk bucket — m²×(maxDist+1) candidate join
    * rows plus a distinct over them, from a single hot group. Instead,
    * same-signature pairs are emitted by ONE equi-join on the signature
    * itself (output-bound — the m(m−1)/2 pairs ARE the contract), and
    * the chunk join runs over DISTINCT signatures only, then expands
    * back to documents through two output-bound member joins. Same pair
    * set, no join amplification beyond the rows the answer contains.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val nChunks = maxDist + 1
    val bitsPerChunk = 64 / nChunks
    // Every stage below re-reads the signatures — materialize the
    // one-pass JIT'd computation (8 bytes per document) to scratch
    // parquet so it runs once and owns no cache entry.
    val sig = materialize(simhash(docs), "simhash")
    val same = sig.select(col("doc_id").as("a"), col("simhash"))
      .join(sig.select(col("doc_id").as("b"), col("simhash")), Seq("simhash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0L).as("hamming"))
    val distinctSig = sig.select("simhash").distinct()
    val chunks = array((0 until nChunks).map { c =>
      shiftrightunsigned(col("simhash"), c * bitsPerChunk)
        .bitwiseAND((1L << bitsPerChunk) - 1)
    }: _*)
    val chunked = distinctSig.select(col("simhash"),
      posexplode(chunks).as(Seq("chunk", "cv")))
    val sigPairs = chunked.select(col("simhash").as("sa"), col("chunk"), col("cv"))
      .join(chunked.select(col("simhash").as("sb"), col("chunk"), col("cv")),
        Seq("chunk", "cv"))
      .filter(col("sa") < col("sb"))
      .select("sa", "sb").distinct()
      .select(col("sa"), col("sb"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
    val cross = sigPairs
      .join(sig.select(col("doc_id").as("da"), col("simhash").as("sa")), Seq("sa"))
      .join(sig.select(col("doc_id").as("db"), col("simhash").as("sb")), Seq("sb"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("hamming"))
    same.union(cross)
  }
}
