package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scores are computed in double precision, index-ordered, by the native
  * Catalyst expressions in graft.functions (codegen'd primitive loops —
  * the `zip_with`/`aggregate` fold below is the semantically identical
  * reference implementation, but higher-order functions always evaluate
  * interpreted). For determinism across engines/partitionings, ranking
  * happens on a quantized score (`round(cos, 3)`) with the neighbor id as
  * tie-break.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * scans the corpus once — the right plan when queries are few. The IVF
  * path is the 100 TB shape: vectors are bucketed by nearest centroid
  * (one shuffle), and a query only scans its `nProbe` buckets, cutting the
  * scan by ~nCentroids/nProbe; recall is traded via nProbe.
  */
object Similarity {

  /** Double-precision dot product of two float arrays (index-ordered fold,
    * so the summation order is fixed and engine-independent). Reference
    * implementation — interpreted HOFs; prefer `cosine`/`norm` below.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def normFold(a: Column): Column = sqrt(dotFold(a, a))

  def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (normFold(a) * normFold(b))

  import org.apache.spark.sql.graft.ColumnBridge

  /** Codegen'd cosine similarity (bit-identical to cosineFold — asserted
    * in PipelineSpec).
    */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd L2 norm. */
  def norm(a: Column): Column =
    ColumnBridge.column(graft.functions.VectorNorm(ColumnBridge.expression(a)))

  /** Exact top-k over scored rows (query_id, neighbor_id, sim), ranked by
    * (sim desc, neighbor_id asc) — TWO-PHASE: bounded per-partition heaps
    * (≤ queries × k entries per task, row-local) feed a final rank over
    * ≤ k × partitions survivors per query. A corpus-wide window keyed by
    * a handful of query ids would instead drag every scored row of a
    * query through ONE task — the hot-key funnel this avoids. Output is
    * identical to the naive global rank.
    */
  private def topKScored(scored: DataFrame, k: Int): DataFrame =
    // One implementation of the rank contract (heap ordering + window
    // tie-break): the grid reducer with a constant grid key, dropped on
    // output. Two hand-maintained copies could drift independently
    // (ADVICE round 20) — the grid operators' correctness depends on the
    // tie-breaks staying identical.
    topKScoredGrid(scored.withColumn("g", lit(0L)), k).drop("g")

  /** [[topKScored]] with an extra grid key `g` (round-20 optimization
    * pass): per (g, query_id) top-k through the same bounded
    * per-partition heaps + final window, so the recall-grid lanes rank
    * every grid point in ONE pass instead of one corpus scan per point.
    * Output identical to running topKScored per g-slice.
    */
  private def topKScoredGrid(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val candidates = scored.select(col("g").cast("long"),
        col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("sim").cast("double"))
      .as[(Long, Long, Long, Double)]
      .mapPartitions { it =>
        val ord = Ordering.Tuple2[Double, Long]
        val heaps = collection.mutable.HashMap
          .empty[(Long, Long), collection.mutable.PriorityQueue[(Double, Long)]]
        it.foreach { case (g, q, nb, sim) =>
          val h = heaps.getOrElseUpdate((g, q),
            collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
          val e = (-sim, nb)
          if (h.size < k) h.enqueue(e)
          else if (ord.lt(e, h.head)) { h.dequeue(); h.enqueue(e) }
        }
        heaps.iterator.flatMap { case ((g, q), h) =>
          h.iterator.map(e => (g, q, e._2, -e._1))
        }
      }
      .toDF("g", "query_id", "neighbor_id", "sim")
    val w = Window.partitionBy("g", "query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.select(col("g"), col("query_id"),
        row_number().over(w).cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
      .filter(col("rank") <= k)
  }

  /** Brute-force top-k cosine neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, sim) with sim = round(cos, 3).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** Graph-walk ANN (round 20, verdict-19 stretch #8): greedy BEAM
    * SEARCH over a materialized k-NN neighbor graph — the third ANN
    * family next to IVF and PQ, the distributed analogue of an
    * HNSW-layer-0 search. Per query: seed the beam with the `entries`
    * lowest vec_ids (deterministic entry points), then `rounds` times
    * expand every beam member through its graph out-edges, score the
    * new candidates against the query (quantized cosine, id
    * tie-breaks — replicable across engines), and keep the top-`beam`.
    * The answer is the final beam's top-k.
    *
    * Scale shape: `graph` joins the beam by its source id — a
    * co-partitioned equi-join; candidate embeddings come from ONE
    * corpus equi-join per round; entry points broadcast. Per-round
    * cost is O(|Q| · beam · outDegree) rows — never corpus², and the
    * beam bound makes each round's shuffle |Q|·beam-sized. Rounds are
    * FIXED (not converge-tested): each round is a full shuffle stage
    * at 100 TB, so the knob is explicit; each round's beam
    * materializes to scratch ([[graft.operators.Scratch]]) to keep the
    * plan depth constant like the engine's other fixpoints.
    * Output: (query_id, rank, neighbor_id, sim), sim = round(cos, 3).
    */
  def graphWalkTopK(corpus: DataFrame, graph: DataFrame, queries: DataFrame,
      k: Int, beam: Int = 8, rounds: Int = 2, entries: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // Every round joins the neighbor graph; left lazy, the graph's
    // PRODUCING plan (a brute-force or IVF kNN build — the expensive
    // part of graph ANN) re-executes once per round. Materialize it once
    // (round-20 optimization pass; production graph-ANN stores the graph
    // as a standing index anyway).
    val (edges, _) = Scratch.materialize(
      graph.select(col("query_id").as("src"), col("neighbor_id").as("dst")),
      "walk_graph")
    def scoreCands(cands: DataFrame): DataFrame =
      cands.join(corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("ne")), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qe"), col("ne")), 3).as("sim"))
    def cut(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("neighbor_id"))
      scored.select(col("query_id"), col("neighbor_id"), col("sim"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= n).drop("rn")
    }
    val entry = corpus.orderBy("vec_id").limit(entries)
      .select(col("vec_id").as("neighbor_id"))
    var (beamDf, _) = Scratch.materialize(
      cut(scoreCands(q.select(col("query_id")).crossJoin(broadcast(entry))),
        beam), "walk_beam")
    for (_ <- 1 to rounds) {
      val expanded = beamDf
        .join(edges, beamDf("neighbor_id") === edges("src"))
        .select(col("query_id"), col("dst").as("neighbor_id")).distinct()
      val next = cut(scoreCands(expanded)
        .unionByName(beamDf)
        .dropDuplicates("query_id", "neighbor_id"), beam)
      beamDf = Scratch.materialize(next, "walk_beam")._1
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    beamDf.select(col("query_id"),
        row_number().over(w).cast("long").as("rank"),
        col("neighbor_id"), col("sim"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/retrieval training: for each
    * anchor vector, the top-k most-similar corpus vectors whose label
    * DIFFERS from the anchor's — the highest-loss negatives a training
    * batch wants (easy negatives teach nothing; same-label neighbors
    * are false negatives). Same scale shape as [[bruteForceTopK]]: the
    * anchor set (a training batch — bounded) broadcasts, the corpus
    * scans ONCE with the row-local codegen'd cosine, and ranking runs
    * through the bounded per-partition heaps of `topKScored` — no
    * corpus self-join, linear in corpus size.
    * Output: (query_id, rank, neighbor_id, sim), sim = round(cos, 3).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col(labelCol).as("q_label"), col("embedding").as("qe"))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col(labelCol).as("n_label"), col("embedding").as("ne"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id") &&
        col("q_label") =!= col("n_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** Greedy k-center (farthest-point) coreset selection — the
    * diversity-maximizing draw active-learning and eval-set curation
    * use: seed with the lowest id, then k−1 times pick the vector
    * FARTHEST (max min-distance, ties → lowest id) from everything
    * selected so far. The selected set 2-approximates the optimal
    * k-center cover (Gonzalez 1985).
    *
    * Distance is integer millis of (1 − cosine): `1000 − round(cos·10³)`
    * — ONE rounding step, so both the argmax and the reported distance
    * are engine-exact. A selected vector's self-distance is 0, so it can
    * never be re-picked; the seed reports distance 0.
    *
    * Scale shape: k − 1 rounds, each ONE corpus scan against the
    * broadcast selected set (row-local cosine fold, map-side min,
    * single-row argmax collect — the k-bounded driver-action pattern of
    * the k-means codebook builder). Never corpus²; cost = k linear
    * passes, and k is coreset-sized by definition.
    *
    * Output: (sel_rank, vec_id, dist_milli), rank 1..k in pick order.
    */
  def kCenterSelect(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    val seed = vecs.agg(min("vec_id")).head().getLong(0)
    var sel = Vector((1L, seed, 0L))
    for (r <- 2 to k) {
      val ids = sel.map(_._2)
      val s = broadcast(vecs.filter(col("vec_id").isin(ids: _*))
        .select(col("embedding").as("se")))
      val best = vecs.crossJoin(s)
        .select(col("vec_id"),
          (lit(1000) - round(cosine(col("embedding"), col("se")) * 1000, 0))
            .cast("long").as("d"))
        .groupBy("vec_id").agg(min("d").as("d"))
        .orderBy(desc("d"), asc("vec_id")).limit(1).head()
      sel :+= ((r.toLong, best.getLong(0), best.getLong(1)))
    }
    sel.toDF("sel_rank", "vec_id", "dist_milli")
  }

  /** Maximal Marginal Relevance (MMR, Carbonell & Goldstein 1998):
    * greedy diversity-aware retrieval — each round picks the candidate
    * maximizing λ·relevance − (1−λ)·max-similarity-to-selected, the
    * dedup-at-retrieval-time a RAG context builder or eval-sampler
    * wants (pure top-k returns k copies of the same best hit).
    *
    * Integer scoring: relevance and redundancy are round(cos·10³)
    * millis, λ in millis — score = λ·r − (1000−λ)·maxSel is exact
    * BIGINT arithmetic, ties → lowest id; the first pick's redundancy
    * is 0. Selected ids are excluded outright (their self-similarity
    * 1000 would still out-score a dense cluster's members).
    *
    * Scale shape: relevance = ONE corpus scan against the broadcast
    * query vector, scratch-materialized (every round reads it);
    * each round = one corpus scan against the broadcast selected set
    * (row-local cosine, map-side max) + a single-row argmax collect —
    * the k-bounded driver-action pattern shared with [[kCenterSelect]].
    *
    * Output: (sel_rank, vec_id, score) in pick order.
    */
  def mmrSelect(corpus: DataFrame, queryVec: DataFrame, k: Int,
      lambdaMillis: Long = 700L): DataFrame = {
    require(k >= 1 && lambdaMillis >= 0 && lambdaMillis <= 1000)
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding"))
    val q = broadcast(queryVec.select(col("embedding").as("qe")).limit(1))
    val (rel, _) = Scratch.materialize(
      vecs.crossJoin(q).select(col("vec_id"),
        round(cosine(col("embedding"), col("qe")) * 1000, 0).cast("long").as("r")),
      "mmr_rel")
    val first = rel.orderBy(desc("r"), asc("vec_id")).limit(1).head()
    var sel = Vector((1L, first.getLong(0), lambdaMillis * first.getLong(1)))
    for (rk <- 2 to k) {
      val ids = sel.map(_._2)
      val s = broadcast(vecs.filter(col("vec_id").isin(ids: _*))
        .select(col("embedding").as("se")))
      val best = vecs.crossJoin(s)
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("se")) * 1000, 0)
            .cast("long").as("ms"))
        .groupBy("vec_id").agg(max("ms").as("maxSel"))
        .join(rel, Seq("vec_id"))
        .filter(!col("vec_id").isin(ids: _*))
        .select(col("vec_id"),
          (lit(lambdaMillis) * col("r") -
            lit(1000L - lambdaMillis) * col("maxSel")).as("score"))
        .orderBy(desc("score"), asc("vec_id")).limit(1).head()
      sel :+= ((rk.toLong, best.getLong(0), best.getLong(1)))
    }
    sel.toDF("sel_rank", "vec_id", "score")
  }

  /** Positive-pair mining — the complement of [[hardNegatives]] a
    * contrastive batch needs on its other side: for each anchor, the
    * top-k most-similar corpus vectors SHARING the anchor's label
    * (self excluded). Highest-similarity same-label neighbors make the
    * tightest anchor/positive pairs (SimCSE-style supervised batches);
    * pairing with the hard negatives from the same scan shape yields
    * the full triplet. Identical scale shape: broadcast anchors, ONE
    * row-local codegen'd-cosine corpus scan, bounded per-partition
    * heaps — no corpus self-join, linear in corpus size.
    * Output: (query_id, rank, neighbor_id, sim), sim = round(cos, 3).
    */
  def positivePairs(corpus: DataFrame, queries: DataFrame, k: Int = 10,
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col(labelCol).as("q_label"), col("embedding").as("qe"))
    val scored = corpus.select(col("vec_id").as("neighbor_id"),
        col(labelCol).as("n_label"), col("embedding").as("ne"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id") &&
        col("q_label") === col("n_label"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** Benchmark decontamination in embedding space: flag every corpus
    * vector whose max cosine similarity against ANY eval-set vector
    * reaches `tau` — the semantic leak (a paraphrased copy of an eval
    * item) that lexical n-gram decontamination cannot see. Comparison
    * happens on the round-3 quantized score (this module's engine-parity
    * contract). Output: `(vec_id, max_sim3, flagged)`.
    *
    * Scale shape: the eval side (an eval suite — thousands of rows, not
    * corpus-scale) broadcasts; the corpus scans ONCE with a row-local
    * codegen'd dot-product loop per (vector, eval) pair, and the
    * per-vector max folds map-side before the per-id aggregate — no
    * corpus shuffle, linear in corpus size. For eval sets too large to
    * broadcast, compose the same flag with the bucketed [[ivfTopK]] path
    * instead.
    */
  def decontaminateByEmbedding(corpus: DataFrame, eval: DataFrame,
      tau: Double, idCol: String = "vec_id", vecCol: String = "embedding",
      keepCols: Seq[String] = Nil): DataFrame = {
    val ev = broadcast(eval.select(col(vecCol).as("eval_vec")))
    // keepCols ride the group-by key (same cardinality — the id is already
    // unique), so callers get their metadata back without re-joining the
    // corpus — a second corpus-sized shuffle this operator exists to avoid.
    corpus.select(col(idCol).as("vec_id") +: col(vecCol).as("v") +:
        keepCols.map(col): _*)
      .crossJoin(ev)
      .select(col("vec_id") +: round(cosine(col("v"), col("eval_vec")), 3).as("sim3") +:
        keepCols.map(col): _*)
      .groupBy(col("vec_id") +: keepCols.map(col): _*)
      .agg(max("sim3").as("max_sim3"))
      .select(col("vec_id") +: col("max_sim3") +:
        (col("max_sim3") >= tau).as("flagged") +: keepCols.map(col): _*)
  }

  /** Assign every vector to its nearest centroid (max quantized cosine,
    * centroid id as tie-break). Output: corpus columns + `cid`.
    *
    * The codebook is collected to the driver (k is codebook-scale — the
    * same bound `kmeansCentroids` already relies on) and baked into a
    * codegen'd [[graft.functions.BestCentroid]] expression, making the
    * argmax row-local: the corpus is scanned once with ZERO joins,
    * exchanges, or window sorts. The previous crossJoin + Window
    * formulation shuffled k×N rows just to pick each row's max.
    *
    * Zero-norm centroids are REJECTED at codebook collection: their cosine
    * is NaN against every vector, and NaN assignment semantics differ by
    * formulation (a window `orderBy(desc)` sorts NaN largest — such a
    * centroid would win every row; [[graft.functions.BestCentroid]]'s
    * strict `>` means it can never win). A degenerate codebook is a bug in
    * the caller's centroid computation — fail loudly instead of silently
    * picking one of two divergent behaviors.
    *
    * Codebook transport AND kernel switch on k: small codebooks embed in
    * the expression tree (reference objects — zero indirection); past
    * `spark.graft.ivfBroadcastCodebookK` centroids (default 1024) the
    * codebook rides a broadcast variable instead
    * ([[graft.functions.BestCentroidBroadcast]] — same kernel, identical
    * assignments), because an embedded codebook re-ships with every
    * serialized stage while a broadcast is fetched once per executor.
    * Past `spark.graft.twoLevelAssignK` centroids (default 8192) the
    * exhaustive scan itself is the bill (O(k·dim) per ROW — at the
    * SemDeDup contract's k ≈ N/500 that's most of the k-means wall), so
    * assignment goes two-level ([[graft.functions.BestCentroidTwoLevel]]):
    * the top `spark.graft.twoLevelAssignNProbe` (default 8) of ~√k coarse
    * cells are probed per row. Approximate across cell boundaries but
    * deterministic and duplicate-consistent (identical vectors always
    * agree — the property SemDeDup recall rests on); set
    * twoLevelAssignNProbe ≥ √k to recover the exact argmax. In every
    * regime the scan stays a pure map: zero joins, zero exchanges.
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroidsKeepHandle(corpus, centroids).assigned

  /** The two-level codebook broadcast's payload type (coarse cell means,
    * CSR cell starts, fine ids, fine vectors) — see
    * [[buildTwoLevelCodebook]].
    */
  private[operators] type TwoLevelCodebook =
    (Array[Array[Float]], Array[Int], Array[Long], Array[Array[Float]])

  /** An assignment plan plus its codebook transport. `bc` is the
    * broadcast to `destroy()` once no reader remains (None in the
    * embedded-expression regime). The distributed k-means loop creates a
    * fresh k-sized broadcast per ITERATION; without an explicit destroy
    * after each round's means are materialized, reclaiming those blocks
    * waits on driver GC + ContextCleaner — at the contract's k (10⁵-10⁶,
    * tens-to-hundreds of MB each) several rounds' codebooks can sit live
    * in block-manager memory meanwhile. `twoLevel` additionally exposes
    * the coarse/fine CSR codebook when the two-level kernel was chosen,
    * so sibling operators (IVF probe selection) reuse the SAME broadcast
    * instead of collecting and building a second copy.
    */
  private[operators] final case class AssignedWithCodebook(
      assigned: DataFrame,
      bc: Option[org.apache.spark.broadcast.Broadcast[_]],
      twoLevel: Option[org.apache.spark.broadcast.Broadcast[TwoLevelCodebook]])

  /** [[assignToCentroids]] exposing the codebook transport (see
    * [[AssignedWithCodebook]]).
    */
  private[operators] def assignToCentroidsKeepHandle(corpus: DataFrame,
      centroids: DataFrame): AssignedWithCodebook = {
    val spark = corpus.sparkSession
    val cb = centroids.select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val zeroNorm = cb.filter { case (_, v) => !v.exists(_ != 0f) }
    require(zeroNorm.isEmpty,
      s"assignToCentroids: zero-norm centroid(s) ${zeroNorm.map(_._1).mkString(",")} " +
        "in codebook — cosine against them is undefined (NaN)")
    val broadcastK = GraftConf.IvfBroadcastCodebookK(spark)
    val twoLevelK = GraftConf.TwoLevelAssignK(spark)
    val (expr, handle, twoLevel) =
      if (cb.length > twoLevelK) {
        val nProbe = GraftConf.TwoLevelAssignNProbe(spark)
        val bc = spark.sparkContext.broadcast(
          buildTwoLevelCodebook(cb.map(_._1), cb.map(_._2)))
        (graft.functions.BestCentroidTwoLevel(
          ColumnBridge.expression(col("embedding")), bc, nProbe),
          Some(bc), Some(bc))
      } else if (cb.length > broadcastK) {
        val bc = spark.sparkContext.broadcast((cb.map(_._1), cb.map(_._2)))
        (graft.functions.BestCentroidBroadcast(
          ColumnBridge.expression(col("embedding")), bc), Some(bc), None)
      } else
        (graft.functions.BestCentroid(
          ColumnBridge.expression(col("embedding")), cb.map(_._1), cb.map(_._2)),
          None, None)
    AssignedWithCodebook(corpus.select(col("vec_id"), col("embedding"),
      ColumnBridge.column(expr).as("cid")), handle, twoLevel)
  }

  /** Partition a collected codebook into ~√k coarse cells for
    * [[graft.functions.BestCentroidTwoLevel]]: deterministic driver-local
    * k-means over the CENTROIDS (seeds = every (k/C)-th id-sorted centroid,
    * 2 Lloyd rounds, cosine assignment) and a CSR layout of the fine
    * centroids grouped by cell, ids ascending within each. Empty cells are
    * compacted away. Cost is O(k·√k·dim) on the driver per call —
    * per-centroid assignment fans out on a parallel stream; at k=10⁴/dim 64
    * it's ~100 ms, and it buys the executors a ~(nProbe+1)·√k-vs-k work cut
    * on every row of the corpus scan.
    *
    * Past `fitSample` centroids (default 2¹⁷ — ABOVE every measured
    * scale, so nothing below k≈131k changes by a bit) the Lloyd rounds
    * fit on a deterministic every-⌈k/s⌉-th SAMPLE of the id-sorted
    * centroids and only the final CSR assignment scans all k: build cost
    * drops from (rounds+1)·k·√k·dim to rounds·s·√k·dim + k·√k·dim — at
    * the k=10⁶ contract edge that is the difference between the driver
    * fitting 2·10⁶ and 2·1.3·10⁵ rows per round while the cluster idles
    * (ProfileTwoLevelBuild (git 2262e7b) measures it). Sampling moves cell BOUNDARIES
    * only — probe/parity semantics (exactness at nProbe ≥ cell count,
    * duplicate co-assignment) are properties of the kernel, not the fit.
    */
  private[graft] def buildTwoLevelCodebook(ids: Array[Long],
      vecs: Array[Array[Float]], fitSample: Int = 131072)
      : (Array[Array[Float]], Array[Int], Array[Long], Array[Array[Float]]) = {
    val k = ids.length
    val c = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val dim = vecs(0).length
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    var coarse = Array.tabulate(c)(j => vecs((j.toLong * k / c).toInt).map(_.toDouble))
    val assign = new Array[Int](k)
    // Lloyd-round membership: all of k, or the deterministic sample.
    val fitIdx: Array[Int] =
      if (k <= fitSample) Array.tabulate(k)(identity)
      else Array.tabulate(fitSample)(j => ((j.toLong * k) / fitSample).toInt)
    def assignAll(indices: Array[Int]): Unit = {
      val frozen = coarse
      val cNorms = frozen.map { v =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      java.util.stream.IntStream.range(0, indices.length).parallel().forEach { x =>
        val f = indices(x)
        val v = vecs(f)
        var best = Double.NegativeInfinity
        var bestC = 0
        var j = 0
        while (j < frozen.length) {
          val ce = frozen(j)
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i).toDouble * ce(i); i += 1 }
          val cs = dot / (norms(f) * cNorms(j))
          if (cs > best) { best = cs; bestC = j }
          j += 1
        }
        assign(f) = bestC
      }
    }
    for (_ <- 0 until 2) {
      assignAll(fitIdx)
      val sums = Array.fill(c)(new Array[Double](dim))
      val counts = new Array[Long](c)
      var x = 0
      while (x < fitIdx.length) {
        val f = fitIdx(x)
        val s = sums(assign(f)); val v = vecs(f)
        var i = 0
        while (i < dim) { s(i) += v(i).toDouble; i += 1 }
        counts(assign(f)) += 1
        x += 1
      }
      coarse = Array.tabulate(c)(j =>
        if (counts(j) == 0) coarse(j) else sums(j).map(_ / counts(j)))
    }
    // Sampled fit leaves non-sample rows unassigned: one full pass
    // against the final coarse means builds the CSR membership. (The
    // full-fit regime skips this — there `assign` already holds round
    // 2's full assignment, the exact grouping the pre-sampling code
    // used, so k ≤ fitSample output is bit-identical to before.)
    if (k > fitSample) assignAll(Array.tabulate(k)(identity))
    // CSR by (cell, id): ids are already ascending in the input, and the
    // grouping sort is stable, so within-cell order stays ascending.
    // Empty coarse cells are compacted implicitly — absent keys simply
    // never appear in groupBy output.
    val byCell = (0 until k).groupBy(assign).toSeq.sortBy(_._1)
    val cellStart = new Array[Int](byCell.length + 1)
    val outIds = new Array[Long](k)
    val outVecs = new Array[Array[Float]](k)
    var pos = 0
    byCell.zipWithIndex.foreach { case ((_, members), ci) =>
      cellStart(ci) = pos
      members.foreach { f => outIds(pos) = ids(f); outVecs(pos) = vecs(f); pos += 1 }
      cellStart(ci + 1) = pos
    }
    (byCell.map(b => coarse(b._1).map(_.toFloat)).toArray, cellStart, outIds, outVecs)
  }

  /** IVF top-k: probe the `nProbe` nearest centroid buckets per query and
    * search only those. Same output shape as bruteForceTopK; approximate —
    * a neighbor assigned to an unprobed bucket is missed (recall tested in
    * PipelineSpec against the brute-force oracle).
    *
    * Probe selection switches regime with corpus assignment: at codebook
    * scale (k ≤ `spark.graft.twoLevelAssignK`) the query set — small by
    * contract — cross-joins the broadcast codebook and keeps the nProbe
    * best per query through a window. Past the bound that shape is q×k
    * rows shuffled and sorted just to keep nProbe of them, so selection
    * becomes the row-local [[graft.functions.TopCentroidsTwoLevel]]
    * expression over the SAME coarse/fine broadcast corpus assignment
    * already built (top `spark.graft.twoLevelAssignNProbe` coarse cells
    * probed per query): zero joins, zero exchanges, one codebook build
    * per job. Exhaustive-parity when nProbe cells ≥ cell count; otherwise
    * a probe can miss a centroid hiding in an unprobed coarse cell — the
    * same approximation corpus assignment itself makes.
    */
  /** Per-query probe-cell selection shared by [[ivfTopK]] and
    * [[ivfPqTopK]]: the top-nProbe centroid ids for each query —
    * row-local `top_centroids_2level` over the shared broadcast when the
    * assignment ran two-level, else the broadcast crossJoin + window
    * with the (round6-cosine desc, cid) tie-break. ONE definition: probe
    * semantics (conf key, default, ordering) must not be able to
    * desynchronize between the exact and the PQ search paths.
    */
  private def probeSelection(q: DataFrame, centroids: DataFrame,
      res: AssignedWithCodebook, nProbe: Int): DataFrame =
    probeSelectionRanked(q, centroids, res, nProbe).select("query_id", "qe", "cid")

  /** [[probeSelection]] keeping the probe RANK (`prn`, 1-based preference
    * order of the cell for the query). The grid paths cut the shared
    * nProbe=max probe set by this rank; both arms produce their cells in
    * strict (csim desc, cid asc) preference order, so the nProbe=n set is
    * exactly the prn <= n prefix of the nProbe=max set.
    */
  private def probeSelectionRanked(q: DataFrame, centroids: DataFrame,
      res: AssignedWithCodebook, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = q.sparkSession
    res.twoLevel match {
      case Some(bc) =>
        val nCells = GraftConf.TwoLevelAssignNProbe(spark)
        q.select(col("query_id"), col("qe"),
            posexplode(ColumnBridge.column(graft.functions.TopCentroidsTwoLevel(
              ColumnBridge.expression(col("qe")), bc, nCells, nProbe))))
          .select(col("query_id"), col("qe"),
            (col("pos") + 1).cast("int").as("prn"), col("col").as("cid"))
      case None =>
        val c = broadcast(centroids.select(col("vec_id").as("cid"),
          col("embedding").as("ce")))
        val wq = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid"))
        q.crossJoin(c)
          .select(col("query_id"), col("qe"), col("cid"),
            round(cosine(col("qe"), col("ce")), 6).as("csim"))
          .withColumn("prn", row_number().over(wq))
          .filter(col("prn") <= nProbe)
          .select("query_id", "qe", "prn", "cid")
    }
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    val res = assignToCentroidsKeepHandle(corpus, centroids)
    val assigned = res.assigned
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = probeSelection(q, centroids, res, nProbe)
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** k-NN GRAPH construction: IVF top-k where the query side is itself
    * corpus-sized — the neighbor graph agglomerative semantic dedup and
    * graph-based clustering consume. Identical probe semantics to
    * [[ivfTopK]] (same assignment, same probe selection, same quantized
    * ranking), but the probe table joins the cell-bucketed corpus by
    * CELL as a plain co-partitioned equi-join — `ivfTopK`'s
    * broadcast(probes) hint is correct for a bounded query batch and
    * fatal for a corpus-sized one, so here the strategy is AQE's.
    * Cost is Σ_cell |cell|·|probes into cell| — the standard IVF-graph
    * bill, tuned by nProbe and the codebook size, never corpus².
    * Output: (query_id, rank, neighbor_id, sim) for every queried
    * vector.
    */
  def knnGraph(corpus: DataFrame, centroids: DataFrame, k: Int = 10,
      nProbe: Int = 4, queries: Option[DataFrame] = None): DataFrame = {
    val res = assignToCentroidsKeepHandle(corpus, centroids)
    val q = queries.getOrElse(corpus)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = probeSelection(q, centroids, res, nProbe)
    val scored = res.assigned.join(probes, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** Deterministic Lloyd's k-means for IVF/SemDeDup codebooks: assignment
    * by quantized cosine (id tie-break), centroid update =
    * double-precision element-wise mean. Two regimes, switched on
    * `spark.graft.kmeansDistributedK` (default 1024) — its OWN conf, not
    * the `ivfBroadcastCodebookK` transport knob: transport is documented
    * as producing identical assignments, so tuning it must never change
    * WHICH centroids an algorithm computes (a tool forcing broadcast
    * transport with codebookK=1 would otherwise silently flip k-means to
    * the different-init distributed algorithm):
    *
    *   - k ≤ bound (IVF-codebook scale): init = the k lowest vec_ids;
    *     updated centroids collect to the driver each iteration and
    *     re-embed in the assignment expression — the corpus is only ever
    *     scanned, never shuffled. (The per-group fold here deliberately
    *     stays a mapGroups over whole groups rather than reusing
    *     [[meanByKey]]: at codebook scale the exchange is k-row-trivial
    *     either way, and keeping the accumulation a single in-order fold
    *     avoids perturbing the FP sum order declared-query oracles have
    *     hash-matched against.)
    *   - k > bound (the SemDeDup contract k ≈ N/clusterSize, so k reaches
    *     10⁵-10⁶ at 100 TB): nothing k-sized is pulled through
    *     driver-side Rows. Init is the deterministic bucket mean over
    *     `pmod(xxhash64(vec_id), k)` (one distributed aggregation —
    *     replaces the `orderBy.limit(k)` driver pull, which at k=10⁶
    *     would single-task half a GB; the HASH matters: raw `vec_id % k`
    *     collapses under structured ids — e.g.
    *     monotonically_increasing_id's partitionId·2³³ stride with a
    *     power-of-two k yields only rows-per-partition distinct residues,
    *     far fewer than k seeds, and empty clusters are never re-seeded);
    *     each iteration's means come from a typed Aggregator
    *     with map-side combine (k rows shuffle, not N), and centroids
    *     stay a parquet-backed DataFrame end-to-end
    *     ([[Scratch.materialize]] per round, previous round reclaimed).
    *     The one k-sized driver structure is the assignment codebook
    *     itself — built once per iteration inside [[assignToCentroids]]
    *     and shipped as a broadcast variable, the map-side-assign
    *     alternative to shuffling k×N join rows; it is transient and
    *     constant-sized across iterations (ProfileSemantic (git 2262e7b) measures the
    *     flat driver heap at k=10⁴).
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val distributedK = GraftConf.KmeansDistributedK(spark)
    if (k > distributedK) return kmeansCentroidsDistributed(corpus, k, iters)
    var centroids = corpus.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding"))
    for (_ <- 0 until iters) {
      val means = assignToCentroids(corpus, centroids)
        .select(col("cid"), col("embedding")).as[(Long, Seq[Float])]
        .groupByKey(_._1)
        .mapGroups { (cid, it) =>
          var n = 0L
          var acc: Array[Double] = null
          it.foreach { case (_, v) =>
            if (acc == null) acc = new Array[Double](v.length)
            var i = 0
            while (i < v.length) { acc(i) += v(i); i += 1 }
            n += 1
          }
          (cid, acc.map(x => (x / n).toFloat).toSeq)
        }
        .collect()
        .sortBy(_._1)
      centroids = means.toSeq.toDF("vec_id", "embedding")
    }
    centroids
  }

  /** Element-wise mean per key of a (key, array<float>) DataFrame, as a
    * (vec_id, embedding) DataFrame. A typed [[Aggregator]] rather than
    * mapGroups: aggregators get PARTIAL aggregation (map-side combine), so
    * the shuffle carries one double-buffer per key per input partition
    * instead of every input vector — the difference between a k-row and an
    * N-row exchange.
    */
  private def meanByKey(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Resolve the encoders into locals: an encoder `def` written as
    // `implicitly` inside the Aggregator would reference spark.implicits
    // and capture the (non-serializable) SparkSession into the task
    // closure.
    val bufEnc = implicitly[org.apache.spark.sql.Encoder[(Array[Double], Long)]]
    val outEnc = implicitly[org.apache.spark.sql.Encoder[Seq[Float]]]
    val meanAgg = new org.apache.spark.sql.expressions.Aggregator[
        (Long, Seq[Float]), (Array[Double], Long), Seq[Float]] {
      def zero: (Array[Double], Long) = (null, 0L)
      def reduce(b: (Array[Double], Long), a: (Long, Seq[Float])): (Array[Double], Long) = {
        val v = a._2
        val acc = if (b._1 == null) new Array[Double](v.length) else b._1
        var i = 0
        while (i < v.length) { acc(i) += v(i); i += 1 }
        (acc, b._2 + 1)
      }
      def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
        if (x._1 == null) y
        else if (y._1 == null) x
        else {
          var i = 0
          while (i < x._1.length) { x._1(i) += y._1(i); i += 1 }
          (x._1, x._2 + y._2)
        }
      }
      def finish(r: (Array[Double], Long)): Seq[Float] =
        r._1.toSeq.map(d => (d / r._2).toFloat)
      def bufferEncoder = bufEnc
      def outputEncoder = outEnc
    }
    df.as[(Long, Seq[Float])].groupByKey(_._1)
      .agg(meanAgg.toColumn)
      .toDF("vec_id", "embedding")
  }

  /** The k-past-broadcast-bound k-means loop (see [[kmeansCentroids]]).
    * Each round's codebook is materialized to scratch parquet so the next
    * assignment reads k rows instead of replaying the whole lineage, and
    * the previous round's files are reclaimed immediately — peak scratch
    * is two codebooks.
    */
  private def kmeansCentroidsDistributed(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    var (centroids, dir) = Scratch.materialize(
      meanByKey(corpus.select(
        pmod(xxhash64(col("vec_id").cast("long")), lit(k.toLong)).as("cid"),
        col("embedding"))),
      "kmeans_cb")
    for (_ <- 0 until iters) {
      val res = assignToCentroidsKeepHandle(corpus, centroids)
      val (next, nextDir) = Scratch.materialize(
        meanByKey(res.assigned.select(col("cid"), col("embedding"))),
        "kmeans_cb")
      // The means are on parquet — this round's codebook broadcast has no
      // remaining reader; free the block-manager memory now instead of
      // waiting for driver GC to notice the dropped handle.
      res.bc.foreach(_.destroy())
      Scratch.delete(spark, dir)
      centroids = next
      dir = nextDir
    }
    // Final codebook stays on scratch; reclaimed by the session shutdown
    // hook (callers hold a lazy plan over it).
    centroids
  }

  /** Per-vector int8 scalar quantization — the embedding-storage
    * compression step (4× smaller than float32; IVF/rerank pipelines
    * scan codes and dequantize on the fly): code_i = round((v_i − min) ·
    * 255 / (max − min)), zero-point = min, scale = (max−min)/255, so
    * dequantization error is ≤ scale/2 per component. Row-local typed
    * map — no shuffle, no driver state; constant vectors (max == min)
    * quantize to all-zero codes.
    *
    * The rounding expression is written EXACTLY as the oracle computes it
    * ((v−min)·255/(max−min), half-up) — same IEEE ops in the same order,
    * so codes agree across engines bit-for-bit.
    *
    * Output: (vec_id, qmin, qmax, n_codes, code_sum).
    */
  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, emb) =>
        var mn = Double.MaxValue
        var mx = Double.MinValue
        emb.foreach { f => val v = f.toDouble; if (v < mn) mn = v; if (v > mx) mx = v }
        var sum = 0L
        if (mx > mn) emb.foreach { f =>
          sum += math.round((f.toDouble - mn) * 255.0 / (mx - mn))
        }
        (id, mn, mx, emb.length.toLong, sum)
      }
      .toDF("vec_id", "qmin", "qmax", "n_codes", "code_sum")
  }

  /** Collect a codebook relation to driver arrays, ids ascending — the
    * transport every PQ entry point shares. Bounded by construction: the
    * codebook is k vectors (the IVF-codebook envelope), never the corpus.
    */
  private def collectPqCodebook(codebookVecs: DataFrame, m: Int)
      : (Array[Long], Array[Array[Array[Float]]]) = {
    val rows = codebookVecs.select(col("vec_id").cast("long"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "pq: empty codebook")
    val dim = rows(0)._2.length
    require(m > 0 && dim % m == 0,
      s"pq: embedding dim $dim must divide evenly into m=$m subspaces")
    val sub = dim / m
    val ids = rows.map(_._1)
    val codebook = Array.tabulate(m) { s =>
      rows.map(_._2.slice(s * sub, (s + 1) * sub))
    }
    (ids, codebook)
  }

  /** Product quantization: each vector compresses to `m` codeword ids —
    * per subspace, the codebook vector whose subvector is nearest in
    * (round6-quantized) squared L2, smallest id on ties. Storage drops
    * from dim·4 bytes to m ids (m bytes at k ≤ 256) — with int8
    * ([[quantizeInt8]]) the two standard embedding-compression ladders.
    * The codebook here is k DESIGNATED CORPUS VECTORS (k-medoids-style
    * sampling — deterministic and replicable by a SQL oracle); a
    * Lloyd-refined codebook plugs in by passing [[kmeansCentroids]]
    * output instead, same assignment path. Assignment is a row-local
    * codegen'd map over a driver-collected codebook (bounded by k, the
    * IVF transport envelope) — zero joins, zero exchanges, linear in
    * corpus size at any scale.
    */
  def quantizePQ(corpus: DataFrame, codebookVecs: DataFrame, m: Int): DataFrame = {
    val (ids, codebook) = collectPqCodebook(codebookVecs, m)
    corpus.select(col("vec_id"),
      ColumnBridge.column(graft.functions.PqCodes(
        ColumnBridge.expression(col("embedding")), ids, codebook)).as("codes"))
  }

  /** PQ search: top-k nearest corpus vectors per query by ASYMMETRIC
    * distance (full query vector vs each corpus vector's coded
    * reconstruction) — the scan reads ONLY the m-id `codes` column (plus
    * vec_id), never the raw embeddings: the point of PQ at 100 TB is
    * that the search-time scan is dim·4/m× smaller. Approximate (scores
    * are against reconstructions); ranking feeds the same bounded
    * per-partition heap reducer as the exact paths. `sim` in the output
    * is the NEGATED squared ADC distance, so rank 1 = nearest and the
    * column composes with [[topKScored]]'s descending contract.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebookVecs: DataFrame,
      m: Int, k: Int = 10): DataFrame = {
    val (ids, codebook) = collectPqCodebook(codebookVecs, m)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    val scored = codes.crossJoin(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-ColumnBridge.column(graft.functions.PqAdcDist(
          ColumnBridge.expression(col("qe")),
          ColumnBridge.expression(col("codes")), ids, codebook))).as("sim"))
    topKScored(scored, k)
  }

  /** IVF-PQ — the composed 100 TB ANN layout: IVF centroid bucketing
    * prunes the scan to nProbe/nCentroids of the corpus, PQ codes make
    * every scanned row m ids instead of dim floats. The index build reads
    * embeddings ONCE (one pass computing both the bucket id and the
    * codes, both row-local codegen'd maps); the search side touches only
    * (cid, codes). With nProbe ≥ the centroid count this reproduces
    * [[pqTopK]] exactly (all buckets probed, same ADC scores, same
    * tie-breaks — spec-pinned), the same parity lever ivfTopK has over
    * brute force.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebookVecs: DataFrame, m: Int, k: Int = 10, nProbe: Int = 4): DataFrame = {
    val (ids, codebook) = collectPqCodebook(codebookVecs, m)
    val res = assignToCentroidsKeepHandle(corpus, centroids)
    // MATERIALIZE the (cid, codes) index to scratch parquet before the
    // probe join. This is what production does anyway (the PQ index is
    // stored state, built once and searched many times) — and without
    // the boundary Catalyst collapses the projection into the post-join
    // stage, re-evaluating the O(k·dim) PqCodes kernel once per
    // (row × matching probe) instead of once per row: measured 19 s vs
    // 2 s at n=200k, q=100, nProbe=8 (ProfilePq (git 2262e7b)).
    val (coded, _) = Scratch.materialize(
      res.assigned.select(col("vec_id"), col("cid"),
        ColumnBridge.column(graft.functions.PqCodes(
          ColumnBridge.expression(col("embedding")), ids, codebook)).as("codes")),
      "pq_index")
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = probeSelection(q, centroids, res, nProbe)
    val scored = coded.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-ColumnBridge.column(graft.functions.PqAdcDist(
          ColumnBridge.expression(col("qe")),
          ColumnBridge.expression(col("codes")), ids, codebook))).as("sim"))
    topKScored(scored, k)
  }

  /** IVF-PQ with the EXACT RE-RANK tail (round 17) — the production ANN
    * ladder's last rung (the standard IVFADC + re-ranking refinement,
    * Jégou et al. TPAMI 2011): the ADC scan produces a `shortlist`-deep
    * candidate set per query reading only (cid, codes), and ONLY the
    * survivors' raw embeddings are fetched — a join against the corpus
    * keyed by vec_id that touches q·shortlist rows, not the corpus —
    * for exact cosine scoring. Output ranks/scores are exact cosine
    * (round 3, [[bruteForceTopK]]'s reporting contract) over the
    * shortlist, so recall vs brute force is governed by shortlist depth
    * × nProbe; with nProbe ≥ the centroid count and shortlist ≥ the
    * corpus this EQUALS bruteForceTopK exactly (spec-pinned), and at any
    * setting the re-ranked top-k recall is ≥ the raw-ADC top-k recall on
    * the same candidates (exact scores fix quantization inversions —
    * measured in PipelineSpec's recall envelope).
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebookVecs: DataFrame, m: Int, k: Int = 10,
      nProbe: Int = 4, shortlist: Int = 100): DataFrame = {
    val cands = ivfPqTopK(corpus, queries, centroids, codebookVecs, m,
      k = shortlist, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(cands, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 3).as("sim"))
    topKScored(scored, k)
  }

  /** [[ivfPqRerankTopK]] over a GRID of shortlist depths in ONE ADC pass
    * (round-20 optimization pass). The per-depth loop the shortlist-grid
    * lane previously ran rebuilt the PQ index, re-scanned ADC, and
    * re-joined the rerank once per depth; but the ADC ranking is totally
    * ordered by (negated distance desc, neighbor_id asc), so the
    * depth-sl candidate set is exactly the rank <= sl prefix of the
    * depth-max set, and the exact rerank score of a candidate does not
    * depend on the depth. One ADC pass at max(shortlists), one exact
    * scoring join over its candidates (scratch-materialized — it feeds
    * every depth's cut), then per-depth top-k through the shared
    * grid-keyed heap reducer. Row-identical per depth to calling
    * [[ivfPqRerankTopK]] with that shortlist (spec-pinned).
    * Output: (shortlist, query_id, rank, neighbor_id, sim).
    */
  def ivfPqRerankTopKGrid(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebookVecs: DataFrame, m: Int, k: Int = 10,
      nProbe: Int = 4, shortlists: Seq[Int] = Seq(100)): DataFrame = {
    require(shortlists.nonEmpty, "ivfPqRerankTopKGrid: empty shortlist grid")
    val spark = corpus.sparkSession
    import spark.implicits._
    // Duplicate grid values would duplicate every candidate row for that
    // g through the grid join and corrupt the per-(g, query) ranks;
    // distinct preserves the documented per-point equivalence (output is
    // keyed by the grid VALUE). ADVICE round 20.
    val gridVals = shortlists.distinct
    val cands = ivfPqTopK(corpus, queries, centroids, codebookVecs, m,
      k = gridVals.max, nProbe = nProbe)
      .select(col("query_id"), col("rank").as("srn"), col("neighbor_id"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .join(cands, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("srn"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 3).as("sim"))
    val (sc, _) = Scratch.materialize(scored, "pq_grid")
    val grid = broadcast(gridVals.toDF("g"))
    val exploded = sc.join(grid, sc("srn") <= grid("g"))
    topKScoredGrid(exploded.select(col("g"), col("query_id"),
        col("neighbor_id"), col("sim")), k)
      .withColumnRenamed("g", "shortlist")
  }

  /** An [[ivfTopKGrid]] result: per-grid-point exact top-k plus the
    * per-grid-point candidate (scanned-row) counts the recall lane
    * reports.
    */
  final case class IvfGrid(topK: DataFrame, scanned: DataFrame)

  /** [[ivfTopK]] over a GRID of nProbe values in ONE corpus scan
    * (round-20 optimization pass). Probe cells come ranked in strict
    * (csim desc, cid) preference order, so the nProbe=n probe set is the
    * prn <= n prefix of the nProbe=max set, and a candidate's exact
    * score does not depend on n: scan once at max(nProbes) keeping the
    * probe rank, scratch-materialize (the scan feeds every grid point's
    * cut AND the scanned counts), cut by prn per grid point, rank
    * through the shared grid-keyed heap reducer. Row-identical per n to
    * [[ivfTopK]] (spec-pinned); `scanned` carries (nprobe,
    * scanned_rows) = the candidate rows ivfTopK's scan would touch.
    */
  def ivfTopKGrid(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, k: Int = 10, nProbes: Seq[Int] = Seq(4)): IvfGrid = {
    require(nProbes.nonEmpty, "ivfTopKGrid: empty nProbe grid")
    // Distinct for the same rank-corruption reason as ivfPqRerankTopKGrid.
    val gridVals = nProbes.distinct
    val spark = corpus.sparkSession
    import spark.implicits._
    val res = assignToCentroidsKeepHandle(corpus, centroids)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val probes = probeSelectionRanked(q, centroids, res, gridVals.max)
    val scored = res.assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("prn"), col("vec_id").as("neighbor_id"),
        round(cosine(col("qe"), col("embedding")), 3).as("sim"))
    val (sc, _) = Scratch.materialize(scored, "ivf_grid")
    val grid = broadcast(gridVals.toDF("g"))
    val exploded = sc.join(grid, sc("prn") <= grid("g"))
    val topK = topKScoredGrid(exploded.select(col("g"), col("query_id"),
        col("neighbor_id"), col("sim")), k)
      .withColumnRenamed("g", "nprobe")
    val scanned = exploded.groupBy(col("g").cast("long").as("nprobe"))
      .agg(count(lit(1)).as("scanned_rows"))
    IvfGrid(topK, scanned)
  }

  /** Sign-LSH bucketing: 16-bit bucket from the signs of dot products with
    * 16 (deterministic) hyperplane vectors. Identical vectors always share
    * a bucket, so exact-duplicate recall is 1; near-dup recall follows the
    * random-hyperplane collision bound. One codegen'd pass over the vector
    * evaluates every hyperplane (a per-hyperplane Column combination costs
    * one array scan per bit — 16x the reads on a 100 TB scan).
    */
  def signLshBucket(v: Column, hyperplanes: Seq[Seq[Double]]): Column =
    ColumnBridge.column(graft.functions.SignLshBucketExpr(
      ColumnBridge.expression(v),
      hyperplanes.map(_.map(_.toFloat).toArray).toArray))

  /** Near-duplicate vector pairs with cosine >= threshold, bucketed by
    * sign-LSH over the given hyperplanes, verified exactly per bucket.
    * FIXED bucket width — the right call when the caller owns the
    * hyperplane family; for corpus-size-aware bucketing use
    * [[cosineDuplicatesAuto]], which scales bit depth with the corpus and
    * band count with the threshold.
    */
  def cosineDuplicates(corpus: DataFrame, hyperplanes: Seq[Seq[Double]],
      threshold: Double): DataFrame = {
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      signLshBucket(col("embedding"), hyperplanes).as("bucket"))
    bucketed.select(col("vec_id").as("a"), col("embedding").as("ea"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("b"), col("embedding").as("eb"), col("bucket")),
        Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select("a", "b", "cos_sim").distinct()
  }

  /** splitmix64 — deterministic pseudo-random stream for hyperplanes. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic Gaussian hyperplanes (Box–Muller over splitmix64
    * draws) — rotationally symmetric directions, so the standard
    * sign-LSH collision bound P(bit agrees) = 1 − θ/π holds exactly and
    * [[signLshParamsFor]]'s recall arithmetic is honest. Same seed + shape
    * → same planes on every executor and every run.
    */
  def gaussianHyperplanes(nPlanes: Int, dim: Int,
      seed: Long = 0x517CC1B727220A95L): Array[Array[Float]] = {
    Array.tabulate(nPlanes) { j =>
      Array.tabulate(dim) { d =>
        val base = seed ^ (j.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong << 20)
        val u1 = math.max(((mix64(base) >>> 11).toDouble / (1L << 53).toDouble), 1e-15)
        val u2 = (mix64(base + 1) >>> 11).toDouble / (1L << 53).toDouble
        (math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)).toFloat
      }
    }
  }

  /** Corpus- and threshold-aware sign-LSH banding, mirroring
    * [[Dedup.lshParamsFor]]: returns (bands, bitsPerBand).
    *
    * Bit depth comes from OCCUPANCY — `bits = ⌈log2(n / targetPerBucket)⌉`
    * keeps expected vectors-per-bucket ≤ `targetPerBucket`, so the
    * within-bucket verify join stays ~n × targetPerBucket comparisons
    * per band instead of going quadratic as the corpus grows (the round-5
    * weakness of the fixed 16-bit bucket: 2^16 buckets over 10^9 vectors
    * leaves ~15k per bucket). The default of 64 keeps verify cheap —
    * deeper buckets cost only extra bands (logarithmic), while occupancy
    * costs verify comparisons (linear in the target). Band count then buys RECALL back: with per-bit
    * agreement p = 1 − arccos(t)/π, a pair at cosine t survives one band
    * with p^bits, and `bands = ⌈ln(1−minRecall)/ln(1−p^bits)⌉` bands push
    * detection ≥ minRecall. Cost scales as bands × n rows through the
    * bucket join — logarithmic-ish in n via bits, never quadratic.
    */
  def signLshParamsFor(threshold: Double, nVectors: Long,
      targetPerBucket: Long = 64, minRecall: Double = 0.97,
      maxBits: Int = 32): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && nVectors >= 0)
    val bits = math.max(1, math.min(maxBits,
      math.ceil(math.log(math.max(1.0, nVectors.toDouble / targetPerBucket)) /
        math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.min(1.0, threshold)) / math.Pi
    val pBand = math.pow(p, bits)
    val bands =
      if (pBand >= 1.0) 1
      else math.max(1, math.ceil(
        math.log(1.0 - minRecall) / math.log(1.0 - pBand)).toInt)
    (bands, bits)
  }

  /** Banded sign-LSH buckets as an array<long> column (one per band),
    * every band computed in a single codegen'd pass over the vector.
    */
  def signLshBands(v: Column, hyperplanes: Array[Array[Float]], bits: Int): Column =
    ColumnBridge.column(graft.functions.SignLshBandsExpr(
      ColumnBridge.expression(v), hyperplanes, bits))

  /** Near-duplicate vector pairs with cosine >= threshold, banded
    * corpus-size-aware sign-LSH with exact per-bucket verification — the
    * 100 TB shape: bit depth grows with the corpus (bounded bucket
    * occupancy), band count with the recall target. Runs one count() job
    * up front to size the banding (driver-scale: a single long).
    * Identical vectors agree with every hyperplane, so exact-duplicate
    * recall is 1 regardless of banding; near-dup recall ≥ `minRecall` at
    * the threshold by construction.
    */
  def cosineDuplicatesAuto(corpus: DataFrame, threshold: Double,
      targetPerBucket: Long = 64, minRecall: Double = 0.97,
      seed: Long = 0x517CC1B727220A95L): DataFrame = {
    val n = corpus.count()
    if (n == 0)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("a"), lit(0L).as("b"), lit(0.0).as("cos_sim"))
        .limit(0)
    val (bands, bits) = signLshParamsFor(threshold, n, targetPerBucket, minRecall)
    cosineDuplicatesBanded(corpus, threshold, bands, bits, seed)
  }

  /** [[cosineDuplicatesAuto]] with explicit banding — for callers (and
    * tests) that pick (bands, bits) themselves.
    */
  /** Cluster-scoped semantic deduplication — the SemDeDup recipe (Abbas
    * et al. 2023, arXiv:2303.09540) recast relationally: k-means codebook
    * → zero-shuffle row-local centroid assignment → cosine pairs WITHIN
    * each cluster only → min-label components → keep each component's
    * minimum vec_id. Clustering is what makes semantic dedup tractable at
    * 100 TB: candidate generation is cluster-local (expected pairs ≈
    * N·avgClusterSize/2, LINEAR in N when k scales with N — pick
    * k ≈ N / targetClusterSize), and the assignment map ships its
    * codebook as a broadcast variable past 1024 centroids. The
    * complementary path to [[cosineDuplicatesAuto]]: sign-LSH buckets by
    * random hyperplanes with an analytic recall bound at a threshold;
    * SemDeDup buckets by LEARNED structure, concentrating comparisons
    * where semantic mass actually is (the published trade-off — no recall
    * bound across cluster boundaries, but exact duplicates always
    * co-cluster because identical vectors share an argmax).
    *
    * Guardrail: a skewed codebook can leave one giant cluster whose
    * within-cluster join goes quadratic — cluster sizes are checked (one
    * k-row aggregate) and a cluster over `maxClusterSize` throws with the
    * fix (raise k) instead of silently exploding the pair join.
    *
    * Returns the surviving rows of `corpus` (all columns).
    */
  def semanticDeduplicate(corpus: DataFrame, k: Int, threshold: Double,
      kmeansIters: Int = 3, maxClusterSize: Long = 10000L): DataFrame = {
    val spark = corpus.sparkSession
    val centroids = kmeansCentroids(corpus, k, kmeansIters)
    // Assignment feeds both join sides and the size check: materialize it
    // once (8+ bytes/row of ids + the embedding) instead of re-running
    // the scan per consumer; reclaimed after the drop set is pinned. The
    // codebook broadcast has no reader once the rows are on parquet —
    // free it now rather than when GC notices the dropped handle.
    val assignRes = assignToCentroidsKeepHandle(corpus, centroids)
    val (assigned, aDir) = Scratch.materialize(
      assignRes.assigned.select("cid", "vec_id", "embedding"),
      "semdedup_assign")
    assignRes.bc.foreach(_.destroy())
    val oversized = assigned.groupBy("cid").count()
      .filter(col("count") > maxClusterSize).collect()
    require(oversized.isEmpty,
      s"semanticDeduplicate: cluster(s) ${oversized.map(_.getLong(0)).mkString(",")} " +
        s"exceed maxClusterSize=$maxClusterSize — raise k (target ~N/clusterSize) " +
        "so the within-cluster pair join stays linear in the corpus")
    val pairs = assigned.select(col("cid"), col("vec_id").as("a"), col("embedding").as("ea"))
      .join(assigned.select(col("cid"), col("vec_id").as("b"), col("embedding").as("eb")),
        Seq("cid"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    val drops = Dedup.componentsFromPairs(pairs.select("a", "b"))
      .filter(col("node") =!= col("label"))
      .select(col("node").as("vec_id"))
    // componentsFromPairs materialized the pair plan to its own scratch;
    // pin the (small) drop set before reclaiming the assignment spill.
    val (dropsDf, dDir) = Scratch.materialize(drops, "semdedup_drops")
    Scratch.delete(spark, aDir)
    val out = corpus.join(dropsDf, Seq("vec_id"), "left_anti")
    val _ = dDir // reclaimed by the session shutdown hook (out is lazy over it)
    out
  }

  def cosineDuplicatesBanded(corpus: DataFrame, threshold: Double,
      bands: Int, bits: Int, seed: Long = 0x517CC1B727220A95L): DataFrame = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val planes = gaussianHyperplanes(bands * bits, dim, seed)
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      posexplode(signLshBands(col("embedding"), planes, bits)).as(Seq("band", "bh")))
    bucketed.select(col("vec_id").as("a"), col("embedding").as("ea"),
        col("band"), col("bh"))
      .join(bucketed.select(col("vec_id").as("b"), col("embedding").as("eb"),
        col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .select("a", "b", "cos_sim").distinct()
  }
}
