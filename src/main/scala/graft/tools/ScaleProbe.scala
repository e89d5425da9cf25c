package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import graft.Engine
import graft.operators.{Dedup, Similarity}

/** Empirical scale stress for the dedup/ANN path: the 100 TB claims are
  * plan-asserted (QueryPlanSpec) but the per-round bench only runs sf0.1.
  * This main synthesizes a `factor`× corpus from a base SF and runs the two
  * iterative heavyweights once each, reporting wall-time and PEAK scratch
  * bytes (label propagation materializes per-round parquet — the probe
  * verifies the eager-reclaim contract actually bounds live scratch).
  *
  * Corpus synthesis is deterministic and preserves near-dup structure
  * per copy without creating cross-copy duplicates: copy k>0 rewrites
  * every inter-word gap to a copy-specific salt token, so every shingle
  * of copy k contains the salt and its Jaccard against any other copy is
  * 0, while pairs that are near-dups inside the base SF remain near-dups
  * inside each copy (both sides get the same rewrite). Embedding copies
  * get a small per-copy additive shift — enough to be distinct vectors,
  * close enough to keep the cosine-neighborhood structure IVF probes.
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe [sfDir] [factor] [stages]"`
  * (defaults: /root/testdata/sf0.1, 10 — i.e. an sf1-equivalent corpus —
  * and all stages; `stages` is a comma list of
  * colloc,split,dedup,span,ivf,fixpoint,semantic for single-operator
  * curves).
  */
object ScaleProbe {

  private def dirBytes(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(f =>
      try Files.size(f) catch { case _: Exception => 0L }).sum()
    catch { case _: Exception => 0L }
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    // Optional stage filter (comma list of
    // colloc,split,dedup,span,ivf,fixpoint,semantic; default all) — a
    // single-operator curve shouldn't pay for the full battery.
    val known = Set("all", "colloc", "split", "dedup", "span", "ivf",
      "fixpoint", "semantic")
    val stages = if (args.length > 2) args(2).split(",").map(_.trim).toSet
                 else Set("all")
    val unknown = stages -- known
    require(unknown.isEmpty,
      s"ScaleProbe: unknown stage(s) ${unknown.mkString(",")} — valid: " +
        known.toSeq.sorted.mkString(",") +
        " (a typo would silently measure nothing)")
    def on(s: String): Boolean = stages.contains("all") || stages.contains(s)
    // Pin the scratch root somewhere the poller can watch; clear leftovers
    // from a previous factor so the peak-scratch poll measures THIS run.
    val scratchBase = s"${System.getProperty("java.io.tmpdir")}/graft_scaleprobe"
    def rmTree(f: java.io.File): Unit =
      if (f.exists) { if (f.isDirectory) f.listFiles.foreach(rmTree); f.delete(); () }
    rmTree(new java.io.File(scratchBase))
    val spark = Engine.session()
    spark.conf.set("spark.graft.scratchDir", scratchBase)
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    val peak = new AtomicLong(0)
    val poller = new Thread(() => {
      while (true) {
        val b = dirBytes(Paths.get(scratchBase))
        peak.updateAndGet(m => math.max(m, b))
        Thread.sleep(200)
      }
    }, "scratch-poller")
    poller.setDaemon(true)
    poller.start()

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // --- synthesize the documents corpus at factor x -----------------
    val docs = Engine.table(spark, sfDir, "documents").select("doc_id", "text")
    val off = docs.agg(max("doc_id")).head().getLong(0) + 1
    val big = (0 until factor).map { k =>
      if (k == 0) docs
      else docs.select((col("doc_id") + lit(k * off)).as("doc_id"),
        graft.operators.SparkCols.regexpReplaceAll(col("text"), "\\s+", s" c${k}z ").as("text"))
    }.reduce(_ union _)
    // Materialize so the probe measures dedup over real parquet input,
    // not synthesis fused into the dedup plan.
    val corpusDir = s"$scratchBase/corpus_input"
    big.write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    val nDocs = corpus.count()
    println(s"[probe] corpus rows = $nDocs (base x $factor)")

    // Windowed-PMI collocations and the hash split run FIRST (before the
    // heavyweight dedup churns the heap — the round-8/9 measurement note:
    // stages after the big dedup in one JVM read high, and these two are
    // new in round 10 with no prior stage-order to preserve).
    //
    // Collocations: pair generation is row-local (never a positions
    // self-join), counting is two map-combined shuffles, and the vocab
    // join strategy is AQE's call (ProfileVocab (git 2262e7b) A/Bs the fallback). The
    // salt rewrite roughly doubles tokens per doc at k>0, so the curve
    // tracks token volume, not just doc count.
    if (on("colloc")) {
      val collocRows = time(s"collocations (w=3) over $nDocs docs") {
        graft.operators.TextAnalysis.collocations(corpus, window = 3,
          minCount = 5, topK = 50).count()
      }
      println(s"[probe] collocation rows = $collocRows")
    }

    // Growth-stable train/valid/test split: pure row-local CASE over an
    // md5 prefix — the probe point just pins the expected ~linear scan
    // cost (and that the reduction to 3 counters stays flat).
    if (on("split")) {
      val splitGroups = time(s"hash split (80/10/10) over $nDocs docs") {
        graft.operators.TextAnalysis.hashSplit(corpus,
          Seq(("train", 0.8), ("valid", 0.1), ("test", 0.1)))
          .groupBy("split").count().count()
      }
      println(s"[probe] split groups = $splitGroups")
    }

    if (on("dedup")) {
      val survivors = time(s"dedup near (0.8) over $nDocs docs") {
        Dedup.deduplicate(corpus, threshold = 0.8).count()
      }
      println(s"[probe] survivors = $survivors")
    }

    // Span-level dedup over the same corpus, in the 100 TB form (128-bit
    // gram fingerprints on the shuffle instead of gram text): the
    // inverted-index df pass is linear in corpus tokens and the salt
    // rewrite keeps duplicated spans within-copy only.
    if (on("span")) {
      val spanDocs = time(s"span-dup stats (10-gram) over $nDocs docs") {
        graft.operators.TextAnalysis.spanDupStats(corpus, fingerprint = true).count()
      }
      println(s"[probe] span-dup docs = $spanDocs")
    }

    // --- synthesize embeddings at factor x ---------------------------
    val embDir = s"$scratchBase/embeddings_input"
    lazy val vectors = {
      val emb = Engine.table(spark, sfDir, "embeddings").select("vec_id", "embedding")
      val eoff = emb.agg(max("vec_id")).head().getLong(0) + 1
      val bigEmb = (0 until factor).map { k =>
        if (k == 0) emb
        else emb.select((col("vec_id") + lit(k * eoff)).as("vec_id"),
          transform(col("embedding"),
            x => (x + lit((k * 0.003).toFloat)).cast("float")).as("embedding"))
      }.reduce(_ union _)
      bigEmb.write.mode("overwrite").parquet(embDir)
      val v = spark.read.parquet(embDir)
      println(s"[probe] embedding rows = ${v.count()}")
      v
    }

    if (on("ivf")) {
      val centroids = time("kmeans codebook (k=64, 3 iters)") {
        val c = Similarity.kmeansCentroids(vectors, k = 64, iters = 3)
        c.count(); c
      }
      val queries = vectors.orderBy("vec_id").limit(10)
      val topk = time("ivf top-10 (nProbe=4, 10 queries)") {
        Similarity.ivfTopK(vectors, queries, centroids, k = 10, nProbe = 4).count()
      }
      println(s"[probe] ivf result rows = $topk")
    }

    // --- fixpoint closure at factor x --------------------------------
    // A complete binary tree with 100k x factor nodes: the closure from
    // the root is ALL nodes, depth log2(N) rounds, and the frontier
    // DOUBLES each round — the stress case for the per-round dedup chain
    // (the reached side grows to the full closure while rounds keep
    // adding frontier-sized work).
    val nNodes = 100000L * factor
    val edgesDir = s"$scratchBase/edges_input"
    if (on("fixpoint")) {
      val ids = spark.range(nNodes)
      val treeEdges = ids.select(col("id").as("u"), (col("id") * 2 + 1).as("v"))
        .union(ids.select(col("id").as("u"), (col("id") * 2 + 2).as("v")))
        .filter(col("v") < nNodes)
      treeEdges.write.mode("overwrite").parquet(edgesDir)
      val edges = spark.read.parquet(edgesDir)
      val closed = time(s"fixpoint closure over $nNodes-node tree") {
        graft.operators.Fixpoint.iterate(
          spark.range(1).select(lit(0L).as("x")),
          d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")))
          .count()
      }
      println(s"[probe] fixpoint closure rows = $closed (expect $nNodes)")
      // Keyed fixpoint (USING KEY engine) at the same node scale: BFS
      // depth labeling over the tree — every node's (node, depth) state
      // is discovered once, rounds = tree depth, per-round work tracks
      // the level width. The curve claim: linear in nNodes at fixed
      // depth shape (compaction keeps update-heavy runs linear too —
      // that regime is A/B'd in ProfileFixpoint (git 2262e7b), not here).
      val labeled = time(s"keyed fixpoint BFS depth over $nNodes-node tree") {
        graft.operators.Fixpoint.iterateKeyed(
          spark.range(1).select(lit(0L).as("node"), lit(0L).as("depth")),
          d => d.join(edges, d("node") === edges("u"))
            .select(col("v").as("node"), (col("depth") + 1).as("depth")),
          keys = Seq("node"))
          .count()
      }
      println(s"[probe] keyed fixpoint labeled rows = $labeled (expect $nNodes)")
    }

    // --- cluster-scoped semantic dedup at factor x --------------------
    // LAST so the stage order (and JVM-contamination profile) of the
    // earlier probes stays comparable across rounds. k tracks the corpus
    // (~500 vectors/cluster — the documented linearity contract); the
    // synthesized copies sit at cosine ~1 against their originals, so the
    // drop volume scales with factor and the within-cluster verify is
    // genuinely exercised, not a no-op.
    if (on("semantic")) {
      val nVec = vectors.count()
      val semK = math.max(16, (nVec / 500).toInt)
      val semSurvivors = time(s"semantic dedup (k=$semK) over $nVec vectors") {
        Similarity.semanticDeduplicate(vectors, k = semK, threshold = 0.999,
          maxClusterSize = math.max(10000L, nVec / 10)).count()
      }
      println(s"[probe] semantic survivors = $semSurvivors")
    }

    val inputBytes = dirBytes(Paths.get(corpusDir)) + dirBytes(Paths.get(embDir)) +
      dirBytes(Paths.get(edgesDir))
    println(f"[probe] input bytes      = $inputBytes%,d")
    println(f"[probe] peak scratch     = ${peak.get()}%,d bytes (incl. input)")
    println(f"[probe] peak scratch-net = ${math.max(0L, peak.get() - inputBytes)}%,d bytes over input")
    spark.stop()
  }
}
