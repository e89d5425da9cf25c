package graft.operators

import graft.GraftConf
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit, struct, xxhash64}

/** Bounded fixpoint iteration — the engine's answer to `WITH RECURSIVE`
  * (host surface the reference inherits from DuckDB; Spark has no general
  * recursion). Computes the least fixpoint of `seed UNION step(reached)`
  * with UNION-distinct semantics, exactly like a recursive CTE, by
  * SEMI-NAIVE iteration: `step` is applied only to each round's frontier
  * (the rows discovered last round), never to the whole accumulated set,
  * so step cost tracks the frontier, not the closure.
  *
  * Scale shape (same discipline as [[Dedup]]'s label propagation): every
  * round's frontier is materialized — an un-truncated iterative plan
  * doubles per round and overflows the planner stack by ~round 9 — and
  * `maxRounds` is a runaway-recursion cap that THROWS rather than
  * returning a truncated (wrong) closure.
  *
  * The dedup side ("new frontier = step(frontier) minus everything
  * reached") is where a naive `except(reached-so-far)` costs
  * O(rounds × closure) in SHUFFLE: `except` hash-shuffles BOTH sides on
  * every column, so each round re-shuffles the entire accumulated
  * closure. Here each frontier is instead persisted as a BUCKETED,
  * bucket-sorted table keyed by a row hash (`xxhash64` of the whole row),
  * written with exactly one file per bucket, and the dedup is a chain of
  * co-located left-anti sort-merge joins over those tables: every reached
  * table is read already partitioned (bucket metadata) and already sorted
  * (one file per bucket), so the closure side incurs a columnar SCAN but
  * ZERO exchange and ZERO sort, every round. Per-round shuffled bytes are
  * O(|frontier|) — the candidates' distinct + one alignment to the bucket
  * layout — which is the semi-naive ideal; the per-round closure scan is
  * the irreducible cost of exact set semantics without an index.
  * (Plan-asserted in FixpointSpec: reached-table scans are bucketed and no
  * exchange sits above them.) Transitive closures with the
  * diameter-halving trick live in [[Dedup.componentLabels]]; this is the
  * general tool for everything else a recursive CTE would express
  * (reachability, bill-of-materials, org rollups).
  */
object Fixpoint {

  private val H = "__gfp_h"

  /** Left-anti join of `cand` (carrying [[H]]) against one reached table,
    * equi-keyed ONLY on the row hash, with the exact null-safe whole-row
    * comparison as the residual condition (hash collisions must not drop
    * genuinely-new rows).
    *
    * The key set matters: if the whole-row `<=>` were left as a bare
    * conjunct, ExtractEquiJoinKeys would pull it into the join keys as
    * coalesce/isnull pairs — expressions the bucketed scan's sort order
    * can't satisfy — and the planner would re-SORT the entire reached
    * table every round. Wrapping it as `rowEq OR h≠h` makes the conjunct
    * a disjunction (not an extractable equality) without changing its
    * value — the key already enforces h=h, so the OR's right arm is
    * always false on joined pairs — so the row check stays a residual
    * filter, the keys stay `[h]`, and the reached side's bucket layout
    * satisfies the join's distribution AND ordering untouched: zero
    * exchange, zero sort, every round.
    */
  private[operators] def antiReached(cand: DataFrame, reached: DataFrame,
      cols: Seq[String]): DataFrame = {
    val c = cand.alias("__gfc")
    val r = reached.alias("__gfr")
    val hEq: Column = col(s"__gfc.$H") === col(s"__gfr.$H")
    val rowEq: Column =
      struct(cols.map(n => col(s"__gfc.$n")): _*) <=>
        struct(cols.map(n => col(s"__gfr.$n")): _*)
    c.join(r, hEq && (rowEq || col(s"__gfc.$H") =!= col(s"__gfr.$H")), "left_anti")
  }

  /** Persist `df` (original columns + [[H]]) as a bucketed-by-hash,
    * bucket-sorted table with ONE file per bucket (the explicit
    * repartition puts each bucket's rows in exactly one task, and the
    * repartition key is the same murmur3-mod the bucketed writer uses, so
    * the writer emits one file per bucket — the single-file-per-bucket
    * layout is what lets later scans report their sort order and skip the
    * merge-join sort). The table is EXTERNAL with its data under the
    * session scratch root: the files are reclaimed by [[Scratch]]'s
    * shutdown hook, and the catalog entry lives only as long as the
    * session (in-memory catalog) or is harmless metadata (Hive).
    */
  private[operators] def persistFrontier(df: DataFrame, name: String, buckets: Int,
      path: String = null): DataFrame = {
    val spark = df.sparkSession
    val dir = if (path == null) Scratch.freshDir(spark, name) else path
    df.repartition(buckets, col(H))
      .write
      .bucketBy(buckets, H)
      .sortBy(H)
      .option("path", dir)
      .format("parquet")
      .saveAsTable(name)
    spark.table(name)
  }

  /** On-disk bytes of a persisted frontier dir — driver-side metadata
    * only (one FileSystem call), the measured input to the adaptive
    * bucket sizing below.
    */
  private def dirBytes(spark: org.apache.spark.sql.SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Bytes-derived bucket count for the round tables when the caller did
    * not size them (buckets = 0) — guide-§2 scale-adaptive partitioning:
    * a constant `spark.sql.shuffle.partitions` fan-out pays one write
    * task + one file PER BUCKET PER ROUND regardless of frontier size
    * (measured: the 25-round nation closure runs 1.4-2x slower at 32
    * buckets than at 4, ProfileFixpoint (git 2262e7b)), while a 100 TB closure wants
    * buckets sized like any shuffle. `ceil(bytes / targetBucketBytes)`
    * clamped to [1, spark.sql.shuffle.partitions]; the ceiling keeps a
    * deployment's configured width as the upper bound (a cluster raises
    * shuffle.partitions, and the cap rises with it), the 128 MB default
    * target follows the healthy-partition guidance and is overridable
    * via spark.graft.fixpoint.targetBucketBytes. Round r+1 is sized from
    * round r's MEASURED bytes (one-round lag; a growing frontier is
    * corrected the next round, and the clamp bounds the error), the seed
    * round from the optimizer's size estimate (clamped the same way, so
    * a garbage estimate degrades to today's constant, never worse).
    * Rounds may therefore differ in bucket count: the anti-join chain
    * stays correct (each join is keyed on [[H]] regardless of layout),
    * every reached-side scan is still bucketed and sort-satisfying, and
    * any side a width change forces Spark to re-exchange is small by
    * construction (it was persisted when the frontier was that size).
    */
  private def adaptiveBuckets(bytes: Long, cap: Int, targetBytes: Long): Int =
    math.max(1L, math.min(cap.toLong,
      (bytes / targetBytes) + (if (bytes % targetBytes == 0) 0 else 1))).toInt

  /** The accumulated distinct row set of `seed ∪ step(frontier₀) ∪ …`,
    * iterated until a round adds nothing new. `step` must return the
    * seed's schema. Deterministic for deterministic `step` (set
    * semantics: row order within rounds does not matter).
    *
    * `buckets` > 0 pins the BUCKETED reached tables' layout for every
    * round; the default (0) sizes each round adaptively from measured
    * frontier bytes (see [[adaptiveBuckets]]) — closure size / healthy
    * partition size, capped at `spark.sql.shuffle.partitions`.
    *
    * SMALL-FRONTIER rounds skip the parquet round trip entirely (round
    * 21): a frontier at or below `spark.graft.fixpoint.localFrontierRows`
    * rows (default 10 000; 0 disables) is collected to the driver and
    * becomes a LocalRelation — the same move Spark's own UnionLoopExec
    * makes below its localRelationLimit. The round then pays ONE job (the
    * step + distinct + anti-chain feeding a bounded collect) instead of a
    * bucketed write + catalog round trip + read-back + count, and the
    * dedup join against a local reached set is a broadcast hash anti join:
    * ZERO exchange on either side where the bucketed path still aligns
    * the candidates. Driver memory is bounded twice over: the per-round
    * collect is LIMIT-guarded (an overflowing round falls back to the
    * bucketed path, costing one wasted job on that transition round
    * only), and the CUMULATIVE driver-held closure is capped by
    * `spark.graft.fixpoint.localTotalRows` (default 200 000) — past it
    * every new round persists bucketed. Local rounds merge into ONE
    * LocalRelation as they land (disjoint rows, driver-side concat), so
    * the anti-join chain carries at most one local table.
    *
    * The BUCKETED chain is compaction-bounded (round 21, mirroring
    * iterateKeyed): past `spark.graft.fixpoint.compactRounds` live round
    * tables (default 8) they union into one (rows are DISJOINT by
    * construction — a flat union, no dedup shuffle), sized from their own
    * summed on-disk bytes. Round r then scans O(compactRounds) tables and
    * plans O(compactRounds) joins instead of O(r) — a 64-round closure no
    * longer opens r×buckets files per round or grows its plan without
    * bound.
    */
  def iterate(seed: DataFrame, step: DataFrame => DataFrame,
      maxRounds: Int = 64, buckets: Int = 0): DataFrame = {
    val spark = seed.sparkSession
    val cols = seed.columns.toIndexedSeq
    require(cols.nonEmpty, "Fixpoint.iterate: seed must have at least one column")
    val cap = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val targetBytes = GraftConf.FixpointTargetBucketBytes(spark)
    val localRowsCap = GraftConf.FixpointLocalFrontierRows(spark)
    val localTotalCap = GraftConf.FixpointLocalTotalRows(spark)
    val compactEvery = GraftConf.FixpointCompactRounds(spark)
    // Next BUCKETED round's bucket count: explicit `buckets` wins; else
    // derived from the previous persisted frontier's measured bytes (seed
    // round: the optimizer's estimate) — see adaptiveBuckets.
    var nextNb =
      if (buckets > 0) buckets
      else adaptiveBuckets(
        seed.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong, cap, targetBytes)
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    def tableName(round: Int) = s"graft_fix_${runId}_r$round"
    // All-nullable like the bucketed path's parquet read-back (a step may
    // produce nulls in a column the seed declared non-nullable; the union
    // of round tables has always been nullable).
    val schemaH = org.apache.spark.sql.types.StructType(
      seed.schema.fields.map(_.copy(nullable = true)) :+
        org.apache.spark.sql.types.StructField(
          H, org.apache.spark.sql.types.LongType, nullable = false))
    def withHash(df: DataFrame): DataFrame =
      df.withColumn(H, xxhash64(struct(cols.map(col): _*)))
    var created = Vector.empty[String]
    // Bucketed reached tables, with their scratch dirs (for compaction
    // sizing from measured bytes).
    var bucketedTables = Vector.empty[(DataFrame, String)]
    // Driver-held reached rows (schemaH) merged across local rounds, and
    // the single LocalRelation view over them.
    var localReached = Vector.empty[org.apache.spark.sql.Row]
    def localDf(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schemaH)
    def reachedAll: Vector[DataFrame] =
      (if (localReached.nonEmpty) Vector(localDf(localReached)) else Vector.empty) ++
        bucketedTables.map(_._1)
    def persist(df: DataFrame, round: Int): DataFrame = {
      val name = tableName(round)
      val dir = Scratch.freshDir(spark, name)
      val out = persistFrontier(df, name, nextNb, dir)
      if (buckets <= 0)
        nextNb = adaptiveBuckets(dirBytes(spark, dir), cap, targetBytes)
      created :+= name
      bucketedTables :+= ((out, dir))
      out
    }
    // Bound the bucketed chain: disjoint rows, so compaction is a flat
    // union persisted once, sized from the member tables' OWN summed
    // bytes — `nextNb` (frontier-derived) is left untouched, a tiny final
    // frontier must not size the whole-closure write (ADVICE round 20).
    def maybeCompact(round: Int): Unit =
      if (bucketedTables.length > compactEvery) {
        val sumBytes = bucketedTables.map(t => dirBytes(spark, t._2))
          .foldLeft(0L)((a, b) => if (Long.MaxValue - a < b) Long.MaxValue else a + b)
        val cb = if (buckets > 0) buckets
          else adaptiveBuckets(sumBytes, cap, targetBytes)
        val merged = bucketedTables.map(_._1).reduce(_ union _)
        val name = s"graft_fix_${runId}_c$round"
        val dir = Scratch.freshDir(spark, name)
        val out = persistFrontier(merged, name, cb, dir)
        created :+= name
        bucketedTables = Vector((out, dir))
      }
    // Tables are catalog entries only while the iteration needs them for
    // name resolution; Datasets analyze eagerly, so once every round's
    // frame exists the entries can be dropped (they are EXTERNAL — the
    // parquet stays, owned by the session scratch root) and nothing leaks
    // into the catalog across calls.
    def dropCreated(): Unit = created.foreach(n =>
      try { spark.sql(s"DROP TABLE IF EXISTS $n"); () }
      catch { case _: Exception => () })
    try {
      // Frontier tables are disjoint by construction (each round's rows are
      // anti-joined against every earlier table), so the accumulated set is
      // the flat union of the round tables — nothing is ever rewritten;
      // total storage = one copy of the closure.
      //
      // Materialize one round's fresh frontier: local (collect) when the
      // previous round was small and the caps allow, else bucketed. An
      // Option result of None means "went bucketed"; Some(rows) landed on
      // the driver. Returns (frontier df, exact row count).
      def materialize(fresh: DataFrame, round: Int, tryLocal: Boolean)
          : (DataFrame, Long) = {
        if (tryLocal && localRowsCap > 0) {
          val rows = fresh.limit(localRowsCap + 1).collect()
          if (rows.length <= localRowsCap &&
              localReached.length.toLong + rows.length <= localTotalCap) {
            localReached ++= rows
            return (localDf(rows.toIndexedSeq), rows.length.toLong)
          }
          // Overflow: fall through to the bucketed path (recomputes fresh
          // — one wasted job, only on this transition round).
        }
        val obs = Observation()
        val out = persist(fresh.observe(obs, count(lit(1)).as("n")), round)
        // AQE runtime empty-propagation can collapse a runtime-empty
        // round's plan and lose the CollectMetrics observation (observed
        // on iterateKeyed's convergence round; the persisted table is
        // ground truth — probe it if "n" went missing).
        val n = {
          val m = obs.getAsJava
          if (m.containsKey("n")) m.get("n").asInstanceOf[Long]
          else spark.table(tableName(round)).count()
        }
        // A runtime-empty round (convergence) adds nothing: keep it out
        // of the anti-join chain and the result union. The catalog entry
        // stays in `created` for cleanup.
        if (n == 0 && bucketedTables.nonEmpty && round > 0)
          bucketedTables = bucketedTables.init
        (out, n)
      }
      // Seed round: try local when the optimizer's size estimate is small
      // (a wrong estimate only costs the limit-guarded collect job).
      val seedSmall = localRowsCap > 0 &&
        seed.queryExecution.optimizedPlan.stats.sizeInBytes <=
          BigInt(localRowsCap) * 64
      var (frontier, frontierRows) =
        materialize(withHash(seed.distinct()), 0, tryLocal = seedSmall)
      var round = 0
      while (frontierRows > 0) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"Fixpoint.iterate: no fixpoint within $maxRounds rounds — " +
              s"recursion deeper than the cap (or non-monotone step); " +
              s"raise maxRounds (a truncated closure would be WRONG)")
        // New frontier = step(frontier) minus everything already reached
        // (UNION-distinct semantics). The candidates' distinct and the
        // anti-join chain below are the round's only shuffles — both
        // frontier-sized; bucketed reached tables stream through
        // co-located, pre-sorted merge joins and the local reached set
        // broadcast-builds with no exchange at all.
        val cand = withHash(step(frontier.drop(H)).distinct())
        val fresh = reachedAll.foldLeft(cand)((c, r) => antiReached(c, r, cols))
        // Try the local path only while the PREVIOUS frontier was small
        // (a small frontier usually steps to a small one; fan-out is
        // caught by the limit guard) and the driver cap has headroom —
        // once in the big regime the limit-collect would be a wasted
        // full job every round.
        val (f2, n2) = materialize(fresh, round + 1,
          tryLocal = frontierRows <= localRowsCap &&
            localReached.length < localTotalCap)
        frontier = f2
        frontierRows = n2
        maybeCompact(round + 1)
        round += 1
      }
      // Every file scanned by the returned plan is live for the session;
      // it is session scratch, reclaimed by the shutdown hook like every
      // other scratch-backed result. An all-empty closure (empty seed,
      // local round 0) returns the empty seed frame with the seed schema.
      val parts = reachedAll
      if (parts.isEmpty) frontier.drop(H)
      else parts.map(_.drop(H)).reduce(_ union _)
    } finally dropCreated()
  }

  /** KEYED fixpoint — DuckDB's `WITH RECURSIVE ... USING KEY` semantics
    * (DuckDB ≥1.3 docs; the reference host's dialect): the state table
    * holds ONE row per key; each round's step output UPSERTS it (new key
    * → insert, existing key with a different payload → replace,
    * identical row → no-op), the step sees exactly the rows that CHANGED
    * state last round (DuckDB's intermediate table), and iteration stops
    * when a round changes nothing. `maxRounds` throws on non-convergence
    * (an oscillating step — key flipping between payloads — is a bug in
    * the step, and a truncated state would be WRONG).
    *
    * Where DuckDB's row-order-dependent "last row wins" resolves
    * duplicate keys WITHIN one round arbitrarily, a distributed engine
    * must be deterministic: the MINIMUM full-row struct wins
    * (engine-defined tie-break, like the as-of join's tie contract).
    *
    * Scale shape mirrors [[iterate]]: each round's changed set persists
    * as a bucketed, bucket-sorted table keyed by the KEY hash, the
    * current-payload lookup is a chain of co-located left joins against
    * those tables (zero exchange, zero sort on the state side — the
    * `keyEq || h≠h` disjunction keeps the null-safe key check a residual
    * instead of a sort-breaking extracted join key, as in
    * [[antiReached]]), and per-round shuffled bytes are O(|changed|).
    * A replaced key's old row stays in its old round table; LATER ROUNDS
    * TAKE PRECEDENCE — resolved per lookup via reverse-round coalesce
    * and once at the end via max_by(round) per key.
    *
    * Where keyed state DIFFERS from [[iterate]]'s closure: update-heavy
    * workloads re-touch keys, so round tables are NOT disjoint —
    * unboundedly many superseded rows would accumulate and every
    * lookup's join chain would grow one table per round (O(rounds²·K)
    * scanned over a long run). Past `spark.graft.fixpoint.compactRounds`
    * live tables (default 8, the same key as [[iterate]]'s) the state
    * COMPACTS: latest-per-key resolves into one bucketed
    * table and iteration continues from it — lookups join ≤ compact+1
    * tables, superseded rows are dropped rather than re-scanned forever,
    * and one K-row shuffle per compaction pays for it. ([[iterate]]
    * needs no such step: its round tables are disjoint by construction,
    * so its chain scans each closure row exactly once per round.)
    */
  def iterateKeyed(seed: DataFrame, step: DataFrame => DataFrame,
      keys: Seq[String], maxRounds: Int = 64, buckets: Int = 0): DataFrame =
    iterateKeyedWithState(seed, (frontier, _) => step(frontier),
      keys, maxRounds, buckets)

  /** [[iterateKeyed]] plus DuckDB's `recurring.<name>` relation: the step
    * also receives a THUNK of the accumulated one-row-per-key state as of
    * the round's start (seed + every upsert through the previous round —
    * exactly DuckDB's recurring table). A thunk because resolving it
    * costs a K-row per-key shuffle over the (compaction-bounded) round
    * tables; steps that ignore it — most — never pay.
    */
  def iterateKeyedWithState(seed: DataFrame,
      step: (DataFrame, () => DataFrame) => DataFrame,
      keys: Seq[String], maxRounds: Int = 64, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, max_by, min, struct => fstruct}
    val spark = seed.sparkSession
    val cols = seed.columns.toIndexedSeq
    require(keys.nonEmpty && keys.forall(cols.contains),
      s"Fixpoint.iterateKeyed: keys ${keys.mkString(",")} must be seed columns ${cols.mkString(",")}")
    val cap = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val targetBytes = GraftConf.FixpointTargetBucketBytes(spark)
    var nextNb =
      if (buckets > 0) buckets
      else adaptiveBuckets(
        seed.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong, cap, targetBytes)
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    def tableName(round: Int) = s"graft_kfix_${runId}_r$round"
    def withKeyHash(df: DataFrame): DataFrame =
      df.withColumn(H, xxhash64(fstruct(keys.map(col): _*)))
    // Deterministic one-row-per-key: minimum full-row struct wins.
    def dedupByKey(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(min(fstruct(cols.map(col): _*)).as("__gkf_row"))
        .select(cols.map(c => col(s"__gkf_row.$c")): _*)
    // Latest-per-key resolution over ordered state tables (later index
    // supersedes) — the shape both the final result and compaction use;
    // deterministic because (key, table index) is unique.
    def resolveLatest(tables: Vector[DataFrame]): DataFrame = {
      val tagged = tables.zipWithIndex.map { case (r, i) =>
        r.drop(H).withColumn("__gkf_round", lit(i)) }
      tagged.reduce(_ union _)
        .groupBy(keys.map(col): _*)
        .agg(max_by(fstruct(cols.map(col): _*), col("__gkf_round")).as("__gkf_row"))
        .select(cols.map(c => col(s"__gkf_row.$c")): _*)
    }
    val compactEvery = GraftConf.FixpointCompactRounds(spark)
    var created = Vector.empty[String]
    // Frontier-round persist: sized by the frontier-derived nextNb, which
    // the just-written table's measured bytes then update. Returns the
    // table AND its dir (compaction sizes itself from the member dirs).
    def persist(df: DataFrame, name: String): (DataFrame, String) = {
      val dir = Scratch.freshDir(spark, name)
      val out = persistFrontier(df, name, nextNb, dir)
      if (buckets <= 0)
        nextNb = adaptiveBuckets(dirBytes(spark, dir), cap, targetBytes)
      created :+= name
      (out, dir)
    }
    // Compaction persist: the FULL merged state, sized from the member
    // round tables' own summed bytes — NOT the frontier-lagged nextNb
    // (which near convergence is tiny and would force the whole state
    // into one bucket), and without overwriting nextNb (the next
    // frontier must not inherit the state table's width). ADVICE r20.
    def persistCompact(df: DataFrame, name: String, memberDirs: Seq[String])
        : (DataFrame, String) = {
      val sumBytes = memberDirs.map(dirBytes(spark, _))
        .foldLeft(0L)((a, b) => if (Long.MaxValue - a < b) Long.MaxValue else a + b)
      val cb = if (buckets > 0) buckets
        else adaptiveBuckets(sumBytes, cap, targetBytes)
      val dir = Scratch.freshDir(spark, name)
      val out = persistFrontier(df, name, cb, dir)
      created :+= name
      (out, dir)
    }
    def dropCreated(): Unit = created.foreach(n =>
      try { spark.sql(s"DROP TABLE IF EXISTS $n"); () }
      catch { case _: Exception => () })
    try {
      var (frontier, frontierDir) = persist(withKeyHash(dedupByKey(seed)), tableName(0))
      // round order; later rounds supersede. Each entry carries its
      // scratch dir so compaction can size from measured bytes.
      var reachedD = Vector((frontier, frontierDir))
      def reached: Vector[DataFrame] = reachedD.map(_._1)
      var round = 0
      var frontierRows = -1L
      while (if (frontierRows >= 0) frontierRows > 0 else !frontier.isEmpty) {
        if (round >= maxRounds)
          throw new IllegalStateException(
            s"Fixpoint.iterateKeyed: no fixpoint within $maxRounds rounds — " +
              "non-convergent step (oscillating payloads?) or recursion " +
              "deeper than the cap; raise maxRounds (truncated state would be WRONG)")
        // Recursive-CTE column semantics are POSITIONAL, and the SEED
        // anchors both names and types (DuckDB's contract): rename by
        // position and cast to the seed's types — a step that widens a
        // column (int seed, bigint step) would otherwise fail the final
        // round-table union, and the per-round key-hash equality relies
        // on consistent types across rounds. ANSI mode makes a genuinely
        // incompatible step type a loud error, not a silent null.
        val stepped = step(frontier.drop(H), () => resolveLatest(reached))
        require(stepped.columns.length == cols.length,
          s"Fixpoint.iterateKeyed: step returned ${stepped.columns.length} " +
            s"columns, seed has ${cols.length}")
        val seedTypes = seed.schema.fields.map(_.dataType)
        val cand = withKeyHash(dedupByKey(
          stepped.toDF(cols: _*).select(cols.zip(seedTypes).map {
            case (c, t) => col(c).cast(t).as(c) }.toIndexedSeq: _*)))
        // Current payload per candidate key: left-join every round table
        // (each holds ≤1 row per key) on the key hash with the null-safe
        // key struct as a residual, collecting one payload struct per
        // round; the LATEST round's match wins via reverse coalesce.
        val keyStructC = fstruct(keys.map(col): _*)
        var joined = cand
        reached.zipWithIndex.foreach { case (r, i) =>
          val ri = r.select(col(H).as(s"__gkf_h$i"),
            fstruct(keys.map(col): _*).as(s"__gkf_k$i"),
            fstruct(cols.map(col): _*).as(s"__gkf_cur$i"))
          val hEq = col(H) === col(s"__gkf_h$i")
          val kEq = keyStructC <=> col(s"__gkf_k$i")
          joined = joined
            .join(ri, hEq && (kEq || col(H) =!= col(s"__gkf_h$i")), "left")
            .drop(s"__gkf_h$i", s"__gkf_k$i")
        }
        val latest = coalesce(reached.indices.reverse.map(i => col(s"__gkf_cur$i")): _*)
        val rowStruct = fstruct(cols.map(col): _*)
        val changed = joined
          .filter(latest.isNull || !(rowStruct <=> latest))
          .select((cols :+ H).map(col): _*)
        val obs = Observation()
        val (f2, d2) = persist(changed.observe(obs, count(lit(1)).as("n")),
          tableName(round + 1))
        frontier = f2
        frontierDir = d2
        // When a round's cand turns out empty at RUNTIME, AQE's
        // empty-relation propagation can collapse the outer-join tree
        // and the CollectMetrics observation is lost with it (the
        // metrics map comes back without "n" — seen deterministically on
        // the convergence round). The persisted table is the ground
        // truth either way: probe it on metric loss — one tiny job, and
        // only on the (usually final) metric-less round.
        frontierRows = {
          val m = obs.getAsJava
          if (m.containsKey("n")) m.get("n").asInstanceOf[Long]
          else spark.table(tableName(round + 1)).count()
        }
        if (frontierRows > 0) reachedD :+= ((frontier, frontierDir))
        // Compaction: bound the lookup chain and drop superseded rows
        // (see the scaladoc). The frontier table itself is untouched —
        // only the STATE view of it merges into the compacted table,
        // which persistCompact sizes from the member tables' own bytes.
        if (reachedD.length > compactEvery)
          reachedD = Vector(persistCompact(withKeyHash(resolveLatest(reached)),
            s"graft_kfix_${runId}_c$round", reachedD.map(_._2)))
        round += 1
      }
      // Final state: per key, the row from the latest table that touched
      // it — one key-hash shuffle over the (compaction-bounded) union.
      resolveLatest(reached)
    } finally dropCreated()
  }
}
