package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Semantics checks for the bounded fixpoint iterator. */
class FixpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("iterate computes the transitive closure of a reachability step") {
    import spark.implicits._
    // Two components: 1→2→3→4 (chain) and 10→11→10 (cycle); 20 isolated.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L))
      .toDF("u", "v")
    val seed = Seq(1L, 10L).toDF("x")
    val reached = Fixpoint.iterate(seed,
        d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")))
      .collect().map(_.getLong(0)).toSet
    assert(reached == Set(1L, 2L, 3L, 4L, 10L, 11L))
  }

  test("iterate applies UNION-distinct semantics (cycles terminate)") {
    import spark.implicits._
    // Pure 3-cycle: naive accumulation would loop forever; set semantics
    // reach the fixpoint in 3 rounds.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("u", "v")
    val seed = Seq(0L).toDF("x")
    val reached = Fixpoint.iterate(seed,
        d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")),
        maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    assert(reached == Set(0L, 1L, 2L))
  }

  test("iterate throws at the round cap instead of returning a truncated closure") {
    import spark.implicits._
    val seed = Seq(0L).toDF("x")
    val ex = intercept[IllegalStateException](
      Fixpoint.iterate(seed, d => d.select((col("x") + 1).as("x")), maxRounds = 5)
        .collect())
    assert(ex.getMessage.contains("no fixpoint within 5 rounds"))
  }

  test("iterateKeyed upserts: a key's payload is replaced, not accumulated") {
    import spark.implicits._
    // Key 1 climbs v = 0 -> 3 (three replacements); plain iterate would
    // return four rows, keyed state keeps ONE row per key, final payload.
    val seed = Seq((1L, 0L), (2L, 10L)).toDF("k", "v")
    val out = Fixpoint.iterateKeyed(seed,
        d => d.filter(col("v") < 3).select(col("k"), (col("v") + 1).as("v")),
        keys = Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(out == Seq((1L, 3L), (2L, 10L)))
  }

  test("iterateKeyed with whole-row keys equals iterate's UNION-distinct closure") {
    import spark.implicits._
    // When the key IS the whole row, upsert degenerates to set insertion:
    // the keyed engine must reproduce the plain fixpoint on the same
    // cyclic graph (including termination).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("u", "v")
    val seed = Seq(0L).toDF("x")
    def step(d: org.apache.spark.sql.DataFrame) =
      d.join(edges, d("x") === edges("u")).select(col("v").as("x"))
    val keyed = Fixpoint.iterateKeyed(seed, step, keys = Seq("x"), maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    val plain = Fixpoint.iterate(seed, step, maxRounds = 10)
      .collect().map(_.getLong(0)).toSet
    assert(keyed == plain && keyed == Set(0L, 1L, 2L))
  }

  test("iterateKeyed resolves duplicate keys within a round deterministically (min row)") {
    import spark.implicits._
    // Seed emits key 7 twice with different payloads; the engine-defined
    // tie-break is the minimum full-row struct — every run, every
    // partitioning.
    val seed = Seq((7L, 5L), (7L, 2L)).toDF("k", "v")
    val out = Fixpoint.iterateKeyed(seed, d => d.limit(0), keys = Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((7L, 2L)))
  }

  test("iterateKeyed anchors step types to the seed (positional cast)") {
    import spark.implicits._
    // Seed is (int, int); the step widens v to BIGINT — recursive-CTE
    // semantics keep the SEED's types, and without the cast the final
    // round-table union would fail on mismatched schemas.
    val seed = Seq((1, 0)).toDF("k", "v")
    val out = Fixpoint.iterateKeyed(seed,
        d => d.filter(col("v") < 3)
          .select(col("k"), (col("v").cast("bigint") + 1L).as("v")),
        keys = Seq("k"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(out == Seq((1, 3)))
  }

  test("iterateKeyed compaction preserves untouched keys across boundaries") {
    import spark.implicits._
    // Key 1 climbs for 10 rounds; key 2 never steps after the seed — its
    // payload lives ONLY in table 0, so every compaction (forced every 2
    // tables here) must carry it forward or it vanishes from the state.
    val seed = Seq((1L, 0L), (2L, 100L)).toDF("k", "v")
    def run(): Seq[(Long, Long)] =
      Fixpoint.iterateKeyed(seed,
          d => d.filter(col("v") < 9).select(col("k"), (col("v") + 1).as("v")),
          keys = Seq("k"), maxRounds = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val default = run()
    val key = "spark.graft.fixpoint.compactRounds"
    spark.conf.set(key, "2")
    try assert(run() == default && default == Seq((1L, 9L), (2L, 100L)))
    finally spark.conf.unset(key)
  }

  test("iterateKeyed throws at the round cap on an oscillating step") {
    import spark.implicits._
    // v flips 0<->1 forever: every round changes the key's payload, no
    // fixpoint exists — the cap must THROW, a truncated state is wrong.
    val seed = Seq((1L, 0L)).toDF("k", "v")
    val ex = intercept[IllegalStateException](
      Fixpoint.iterateKeyed(seed,
        d => d.select(col("k"), (lit(1L) - col("v")).as("v")),
        keys = Seq("k"), maxRounds = 5).collect())
    assert(ex.getMessage.contains("no fixpoint within 5 rounds"))
  }

  test("iterate on an empty seed returns the empty set") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("x")
    assert(Fixpoint.iterate(empty, d => d.select((col("x") + 1).as("x"))).count() == 0)
  }

  test("long chain: 40 rounds complete and per-round dedup shuffles only the frontier") {
    import spark.implicits._
    // A 41-node path graph forces 40+ rounds with a 1-row frontier each —
    // the regime where except(all)'s closure re-shuffle would dominate.
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("u", "v")
    val seed = Seq(0L).toDF("x")
    val reached = Fixpoint.iterate(seed,
        d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")),
        maxRounds = 64)
      .collect().map(_.getLong(0)).toSet
    assert(reached == (0L to 40L).toSet)
  }

  test("null rows participate in set semantics (except-parity)") {
    import spark.implicits._
    // A null seed row must not be re-added by a step that produces it
    // again (the residual whole-row comparison is null-safe).
    val seed = Seq[java.lang.Long](null, 1L).toDF("x")
    val reached = Fixpoint.iterate(seed,
        d => d.filter(col("x").isNotNull && col("x") < 3)
          .select((col("x") + 1).as("x"))
          .union(d.sparkSession.range(1).select(lit(null).cast("long").as("x"))),
        maxRounds = 10)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSet
    assert(reached == Set(-1L, 1L, 2L, 3L))
  }

  test("iterate leaves no round tables in the catalog (result stays readable)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val seed = Seq(1L).toDF("x")
    val result = Fixpoint.iterate(seed,
      d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")))
    assert(!spark.catalog.listTables().collect().map(_.name)
      .exists(_.startsWith("graft_fix_")), "round tables must be dropped")
    // The returned plan was resolved eagerly — dropping the catalog
    // entries must not break it (external tables; files stay).
    assert(result.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("multi-column rows: bill-of-materials rollup reaches the right quantities") {
    import spark.implicits._
    // (assembly, part, qty): a BOM explosion where the row is (part, qty)
    // — exercises the whole-row hash + residual on >1 column, including
    // rows that differ only in the second column.
    val bom = Seq(
      ("root", "axle", 2L), ("root", "wheel", 4L),
      ("axle", "bolt", 3L), ("wheel", "bolt", 5L), ("wheel", "rim", 1L))
      .toDF("parent", "child", "qty")
    val seed = Seq(("root", 1L)).toDF("part", "mult")
    val closure = Fixpoint.iterate(seed,
        d => d.join(bom, d("part") === bom("parent"))
          .select(col("child").as("part"), (col("mult") * col("qty")).as("mult")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // bolt appears via axle (2*3=6) and via wheel (4*5=20) — two distinct
    // rows differing in mult only; both must survive the set semantics.
    assert(closure == Set(
      ("root", 1L), ("axle", 2L), ("wheel", 4L),
      ("bolt", 6L), ("bolt", 20L), ("rim", 4L)))
  }

  test("local-frontier mode, bucketed mode and mid-run flips agree (round 21)") {
    import spark.implicits._
    // 0..199 chain plus a cycle back edge: 200 rounds of 1-row frontiers
    // is too deep, use a fan-out graph instead — binary tree on 0..62
    // (6 rounds, frontier doubling 1→32) reaches all 63 nodes.
    val edges = (0L until 31L).flatMap(i => Seq((i, 2 * i + 1), (i, 2 * i + 2)))
      .toDF("u", "v")
    val seed = Seq(0L).toDF("x")
    def run(): Set[Long] =
      Fixpoint.iterate(seed,
          d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")))
        .collect().map(_.getLong(0)).toSet
    val want = (0L to 62L).toSet
    val confs = Seq(
      // pure local (defaults: every frontier ≤ 10k rows)
      Map.empty[String, String],
      // pure bucketed (local mode off)
      Map("spark.graft.fixpoint.localFrontierRows" -> "0"),
      // flip local→bucketed when a round overflows 4 rows (rounds 0-2
      // local, 3+ bucketed — exercises the limit-guard fallback and the
      // mixed local+bucketed anti-join chain)
      Map("spark.graft.fixpoint.localFrontierRows" -> "4"),
      // flip via the cumulative driver cap instead
      Map("spark.graft.fixpoint.localTotalRows" -> "6"),
      // bucketed with aggressive chain compaction
      Map("spark.graft.fixpoint.localFrontierRows" -> "0",
        "spark.graft.fixpoint.compactRounds" -> "2"))
    confs.foreach { m =>
      m.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(run() == want, s"under confs $m")
      finally m.keys.foreach(spark.conf.unset)
    }
  }

  test("local mode registers no catalog tables and handles the empty seed") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val result = Fixpoint.iterate(Seq(1L).toDF("x"),
      d => d.join(edges, d("x") === edges("u")).select(col("v").as("x")))
    assert(!spark.catalog.listTables().collect().map(_.name)
      .exists(_.startsWith("graft_fix_")))
    assert(result.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // Empty seed through the local path: empty result, seed schema kept.
    val empty = Fixpoint.iterate(Seq.empty[Long].toDF("x"),
      d => d.select((col("x") + 1).as("x")))
    assert(empty.columns.toSeq == Seq("x") && empty.count() == 0)
  }

  test("reached-side anti-join is co-located: bucketed scan, no exchange above it") {
    import spark.implicits._
    // Build one frontier table through the real write path, then assert
    // the dedup join's physical plan reads it bucketed and puts NO
    // exchange (and no sort) between that scan and the join — the
    // closure side must stream through co-located pre-sorted merge
    // joins; only the candidate side may shuffle.
    val spark0 = spark
    // Build one reached table through the real write path.
    val reachedTable = Fixpoint.persistFrontier(
      Seq(1L, 2L, 3L).toDF("x").withColumn("__gfp_h", xxhash64(struct(col("x")))),
      s"gfx_test_${System.nanoTime()}", buckets = 4)
    // At real scale the reached side is too big to broadcast; pin the
    // threshold off so the test sees the at-scale (sort-merge) plan.
    val prevThresh = spark0.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = Seq(2L, 9L).toDF("x")
        .withColumn("__gfp_h", xxhash64(struct(col("x"))))
      val fresh = Fixpoint.antiReached(cand, reachedTable, Seq("x"))
      assert(fresh.drop("__gfp_h").collect().map(_.getLong(0)).toSet == Set(9L))
      val plan = fresh.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge anti join:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"reached side should be a bucketed scan:\n$plan")
      // Exactly ONE exchange and ONE sort in the whole plan — the
      // candidate side's alignment. A second of either would mean the
      // reached (closure) side was re-shuffled or re-sorted.
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(shuffles == 1, s"expected exactly 1 shuffle (candidates only), got $shuffles:\n$plan")
      val sorts = "\\+- \\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(plan).size
      assert(sorts == 1, s"expected exactly 1 sort (candidates only), got $sorts:\n$plan")
    } finally spark0.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }
}
