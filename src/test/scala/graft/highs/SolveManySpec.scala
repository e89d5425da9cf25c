package graft.highs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Determinism of the distributed many-model path: the same relational
  * input must produce identical rows — including `variable_index` — across
  * partitionings (the round-1 bug: group rows arrived in shuffle-fetch
  * order and indices drifted).
  */
class SolveManySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("solveMany output is identical across repartition(1) and repartition(32)") {
    import spark.implicits._
    // 40 models x 3 variables each, plus one constraint per model.
    val vars = (0 until 40).flatMap { m =>
      Seq(
        (s"m$m", "alpha", 0.0, 10.0, 1.0, "continuous"),
        (s"m$m", "beta", 0.0, 10.0, 2.0, "continuous"),
        (s"m$m", "gamma", 1.0, 10.0, 3.0, "continuous"))
    }.toDF("model_name", "variable_name", "lower_bound", "upper_bound",
      "obj_coefficient", "var_type")
    val cons = (0 until 40).map(m => (s"m$m", "c1", 3.0, 1e30))
      .toDF("model_name", "constraint_name", "lower_bound", "upper_bound")
    val coefs = (0 until 40).flatMap { m =>
      Seq((s"m$m", "c1", "alpha", 1.0), (s"m$m", "c1", "beta", 1.0),
        (s"m$m", "c1", "gamma", 1.0))
    }.toDF("model_name", "constraint_name", "variable_name", "coefficient")

    def run(parts: Int): Seq[HighsFunctions.SolvedVar] =
      HighsFunctions.solveMany(spark,
          vars.repartition(parts), cons.repartition(parts), coefs.repartition(parts))
        .collect().toSeq.sortBy(v => (v.model_name, v.variable_name))

    val one = run(1)
    val many = run(32)
    assert(one == many)
    assert(one.nonEmpty)
    // Name-sorted index contract: alpha_0, beta_1, gamma_2 in every model.
    one.groupBy(_.model_name).foreach { case (_, vs) =>
      assert(vs.map(_.variable_index).sorted == Seq("alpha_0", "beta_1", "gamma_2"))
    }
    // Model economics: min alpha+2beta+3gamma, alpha+beta+gamma>=3,
    // gamma>=1 -> alpha=2, beta=0, gamma=1.
    one.filter(_.variable_name == "alpha").foreach(v => assert(v.solution_value == 2.0))
    one.filter(_.variable_name == "gamma").foreach(v => assert(v.solution_value == 1.0))
    one.foreach(v => assert(v.status == "Optimal"))
  }

  test("highs_solve_batch rows are identical across shuffle parallelism") {
    def run(parts: String): Seq[org.apache.spark.sql.Row] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try graft.SparkEntry.queries("highs_solve_batch")(spark, SparkTestSession.sfDir)
        .collect().toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = run("1")
    val b = run("16")
    assert(a == b)
    assert(a.size >= 400) // 200 models x 2 vars at sf0.001
  }

  test("solve result is cached per model revision and invalidated on mutation") {
    ModelRegistry.remove("cache_m")
    val info = ModelRegistry.getOrCreate("cache_m")
    info.addVariable("x", 0.0, 10.0, 1.0, "continuous")
    info.addConstraint("c", -1e30, 10.0)
    info.setCoefficient("c", "x", 1.0)
    val first = HighsFunctions.solveRows("cache_m")
    assert(first.map(_.getString(4)) == Seq("Optimal"))
    // Same revision -> identical rows (served from cache).
    assert(HighsFunctions.solveRows("cache_m") == first)
    // Mutation invalidates: new unbounded-below variable flips the status.
    info.addVariable("z", -1e30, 1e30, -1.0, "continuous")
    val second = HighsFunctions.solveRows("cache_m")
    assert(second.length == 2)
    assert(second.map(_.getString(4)).distinct == Seq("Unbounded"))
    ModelRegistry.remove("cache_m")
  }

  test("oversized models fail fast with an ERROR row instead of spinning") {
    ModelRegistry.remove("huge")
    val info = ModelRegistry.getOrCreate("huge")
    (0 to HighsFunctions.MaxModelDim)
      .foreach(i => info.addVariable(s"v$i", 0.0, 1.0, 1.0, "continuous"))
    val rows = HighsFunctions.solveRows("huge")
    assert(rows.length == 1)
    assert(rows.head.getString(4).startsWith("ERROR: Model 'huge' too large"))
    ModelRegistry.remove("huge")
  }

  test("solveMany surfaces a broken model as one error row, others solve") {
    import spark.implicits._
    val vars = Seq(
      ("good", "x", 0.0, 5.0, 1.0, "continuous"),
      ("bad", "y", 0.0, 5.0, 1.0, "continuous"))
      .toDF("model_name", "variable_name", "lower_bound", "upper_bound",
        "obj_coefficient", "var_type")
    val cons = Seq(("good", "c", -1e30, 5.0), ("bad", "c", -1e30, 5.0))
      .toDF("model_name", "constraint_name", "lower_bound", "upper_bound")
    val coefs = Seq(("good", "c", "x", 1.0), ("bad", "c", "zz", 1.0))
      .toDF("model_name", "constraint_name", "variable_name", "coefficient")
    val out = HighsFunctions.solveMany(spark, vars, cons, coefs)
      .collect().toSeq.sortBy(_.model_name)
    val bad = out.filter(_.model_name == "bad")
    assert(bad.length == 1 && bad.head.status.startsWith("ERROR:"))
    val good = out.filter(_.model_name == "good")
    assert(good.map(_.status) == Seq("Optimal"))
  }
}
