package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.graft.*` conf reader: each key reads its default when unset,
  * parses its valid values, and rejects anything else with a message that
  * names the key and the value — no silent fallback to the default.
  */
class GraftConfSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import GraftConf._

  /** (key, default, accepted value → parsed, rejected values). */
  private val table: Seq[(Key[_], Any, Seq[(String, Any)], Seq[String])] = Seq(
    (DuckdbDescribe, false, Seq("TRUE" -> true, "false" -> false), Seq("yes")),
    (TableCache, true, Seq("TRUE" -> true, "false" -> false, "FALSE" -> false), Seq("yes")),
    (DedupCache, true, Seq("TRUE" -> true, "false" -> false, "FALSE" -> false), Seq("yes")),
    (ScratchDir, None, Seq("/tmp/graft_x" -> Some("/tmp/graft_x")), Seq("")),
    (TempTableLocalRows, 10000L, Seq("0" -> 0L, "5" -> 5L), Seq("-1", "abc")),
    (StreamStateParts, Some(8), Seq("auto" -> None, "16" -> Some(16)), Seq("0", "x")),
    (IvfBroadcastCodebookK, 1024, Seq("1" -> 1), Seq("-1", "abc")),
    (TwoLevelAssignK, 8192, Seq("0" -> 0), Seq("-1", "abc")),
    (TwoLevelAssignNProbe, 8, Seq("1" -> 1), Seq("0", "abc")),
    (KmeansDistributedK, 1024, Seq("4" -> 4), Seq("-1", "abc")),
    (FixpointTargetBucketBytes, 128L << 20, Seq("1" -> 1L), Seq("0", "abc")),
    (FixpointLocalFrontierRows, 10000, Seq("0" -> 0), Seq("-1", "abc")),
    (FixpointLocalTotalRows, 200000L, Seq("6" -> 6L), Seq("-1", "abc")),
    (FixpointCompactRounds, 8, Seq("2" -> 2), Seq("0", "abc")),
    (ArchiveEvictGraceSec, 900L, Seq("0" -> 0L), Seq("-1", "abc")))

  test("every spark.graft key is declared once and covered here") {
    assert(keys.size == 15)
    assert(keys.map(_.name).distinct.size == keys.size)
    assert(table.map(_._1.name).toSet == keys.map(_.name).toSet)
  }

  test("each key reads its default, parses valid values, rejects the rest by name") {
    table.foreach { case (k, default, good, bad) =>
      spark.conf.unset(k.name)
      try {
        assert(k(spark) == default, s"${k.name} unset")
        good.foreach { case (v, want) =>
          spark.conf.set(k.name, v)
          assert(k(spark) == want, s"${k.name}=$v")
        }
        bad.foreach { v =>
          spark.conf.set(k.name, v)
          val e = intercept[IllegalArgumentException](k(spark))
          assert(e.getMessage.contains(k.name) && e.getMessage.contains(s"'$v'"),
            e.getMessage)
        }
      } finally spark.conf.unset(k.name)
    }
  }

  test("engine read sites fail on a bad value instead of using the default") {
    val key = TempTableLocalRows.name
    spark.conf.set(key, "abc")
    try {
      val e = intercept[IllegalArgumentException](
        spark.sql("CREATE OR REPLACE TEMP TABLE graft_conf_t AS SELECT 1 AS x"))
      assert(e.getMessage.contains(key), e.getMessage)
    } finally spark.conf.unset(key)
    spark.sql("CREATE OR REPLACE TEMP TABLE graft_conf_t AS SELECT 1 AS x")
    // Upper case is on, like Spark's own boolean confs.
    spark.conf.set(DuckdbDescribe.name, "TRUE")
    try assert(spark.sql("DESCRIBE graft_conf_t").columns.head == "column_name")
    finally spark.conf.unset(DuckdbDescribe.name)
    spark.sql("DROP TABLE graft_conf_t")
  }

  test("a child session inherits the builder's UTC session time zone") {
    assert(spark.newSession().conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
