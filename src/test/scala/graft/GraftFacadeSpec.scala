package graft

class GraftFacadeSpec extends SparkSpec {

  test("withConfs restores a set key and unsets an unset one, also when the body throws") {
    // the unset key has a built-in default, so "unset" is checked on
    // the explicitly set map (`getOption` would report the default)
    val setKey = "graft.spec.withConfs.set"
    val unsetKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevUnset = spark.conf.getAll.get(unsetKey)
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    def restored(): Unit = {
      assert(spark.conf.getOption(setKey).contains("before"))
      assert(!spark.conf.getAll.contains(unsetKey))
    }
    try {
      val inside = Graft.withConfs(spark, setKey -> "in", unsetKey -> "false") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(inside == (("in", "false")))
      restored()
      val err = intercept[IllegalStateException] {
        Graft.withConfs(spark, setKey -> "in", unsetKey -> "false") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(err.getMessage == "body failed")
      restored()
    } finally {
      spark.conf.unset(setKey)
      prevUnset.foreach(spark.conf.set(unsetKey, _))
    }
  }

  test("registerViews exposes the SQL surface with oracle-compatible names") {
    Graft.configure(spark)
    Graft.registerViews(spark, sf)
    val r = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin).collect()
    assert(r.length == 3 && r.map(_.getLong(1)).sum == 6000)
  }

  test("graft SQL functions are callable after configure") {
    Graft.configure(spark)
    val h = spark.sql("SELECT graft_rolling_hash('abc') AS h").head().getLong(0)
    assert(h == "abc".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L))
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(d == 11.0)
    // NFC normalization: decomposed e + U+0301 composes to U+00E9
    val nfc = spark.sql("SELECT graft_nfc('cafe\u0301') AS s").head().getString(0)
    assert(nfc == "caf\u00e9")
    // aggregates: simhash of a single token {h=3, w=1} sets exactly the
    // bits of 3; misra_gries over a skewed stream returns the hot key
    val sh = spark.sql(
      "SELECT graft_simhash(h, w) AS s FROM VALUES (3L, 1L) t(h, w)").head().getLong(0)
    assert(sh == 3L)
    val mg = spark.sql(
      """SELECT graft_misra_gries(x, 2) AS c
        |FROM VALUES (7L), (7L), (7L), (1L), (2L), (3L) t(x)""".stripMargin)
      .head().getSeq[Long](0)
    assert(mg.contains(7L))
    // wordpiece: default vocab greedy match; explicit vocab literal
    val wp = spark.sql("SELECT graft_wordpiece('tables') AS p").head().getSeq[String](0)
    assert(wp == Seq("table", "s"))
    val wp2 = spark.sql(
      "SELECT graft_wordpiece('abcab', array('ab', 'c')) AS p").head().getSeq[String](0)
    assert(wp2 == Seq("ab", "c", "ab"))
    // non-foldable vocab -> typed analysis error, not a runtime NPE
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_wordpiece('a', array(rand()::string)) AS p").collect()
    }
    assert(err.getCondition == "NON_FOLDABLE_ARGUMENT")
    // kmv: bottom-2 distinct values, ascending; duplicate 5 collapses
    val kv = spark.sql(
      """SELECT graft_kmv(x, 2) AS m
        |FROM VALUES (9L), (5L), (5L), (12L), (7L) t(x)""".stripMargin)
      .head().getSeq[Long](0)
    assert(kv == Seq(5L, 7L))
    val kerr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_kmv(x, 0) AS m FROM VALUES (1L) t(x)").collect()
    }
    assert(kerr.getCondition == "INVALID_NUMERIC_LITERAL_RANGE")
  }

  test("graft_misra_gries k typing: INT and BIGINT literals work, bad k raises typed errors") {
    Graft.configure(spark)
    val src = "FROM VALUES (7L), (7L), (7L), (1L), (2L), (3L) t(x)"
    // BIGINT literal (and constant arithmetic) — the round-4 ADVICE nit:
    // this once hit an opaque cast error instead of resolving
    val big = spark.sql(s"SELECT graft_misra_gries(x, CAST(2 AS BIGINT)) AS c $src")
      .head().getSeq[Long](0)
    assert(big.contains(7L))
    val arith = spark.sql(s"SELECT graft_misra_gries(x, 1 + 1) AS c $src")
      .head().getSeq[Long](0)
    assert(arith.contains(7L))
    // non-foldable k -> typed analysis error, not a ClassCastException
    val nf = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT graft_misra_gries(x, CAST(rand() * 4 AS INT)) AS c $src").collect()
    }
    assert(nf.getCondition == "NON_FOLDABLE_ARGUMENT", nf.getMessage)
    // out-of-range k -> typed range error
    val oor = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT graft_misra_gries(x, 0) AS c $src").collect()
    }
    assert(oor.getCondition == "INVALID_NUMERIC_LITERAL_RANGE", oor.getMessage)
  }

  test("query lookup returns runnable operators") {
    assert(Graft.query("join_shuffle")(spark, sf).count() > 0)
  }

  test("SPARK_GRAFT_CONF parser: key=value entries, '=' inside values, malformed entry named") {
    assert(Graft.parseConf(" a.b = 1 ;;c=x=y; ") == Map("a.b" -> "1", "c" -> "x=y"))
    assert(Graft.parseConf("") == Map.empty)
    for (bad <- Seq("a=1;spark.graft.x", "=1")) {
      val e = intercept[IllegalArgumentException](Graft.parseConf(bad))
      assert(e.getMessage.contains(s"'${bad.split(";").last}'"), e.getMessage)
    }
  }

  test("Graft.local carries the bench settings; caller conf overrides them") {
    val s = Graft.settings(3, Map("spark.app.name" -> "x"))
    assert(s("spark.master") == "local[3]" && s("spark.sql.shuffle.partitions") == "3")
    assert(s("spark.app.name") == "x")
    // the suites' own session comes from the same factory: Verify and
    // Bench now see the identical configuration
    for ((k, v) <- Seq(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.ui.enabled" -> "false",
        "spark.sql.ui.retainedExecutions" -> "16",
        "spark.ui.retainedJobs" -> "100",
        "spark.ui.retainedStages" -> "100",
        "spark.ui.retainedTasks" -> "1000",
        "spark.sql.streaming.minBatchesToRetain" -> "2")) {
      assert(s(k) == v, k)
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("Explain's plan dump writes one formatted plan per audited query") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plans").toFile
    val flagged = Explain.audit(spark, sf,
      SparkEntry.registry.filter(_.name == "join_shuffle"), Some(dir.getPath))
    assert(flagged == 0)
    assert(dir.list().toSeq == Seq("join_shuffle.txt"))
    val plan = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "join_shuffle.txt").toPath), "UTF-8")
    assert(plan.contains("Physical Plan"), plan.take(200))
  }
}
