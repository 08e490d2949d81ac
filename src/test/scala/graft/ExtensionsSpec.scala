package graft

import graft.plans.RewriteDotProduct
import org.apache.spark.sql.functions._

/** Session-extension behavior on the posture's session: the optimizer
  * rewrite fires on the declarative dot-product idiom and preserves
  * results; native functions are SQL-callable; the custom operators
  * plan through their strategies, and queries that use them leave the
  * session as they found it.
  */
class ExtensionsSpec extends SparkSpec {

  private def declarativeDot = {
    val e = graft.ops.Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.select(
      col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (a, x) => a + x)
        .as("dot"))
  }

  test("RewriteDotProduct rewrites aggregate(zip_with(...)) into the native expression") {
    val plan = declarativeDot.queryExecution.optimizedPlan.toString
    assert(plan.contains("dot_product"), s"rewrite did not fire:\n$plan")
  }

  test("rewrite preserves values bit-for-bit") {
    val unfused = withConf(spark, "spark.sql.optimizer.excludedRules" -> RewriteDotProduct.ruleName) {
      val q = declarativeDot.orderBy("vec_id")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("dot_product"), s"reference was rewritten:\n$plan")
      q.collect()
    }
    val fused = declarativeDot.orderBy("vec_id").collect()
    assert(unfused.length == fused.length)
    unfused.zip(fused).foreach { case (u, f) =>
      assert(u.getDouble(1) == f.getDouble(1), s"vec ${u.getLong(0)}")
    }
  }

  test("native functions are SQL-callable on a posture session") {
    graft.ops.Tables.documents(spark, Sf).createOrReplaceTempView("docs_ext")
    val row = spark.sql(
      """SELECT simhash64(split(text, ' ')) AS sh,
        |  minhash_signature(split(text, ' '), 8) AS mh,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
        |  decode_byte_array(array(104L, 105L)) AS s
        |FROM docs_ext LIMIT 1""".stripMargin).head()
    assert(row.getSeq[Long](row.fieldIndex("mh")).size == 8)
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[String]("s") == "hi")
    val row2 = spark.sql(
      """SELECT sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS ic,
        |  mean_threshold_bits(array(1L, 1L, 9L, 9L), 2) AS mtb""".stripMargin).head()
    assert(row2.getAs[Int]("ic") == 2)
    // spans [1,1] and [9,9] vs mean 5: low span bit 0 clear, high span bit 1 set
    assert(row2.getAs[Long]("mtb") == 2L)
    val row3 = spark.range(1).selectExpr(
      "simhash60(array('a', 'b')) AS s60",
      "md5hex32('a') AS m32",
      "md5_lanes(id, 2L) AS ml",
      "md5_sign_vector(id, 4) AS msv").head()
    assert(!row3.isNullAt(0) && !row3.isNullAt(1))
    assert(row3.getSeq[Long](2).size == 8)
    assert(row3.getSeq[Long](3).size == 4)
    val ngrams = spark.range(1).selectExpr("word_ngrams(array('a', 'b', 'c'), 2)").collect()
    assert(ngrams.map(_.getString(0)).toSeq == Seq("a b", "b c"))
    // the calls above cover the whole registry
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == "graft.functions").map(_.name).toSet
    assert(registered == Set("dot_product", "simhash64", "simhash60", "minhash_signature",
      "decode_byte_array", "word_ngrams", "sorted_intersect_count", "mean_threshold_bits",
      "md5hex32", "md5_lanes", "md5_sign_vector"))
  }

  test("SQL functions reject a bad argument count or int argument at analysis, naming the function") {
    val bad = Seq(
      "word_ngrams(array('a', 'b'))" -> "word_ngrams(tokens, n INT) takes 2 argument(s), got 1",
      "minhash_signature(array('a', 'b'))" ->
        "minhash_signature(tokens, num_hashes INT) takes 2 argument(s), got 1",
      "mean_threshold_bits(array(1L, 2L))" ->
        "mean_threshold_bits(code_points, bits INT) takes 2 argument(s), got 1",
      "dot_product(array(1D))" -> "dot_product(a, b) takes 2 argument(s), got 1",
      "minhash_signature(array('a', 'b'), id)" ->
        "minhash_signature(tokens, num_hashes INT) argument 2 (id) must be a constant integer",
      "md5_lanes(1L, id)" -> "md5_lanes(key, groups INT) argument 2 (id) must be a constant integer",
      "simhash64(array('a'), array('b'))" -> "simhash64(tokens) takes 1 argument(s), got 2",
      "minhash_signature(array('a'), 'a')" ->
        "minhash_signature(tokens, num_hashes INT) argument 2 ('a') must be a constant integer")
    bad.foreach { case (call, message) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.range(1).selectExpr(call))
      assert(e.getMessage.contains(message), s"$call: ${e.getMessage}")
    }
  }

  test("TopKPerKey plans through the custom strategy: exec node, one exchange, no sort") {
    val df = graft.plans.TopKPerKey(
      graft.ops.Tables.orders(spark, Sf).select(col("o_custkey"), col("o_totalprice")),
      Seq("o_custkey"),
      "o_totalprice",
      2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"custom strategy did not fire:\n$plan")
    assert(!plan.contains("SortExec") && !plan.contains("+- Sort "),
      s"top-k must not sort partitions:\n$plan")
  }

  test("TopKPerKey equals the window-rank formulation (tie-insensitive projection)") {
    val orders = graft.ops.Tables.orders(spark, Sf)
      .select(col("o_custkey"), col("o_totalprice"))
    val custom = graft.plans.TopKPerKey(orders, Seq("o_custkey"), "o_totalprice", 3)
      .select(col("o_custkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val window = {
      import org.apache.spark.sql.expressions.Window
      orders
        .withColumn("rn",
          row_number().over(
            Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_totalprice"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    }
    assert(custom.length == window.length)
    custom.zip(window).foreach { case (c, w) => assert(c == w) }
  }

  test("TopKPerKey handles k larger than any group (returns everything non-null)") {
    val n = graft.ops.Tables.nation(spark, Sf)
    val out = graft.plans.TopKPerKey(n, Seq("n_regionkey"), "n_nationkey", 1000)
    assert(out.count() == n.count())
  }

  test("TopKPerKey orders buffer-backed (string) values correctly") {
    // string order values are UTF8Strings pointing into the scan's
    // reused row buffer — without a copy before heap insertion the
    // stored keys silently mutate as the iterator advances. Parquet
    // round-trip forces the columnar scan path that exhibits it.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("topk_str").toString
    val rows = (0 until 2000).map(i => (i % 7, f"s${(i * 131) % 1000}%04d", i))
    rows.toDF("k", "name", "id").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val custom = graft.plans.TopKPerKey(df, Seq("k"), "name", 3)
      .select(col("k"), col("name"))
      .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    val window = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("rn",
          row_number().over(Window.partitionBy("k").orderBy(col("name").desc)))
        .filter(col("rn") <= 3)
        .select(col("k"), col("name"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted
    }
    assert(custom.toSeq == window.toSeq)
  }

  test("TopKPerKey matches row_number's DESC NULLS LAST fill on nullable order columns") {
    import spark.implicits._
    // key 1: 2 non-null + 2 null rows, k=3 -> 2 non-null + 1 null fill;
    // key 2: all-null rows -> up to k survive, like the window form
    val df = Seq(
      (1, Some(10.0)), (1, Some(20.0)), (1, None), (1, None),
      (2, None), (2, None), (2, None), (2, None))
      .toDF("k", "v")
    val custom = graft.plans.TopKPerKey(df, Seq("k"), "v", 3)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), count(col("v")).as("n_nonnull"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted
    // window semantics: key 1 -> 3 rows (2 non-null), key 2 -> 3 null rows
    assert(custom.toSeq == Seq((1, 3L, 2L), (2, 3L, 0L)))
  }

  test("AsOfJoin skips null right keys/times and null-pads null left keys/times") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(100L), "a"),
      (Some(1L), Some(50L), "b"),
      (None, Some(10L), "null_key"),
      (Some(2L), None, "null_time"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Some(1L), Some(90L), 9.0),
      (Some(1L), None, -1.0), // null time: never a match
      (None, Some(5L), -2.0)) // null key: never a match
      .toDF("rk", "rt", "price")
    val out = graft.plans.AsOfJoin(left, right, "k", "rk", "t", "rt")
      .select(col("tag"), col("rt"), col("price"))
      .collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)))))
      .toMap
    assert(out("a") == ((Some(90L), Some(9.0)))) // latest at-or-before 100
    assert(out("b") == ((None, None)))           // 90 > 50, no match
    assert(out("null_key") == ((None, None)))
    assert(out("null_time") == ((None, None)))
  }

  test("AsOfJoin plans as co-partitioned sorted merge: exec node, 2 exchanges, sorts") {
    val df = graft.ops.Relational.q63AsofCustom(spark, Sf)
    df.collect()
    // AQE's toString prints BOTH the final and initial plans — count
    // nodes only in the final section or every node doubles
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("AsOfJoin"), s"custom exec node missing:\n${plan.take(1200)}")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 co-partitioning exchanges, got $exchanges")
    assert(plan.linesIterator.count(_.matches(".*\\bSort \\[.*")) >= 2,
      "per-partition (key, time) sorts must be planned on both sides")
  }

  test("RewriteLevenshteinThreshold: naive distance filters get the banded kernel") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // parquet round-trip: a literal LocalRelation would be folded by
    // ConvertToLocalRelation before the rewrite is observable
    val dir = java.nio.file.Files.createTempDirectory("graft-lev").toString
    Seq(
      ("kitten", "sitting"), ("flaw", "lawn"), ("abc", "abc"),
      ("abcdef", "xyzuvw"), ("spark", "sprak")).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // <= rewrites to the threshold form in the optimized plan
    val filtered = df.filter(levenshtein($"a", $"b") <= 2)
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("levenshtein(a#") && optimized.contains("Some(2)"),
      s"threshold form missing from optimized plan:\n$optimized")
    // all four comparison shapes keep their naive truth values
    val pairs = df.collect().map(r => (r.getString(0), r.getString(1)))
    def naive(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- 0 to 3) {
      val le = df.filter(levenshtein($"a", $"b") <= k).collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(le == pairs.filter { case (a, b) => naive(a, b) <= k }.toSet, s"<= $k")
      val gt = df.filter(levenshtein($"a", $"b") > k).collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(gt == pairs.filter { case (a, b) => naive(a, b) > k }.toSet, s"> $k")
      if (k >= 1) {
        val lt = df.filter(levenshtein($"a", $"b") < k).collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(lt == pairs.filter { case (a, b) => naive(a, b) < k }.toSet, s"< $k")
        val ge = df.filter(levenshtein($"a", $"b") >= k).collect().map(r => (r.getString(0), r.getString(1))).toSet
        assert(ge == pairs.filter { case (a, b) => naive(a, b) >= k }.toSet, s">= $k")
      }
    }
  }

  test("AsOfJoin edges: no-match keys, pre-history times, inclusive bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // keys: 1 has quotes, 2 has none; left times probe before/at/after
    val left = Seq((1L, 5L, "b4"), (1L, 10L, "at"), (1L, 99L, "after"), (2L, 50L, "orphan"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "q10"), (1L, 20L, "q20")).toDF("rk", "rt", "q")
    val out = graft.plans.AsOfJoin(left, right, "k", "rk", "t", "rt")
      .select(col("tag"), col("q"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      "b4" -> None,          // before any quote
      "at" -> Some("q10"),   // inclusive bound matches the equal time
      "after" -> Some("q20"),
      "orphan" -> None))     // key with no right rows at all
  }

  test("AsOfJoin equals the declarative max-below-bound formulation") {
    import org.apache.spark.sql.functions._
    val ev = graft.ops.Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("p_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("us").as("c_us"))
    val viaOp = graft.plans.AsOfJoin(p, c, "user_id", "c_user", "p_us", "c_us")
      .select(col("purchase_id"), col("c_us"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val viaAgg = p
      .join(c, col("user_id") === col("c_user") && col("c_us") <= col("p_us"), "left")
      .groupBy(col("purchase_id"))
      .agg(max(col("c_us")).as("c_us"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(viaOp == viaAgg)
  }

  test("the spec session carries every GraftSession.posture pair") {
    GraftSession.posture.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k: posture sets $v, session has ${spark.conf.getOption(k)}")
    }
  }

  test("q44 and q63 leave the session's rules, strategies and functions as they found them") {
    def footprint = {
      val st = spark.sessionState
      (st.optimizer.batches.flatMap(_.rules).groupBy(_.ruleName).view.mapValues(_.size).toMap,
        st.planner.strategies.size,
        (st.experimentalMethods.extraOptimizations, st.experimentalMethods.extraStrategies),
        spark.catalog.listFunctions().count())
    }
    val before = footprint
    Seq("q44_custom_topk", "q63_asof_custom").foreach(q => SparkEntry.queries(q)(spark, Sf).collect())
    assert(footprint == before)
    assert(before._3 == ((Nil, Nil)), "rules or strategies were registered after the session was built")
  }
}
