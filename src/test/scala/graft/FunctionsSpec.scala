package graft

import graft.functions.DecodeLongArrayToUtf8.decodeByteArray
import graft.functions.SimHash64.simhash64
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Native Catalyst expressions: byte-array decode and SimHash64.
  * Exercised through real plans so both interpreted eval and
  * whole-stage codegen paths are covered.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("decode_byte_array round-trips arbitrary unicode strings (property)") {
    // string -> UTF-8 bytes -> Seq[Long] -> decode == identity
    val gen = Gen.listOfN(20, Gen.asciiPrintableChar).map(_.mkString) flatMap { ascii =>
      Gen.oneOf(ascii, ascii + "é☕𝄞", "Olá " + ascii)
    }
    checkProp(Prop.forAllNoShrink(Gen.listOfN(8, gen)) { strs =>
      val rows = strs.map(s => Tuple1(s.getBytes("UTF-8").map(b => (b & 0xFF).toLong).toSeq))
      val out = rows.toDF("bs").select(decodeByteArray($"bs")).as[String].collect()
      out.toSeq == strs
    })
  }

  test("decode_byte_array handles double-typed byte arrays") {
    val bytes = "abc".getBytes("UTF-8").map(b => (b & 0xFF).toDouble).toSeq
    val out = Seq(Tuple1(bytes)).toDF("bs").select(decodeByteArray($"bs")).as[String].head()
    assert(out == "abc")
  }

  test("decode_byte_array: null array yields null") {
    val out = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("bs")
      .select(decodeByteArray($"bs")).collect().head
    assert(out.isNullAt(0))
  }

  test("simhash64: identical token arrays hash identically") {
    val df = Seq(
      ("a", Seq("the", "quick", "brown", "fox")),
      ("b", Seq("the", "quick", "brown", "fox"))
    ).toDF("id", "toks").select(simhash64($"toks").as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1))
  }

  test("simhash64: near-identical docs are close in Hamming distance, unrelated far") {
    val base = (1 to 60).map(i => s"tok$i")
    val near = base.updated(5, "CHANGED")
    val far = (1 to 60).map(i => s"other$i")
    val hs = Seq(Tuple1(base), Tuple1(near), Tuple1(far))
      .toDF("toks").select(simhash64($"toks")).as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) <= 12, s"near pair hamming ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(2)) > 12, s"far pair hamming ${ham(hs(0), hs(2))}")
  }

  test("simhash60: single-token sketch equals the hand-computed portable hash bits") {
    // with one token every bit's vote is that token's signature bit, so
    // the sketch must be exactly (h1 low 30 bits) | (h2 low 30 bits << 30)
    // with h1/h2 the documented polynomial CODE-POINT folds — the unit a
    // SQL oracle's per-character ord() folds over, so the non-ASCII
    // tokens here (2-byte é, 3-byte 日, 4-byte surrogate-pair 𝕏) pin
    // that the expression does not fall back to UTF-8 bytes
    def poly(s: String, base: Long, p: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((a, cp) => (a * base + cp) % p)
    for (tok <- Seq("hello", "x", "the-quick_brown", "a1b2c3", "héllo", "日本語", "a𝕏b")) {
      val expected =
        (poly(tok, 131, 1000000007L) & ((1L << 30) - 1)) |
          ((poly(tok, 137, 998244353L) & ((1L << 30) - 1)) << 30)
      val got = Seq(Tuple1(Seq(tok))).toDF("toks")
        .select(graft.functions.SimHash60Portable.simhash60($"toks"))
        .as[Long].head()
      assert(got == expected, s"token '$tok': got $got expected $expected")
    }
  }

  test("simhash60: near-identical docs close in Hamming, unrelated far; nulls as simhash64") {
    val base = (1 to 60).map(i => s"tok$i")
    val near = base.updated(5, "CHANGED")
    val far = (1 to 60).map(i => s"other$i")
    val hs = Seq(Tuple1(base), Tuple1(near), Tuple1(far))
      .toDF("toks")
      .select(graft.functions.SimHash60Portable.simhash60($"toks"))
      .as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) <= 12, s"near pair hamming ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(2)) > 12, s"far pair hamming ${ham(hs(0), hs(2))}")
    val nulls = Seq(
      (1, Some(Seq(Some("a"), None, Some("b")))),
      (2, Some(Seq(Some("a"), Some("b")))),
      (3, None: Option[Seq[Option[String]]])
    ).toDF("id", "toks")
      .select($"id",
        graft.functions.SimHash60Portable.simhash60($"toks".cast("array<string>")).as("h"))
      .orderBy("id").collect()
    assert(nulls(0).getLong(1) == nulls(1).getLong(1), "null tokens must be skipped")
    assert(nulls(2).isNullAt(1))
  }

  test("simhash64: null array yields null; null tokens skipped") {
    val df = Seq(
      (1, Some(Seq(Some("a"), None, Some("b")))),
      (2, Some(Seq(Some("a"), Some("b")))),
      (3, None: Option[Seq[Option[String]]])
    ).toDF("id", "toks")
      .select($"id", simhash64($"toks".cast("array<string>")).as("h"))
      .orderBy("id")
      .collect()
    assert(df(0).getLong(1) == df(1).getLong(1), "null tokens must be skipped")
    assert(df(2).isNullAt(1))
  }

  test("dot_product and squared_distance: interpreted and generated folds equal the zip_with composition, nulls and edges included") {
    val waves: Seq[(Long, Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = (0 until 50).map { k =>
      (k.toLong,
        Some((0 until 32).map(i => Some(math.sin(k * 32 + i + 1.0)))),
        Some((0 until 32).map(i => Some(math.cos(k * 32 + i + 1.0)))))
    }
    val edges: Seq[(Long, Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = Seq(
      (100L, None, Some(Seq(Some(1.0)))), // null array
      (101L, Some(Seq(Some(1.0))), None),
      (102L, Some(Seq(Some(1.5), None, Some(3.0))), Some(Seq(Some(1.0), Some(2.0), Some(3.0)))), // null element
      (103L, Some(Seq(Some(1.5), Some(2.0))), Some(Seq(Some(1.0), None))),
      (104L, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(1.0)))), // length mismatch
      (105L, Some(Nil), Some(Nil))) // empty arrays
    // repartitioned so the projection runs in a task: over a bare local
    // relation the optimizer would evaluate it, interpreted, at planning
    val df = (waves ++ edges).toDF("id", "a", "b").repartition(2)
    val kernels = Seq(
      graft.functions.VectorOps.dotProduct(col("a"), col("b")),
      graft.functions.VectorOps.squaredDistance(col("a"), col("b")))
    val references = Seq(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x),
      aggregate(
        zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0),
        (acc, d) => acc + d))
    def run(folds: Seq[Column], conf: (String, String)*): (Map[Long, Seq[Option[Double]]], String) =
      withConf(spark, conf: _*) {
        val q = df.select(col("id") +: folds: _*)
        val rows = q.collect()
          .map(r => r.getLong(0) -> folds.indices.map(i => Option(r.get(i + 1)).map(_.asInstanceOf[Double])))
          .toMap
        (rows, q.queryExecution.optimizedPlan.toString)
      }
    val modes = Seq(
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"),
      Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true"))
    // the composition runs without RewriteDotProduct, which would fuse it
    // into the dot_product kernel under test
    val unfused = "spark.sql.optimizer.excludedRules" -> graft.plans.RewriteDotProduct.ruleName
    val Seq(interpreted, generated) = modes.map(m => run(kernels, m: _*)._1)
    val Seq(refInterpreted, refGenerated) = modes.map { m =>
      val (rows, plan) = run(references, m :+ unfused: _*)
      assert(!plan.contains("dot_product"), s"reference was rewritten:\n$plan")
      rows
    }
    assert(interpreted.size == 56)
    assert(interpreted == generated)
    assert(refInterpreted == refGenerated)
    interpreted.foreach { case (id, Seq(dot, sq)) =>
      val Seq(dotRef, sqRef) = refInterpreted(id)
      assert(dot == dotRef, s"dot_product, id $id")
      assert(sq == sqRef, s"squared_distance, id $id")
      assert(dot.isEmpty == (id >= 100 && id <= 104), s"null result, id $id")
    }
    assert(interpreted(105L) == Seq(Some(0.0), Some(0.0)))
    assert(refInterpreted(105L) == Seq(Some(0.0), Some(0.0)))
  }

  test("every custom expression gives the same rows interpreted and generated, edge rows included") {
    import graft.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("id", LongType, nullable = false)
      .add("toks", ArrayType(StringType))
      .add("longs", ArrayType(LongType))
      .add("sorted", ArrayType(LongType))
      .add("a", ArrayType(DoubleType))
      .add("b", ArrayType(DoubleType))
      .add("text", StringType)
      .add("key", LongType)
      .add("n", IntegerType)
    val utf8 = "Olá ☕ 𝄞".getBytes("UTF-8").map(b => (b & 0xFF).toLong).toSeq
    val edges = Seq(
      Row(0L, null, null, null, null, null, null, null, null), // null input
      Row(1L, Nil, Nil, Nil, Nil, Nil, "", 0L, 0), // empty
      Row(2L, Seq("a", null, "b"), Seq(1L, null, 3L), Seq(1L, 3L), // null element
        Seq(1.0, null, 2.0), Seq(1.0, 2.0, 3.0), "a b", -1L, 3),
      Row(3L, Seq("the", "quick", "brown", "fox"), Seq(5L, 1L, 9L, 9L, 2L, 7L, 3L), // length mismatch
        Seq(2L, 9L), Seq(1.0, 2.0), Seq(1.0), "the quick brown fox", Long.MaxValue, 5),
      Row(4L, Seq("héllo", "日本語", "a𝕏b", ""), utf8, Seq(-3L, 1L, 5L), // non-ASCII
        Seq(0.5, -1.5, 2.5), Seq(2.0, 0.25, -1.0), "Olá ☕ 𝄞 日本", Long.MinValue, 16),
      Row(5L, Seq("x"), Seq(0L, 0L, 0L), Seq(0L), // NaN, ±0.0, overflow to ±Infinity
        Seq(Double.NaN, -0.0, 1e300), Seq(1.0, 0.0, 1e300), "NaN", 42L, 64),
      Row(6L, Seq("-0.0"), Seq(255L, 256L), Seq(255L, 256L),
        Seq(-0.0, 0.0, -1e300), Seq(0.0, -0.0, 1e300), "-0.0", 7L, null))
    // repartitioned so the projection runs in a task: over a bare local
    // relation the optimizer would evaluate it, interpreted, at planning
    val df = spark.createDataFrame(java.util.Arrays.asList(edges: _*), schema).repartition(2)
    val planes = Array(
      Array(Array(1.0, -1.0, 0.5), Array(-0.25, 1.0, 1.0)),
      Array(Array(0.0, 0.0, -1.0), Array(1.0, 1.0, 1.0)))
    val scalars = Seq(
      VectorOps.dotProduct(col("a"), col("b")),
      VectorOps.squaredDistance(col("a"), col("b")),
      SimHash64.simhash64(col("toks")),
      SimHash60Portable.simhash60(col("toks")),
      MinHashSignature.minhashSignature(col("toks"), 4),
      decodeByteArray(col("longs")),
      decodeByteArray(col("a")),
      SortedArrayIntersectCount.sortedIntersectCount(col("sorted"), col("longs")),
      MeanThresholdBits.meanThresholdBits(col("longs"), 3),
      MeanThresholdBits.meanThresholdBitsOfString(col("text"), 3, 1),
      Md5Hex32.md5hex32(col("text")),
      Md5Lanes.md5Lanes(col("key"), 2),
      Md5SignVector.md5SignVector(col("key"), col("n")),
      CdcCutPoints.cdcCutPoints(col("text"), 3, 2),
      RollingFingerprints.rollingFingerprints(col("toks"), 2),
      HyperplaneBuckets.buckets(col("a"), planes),
      WordNgramHashes.wordNgramHashes(col("toks"), 2),
      MinHashFromHashes.minhashFromHashes(col("longs"), 4))
    val generator = WordNgrams.wordNgrams(col("toks"), 2)
    val names = (scalars :+ generator).map(c => GraftShim.expression(c).prettyName).toSet
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == "graft.functions").map(_.name).toSet
    assert(registered.nonEmpty)
    assert(registered.subsetOf(names), s"no edge-row case for ${registered -- names}")
    assert(names.size == 18)

    // each row as id -> one string per column; Double.toString keeps -0.0 and NaN apart from 0.0
    def run(conf: (String, String)*): (Map[Long, Seq[String]], Seq[String]) =
      withConf(spark, conf: _*) {
        val cols = scalars.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
        val rows = df.select(col("id") +: cols: _*).collect()
          .map(r => r.getLong(0) -> (1 to scalars.size).map(i => String.valueOf(r.get(i))))
          .toMap
        val generated = df.select(col("id"), generator).collect().map(_.toString).sorted.toSeq
        (rows, generated)
      }
    val (interpreted, interpretedNgrams) =
      run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    val (generated, generatedNgrams) =
      run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true")
    assert(interpreted.keySet == edges.map(_.getLong(0)).toSet)
    for ((id, values) <- interpreted; ((v, g), i) <- values.zip(generated(id)).zipWithIndex)
      assert(v == g, s"${GraftShim.expression(scalars(i)).prettyName} (column $i), row $id")
    assert(interpretedNgrams.nonEmpty && interpretedNgrams == generatedNgrams)
    // the edges reach the null and NaN arms: dot_product is null on
    // rows 0, 2 and 3 and NaN on row 5
    assert(Seq(0L, 2L, 3L).map(interpreted(_).head) == Seq("null", "null", "null"))
    assert(interpreted(5L).head == "NaN")
  }
}

/** Hashed-shingle front-end: set semantics must match the string path. */
class WordNgramHashesSpec extends SparkSpec {
  import graft.functions.WordNgramHashes.wordNgramHashes
  import graft.functions.MinHashFromHashes.minhashFromHashes
  import spark.implicits._

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("hash-set size equals distinct string-shingle count; output sorted ascending") {
    val df = Seq(
      Tuple1(Seq("a", "b", "a", "b", "c")), // 2-grams: "a b","b a","a b","b c" → 3 distinct
      Tuple1(Seq("x", "y")),
      Tuple1(Seq("only"))                    // fewer than n → empty
    ).toDF("toks").select(wordNgramHashes($"toks", 2).as("hs"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0).size == 3)
    assert(rows(0) == rows(0).sorted)
    assert(rows(1).size == 1)
    assert(rows(2).isEmpty)
  }

  test("identical token arrays hash identically; one-token change is a small set delta") {
    val base = (1 to 50).map(i => s"t$i")
    val near = base.updated(25, "CHANGED")
    val rows = Seq(Tuple1(base), Tuple1(base), Tuple1(near))
      .toDF("toks").select(wordNgramHashes($"toks", 3).as("hs"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(rows(0) == rows(1))
    val overlap = (rows(0) & rows(2)).size.toDouble / rows(0).size
    assert(overlap > 0.9 && overlap < 1.0, s"overlap $overlap")
  }

  test("minhash_from_hashes: k minima, equal sets give equal signatures") {
    val rows = Seq(
      Tuple1(Seq("a", "b", "c", "d")),
      Tuple1(Seq("a", "b", "c", "d"))
    ).toDF("toks")
      .select(minhashFromHashes(wordNgramHashes($"toks", 2), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(rows(0).size == 16)
    assert(rows(0) == rows(1))
  }

  test("word_ngrams generator equals the builtin slice/join pipeline (property)") {
    import graft.functions.WordNgrams.wordNgrams
    val tokGen = Gen.listOfN(12, Gen.oneOf("alpha", "beta", "g", "dd", "e1"))
      .flatMap(full => Gen.choose(0, 12).map(full.take))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(6, tokGen), Gen.choose(1, 5)) { (docs, n) =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
      val viaGen = df.select($"id", wordNgrams($"toks", n).as("sh"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val viaBuiltin = df
        .filter(size($"toks") >= n) // sequence(1, 0) would descend
        .select($"id", explode(transform(
          sequence(lit(1), size($"toks") - (n - 1)),
          i => array_join(slice($"toks", i, lit(n)), " "))).as("sh"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      viaGen == viaBuiltin
    })
  }

  test("word_ngrams: too-short and null arrays generate zero rows; null tokens render empty") {
    import graft.functions.WordNgrams.wordNgrams
    val df = Seq(
      (1L, Option(Seq("a", "b"))),
      (2L, Option.empty[Seq[String]]),
      (3L, Option(Seq("x", null, "z")))
    ).toDF("id", "toks")
    val out = df.select($"id", wordNgrams($"toks", 3).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((3L, "x  z")))
  }

  test("cdc_cut_points sliding kernel equals the declarative window fold (property)") {
    import graft.functions.CdcCutPoints.cdcCutPoints
    val P = 1000000007L
    val w = 8
    val txtGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'z') :+ ' ')).map(_.mkString))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(8, txtGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .filter(length($"text") >= w)
      val viaKernel = df.select($"id", cdcCutPoints($"text", w, 32).as("cuts"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val viaFold = df
        .select($"id", $"text", explode(array(split($"text", ""))).as("cs"))
        .select($"id", $"text",
          filter(
            transform(
              transform(sequence(lit(1), size($"cs") - (w - 1)),
                i => aggregate(slice($"cs", i, lit(w)), lit(0L),
                  (h, c) => (h * 131L + ascii(c)) % P)),
              (h, i0) => when(h % 32 === 0 && i0 + 1 + w <= length($"text"), i0 + 1 + w)
                .otherwise(-1)),
            x => x =!= -1).as("cuts"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
      viaKernel == viaFold
    })
  }

  test("rolling_fingerprints kernel equals the declarative two-level fold (property)") {
    import graft.functions.RollingFingerprints.rollingFingerprints
    val P = 1000000007L
    val w = 4
    val tokGen = Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a' to 'z')).map(_.mkString))
    val docGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tokGen))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(8, docGen)) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "toks")
      val viaKernel = df.select($"id", rollingFingerprints($"toks", w).as("wh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val viaFold = df
        .select($"id",
          transform($"toks",
            t => aggregate(split(t, ""), lit(0L), (h, c) => (h * 131L + ascii(c)) % P)).as("whs"))
        .select($"id",
          when(size($"whs") >= w,
            transform(sequence(lit(1), size($"whs") - (w - 1)),
              i => aggregate(slice($"whs", i, lit(w)), lit(0L),
                (h, x) => (h * 1000003L + x) % P)))
            .otherwise(array().cast("array<bigint>")).as("wh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      viaKernel == viaFold
    })
  }

  test("rolling_fingerprints: short and null inputs") {
    import graft.functions.RollingFingerprints.rollingFingerprints
    val df = Seq(
      (1L, Some(Seq("a", "b", "c"))), // shorter than w=4 -> empty
      (2L, None) // null array -> null
    ).toDF("id", "toks")
    val out = df.select($"id", rollingFingerprints($"toks", 4).as("wh"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).get.asInstanceOf[scala.collection.Seq[Long]].isEmpty)
    assert(out(2L).isEmpty)
  }

  test("hyperplane_buckets equals the declarative per-plane composition") {
    import org.apache.spark.sql.functions.{col, transform, struct}
    val planes = graft.ops.Similarity.lcgPlanes(12345L, tables = 5, planes = 7, dim = 16)
    val vecs = (0 until 40).map { k =>
      (k.toLong, (0 until 16).map(i => math.sin(k * 16 + i + 1.0)).toArray)
    }
    val df = vecs.toDF("id", "v")
    val fused = df
      .select(col("id"), graft.functions.HyperplaneBuckets.buckets(col("v"), planes).as("hb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
      .toMap
    // reference: the original composition (one dot tree per plane)
    val composed = df
      .select(
        col("id"),
        org.apache.spark.sql.functions.array(planes.indices.map(t =>
          graft.ops.Similarity.bucketColForSpec(col("v"), planes(t))): _*).as("hb"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
      .toMap
    assert(fused == composed)
  }

  test("hyperplane_buckets null/mismatch semantics") {
    import org.apache.spark.sql.functions.col
    val planes = graft.ops.Similarity.lcgPlanes(7L, tables = 2, planes = 3, dim = 4)
    val df = Seq(
      (1L, Some(Seq(1.0, 2.0, 3.0, 4.0))),
      (2L, Some(Seq(1.0, 2.0))), // wrong dim -> null
      (3L, None) // null vector -> null
    ).toDF("id", "v")
    val out = df
      .select(col("id"), graft.functions.HyperplaneBuckets.buckets(col("v"), planes).as("hb"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)))
      .toMap
    assert(out(1L).nonEmpty && out(2L).isEmpty && out(3L).isEmpty)
  }

  test("squared_distance equals the aggregate(zip_with) composition bit-for-bit") {
    import org.apache.spark.sql.functions._
    val rows = (0 until 50).map { k =>
      (k.toLong,
        (0 until 32).map(i => math.sin(k * 32 + i + 1.0)),
        (0 until 32).map(i => math.cos(k * 32 + i + 1.0)))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), col("a").cast("array<double>").as("a"), col("b").cast("array<double>").as("b"))
    val out = df.select(
      col("id"),
      graft.functions.VectorOps.squaredDistance(col("a"), col("b")).as("fused"),
      aggregate(
        zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0),
        (acc, d) => acc + d).as("composed"))
      .collect()
    out.foreach(r => assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getLong(0)}"))
  }

  test("mean_threshold_bits matches a plain-Scala reference on random arrays (property)") {
    def reference(a: Seq[Long], bits: Int): Long = {
      val n = a.length
      val total = a.sum
      (0 until bits).foldLeft(0L) { (code, k) =>
        val lo = (k.toLong * n / bits).toInt
        val hi = ((k + 1).toLong * n / bits).toInt
        val ssum = a.slice(lo, hi).sum
        if (ssum * n > total * (hi - lo)) code | (1L << k) else code
      }
    }
    val arrGen = Gen.choose(32, 200).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 255L)))
    checkProp(Prop.forAllNoShrink(Gen.listOfN(10, arrGen)) { arrays =>
      val out = arrays.map(Tuple1(_)).toDF("cs")
        .select(graft.functions.MeanThresholdBits.meanThresholdBits($"cs", 32))
        .as[Long].collect().toSeq
      out == arrays.map(a => reference(a, 32))
    })
  }

  test("string mean_threshold_bits equals the array kernel over ascii code points") {
    import org.apache.spark.sql.functions._
    val texts = (0 until 40).map { k =>
      (k.toLong, (0 until (35 + k * 3)).map(i => ('a' + (i * 7 + k) % 26).toChar).mkString)
    }
    val df = texts.toDF("id", "text")
    for (shift <- Seq(0, 1)) {
      val viaString = df
        .select(col("id"),
          graft.functions.MeanThresholdBits.meanThresholdBitsOfString(col("text"), 32, shift).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaArray = df
        .select(col("id"),
          graft.functions.MeanThresholdBits.meanThresholdBits(
            transform(split(col("text"), ""), c => ascii(c).cast("long") + shift), 32).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaString == viaArray, s"shift=$shift")
    }
  }

  test("mean_threshold_bits equals the declarative slice/aggregate composition") {
    import org.apache.spark.sql.functions._
    val B = 32
    val rows = (0 until 30).map { r =>
      (r.toLong, (0 until (40 + r * 7)).map(i => ((i * 31 + r * 13) % 96 + 32).toLong))
    }
    val df = rows.toDF("id", "cs")
    val fused = df
      .select(col("id"), graft.functions.MeanThresholdBits.meanThresholdBits(col("cs"), B).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = size(col("cs"))
    val composed = df
      .select(col("id"), col("cs"), aggregate(col("cs"), lit(0L), (a, b) => a + b).as("total"))
      .select(
        col("id"),
        aggregate(
          reverse(transform(
            sequence(lit(0), lit(B - 1)),
            k => {
              val lo = floor(k * n / B).cast("int")
              val hi = floor((k + 1) * n / B).cast("int")
              val spanSum =
                aggregate(slice(col("cs"), lo + 1, hi - lo), lit(0L), (a, b) => a + b)
              when(spanSum * n > col("total") * (hi - lo), 1L).otherwise(0L)
            })),
          lit(0L),
          (acc, b) => acc * 2 + b).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == composed)
  }

  test("word_ngrams is SQL-callable on a posture session") {
    Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks").createOrReplaceTempView("wn_probe")
    val out = spark.sql("SELECT word_ngrams(toks, 2) AS sh FROM wn_probe")
      .as[String].collect().toSeq
    assert(out == Seq("a b", "b c"))
  }

  test("VectorSumLong: element-wise integer sum equals the per-index groupBy formulation") {
    // the q203 signature-stage contract (round 13): grouping scaled
    // sign vectors through the aggregator must reproduce the
    // per-(key, index) sum(x) formulation bit-for-bit
    val rows = Seq(
      (1L, Array(1L, -2L, 3L)),
      (1L, Array(10L, 20L, -30L)),
      (2L, Array(5L, 5L, 5L)),
      (1L, Array(0L, 0L, 0L))).toDF("k", "xs")
    val vsum = udaf(graft.functions.VectorSumLong)
    val got = rows
      .groupBy(col("k"))
      .agg(vsum(col("xs")).as("s"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
      .toMap
    val want = rows
      .select(col("k"), posexplode(col("xs")).as(Seq("i", "x")))
      .groupBy(col("k"), col("i"))
      .agg(sum(col("x")).as("s"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(got == want)
    // merge semantics directly: empty buffers are identities and
    // mismatched lengths are a corpus invariant violation, not data
    val z = graft.functions.VectorSumLong.zero
    val b = graft.functions.VectorSumLong.reduce(z, Array(1L, 2L))
    assert(graft.functions.VectorSumLong.merge(graft.functions.VectorSumLong.zero, b).sums.toSeq == Seq(1L, 2L))
    assert(graft.functions.VectorSumLong.merge(b, graft.functions.VectorSumLong.zero).sums.toSeq == Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      graft.functions.VectorSumLong.reduce(b, Array(1L, 2L, 3L))
    }
  }
}
