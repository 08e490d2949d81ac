package graft

import graft.functions.Md5SignVector.md5SignVector
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pins the q203 sign-vector identity: [[graft.functions.Md5SignVector]]
  * (byte-level digests, sign from bit 4 of digest byte 0) is
  * element-for-element equal to the portable-hash SQL spelling
  * `CASE WHEN substring(md5(concat(k, '_', h)), 1, 1) IN
  * ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END` ordered by h
  * — the proof obligation for the round-13 q203 sign-stage rewrite
  * (same ±1 vectors → same projections → bit-identical bands).
  */
class Md5SignVectorSpec extends SparkSpec {
  import spark.implicits._

  /** The exact SQL formulation q203 used before the rewrite, as an
    * h-ordered array for a given width n.
    */
  private def sqlSigns(n: Int): String =
    s"""transform(sequence(0, $n - 1), h ->
       |  CASE WHEN substring(
       |    md5(concat(CAST(k AS STRING), '_', CAST(h AS STRING))), 1, 1)
       |    IN ('0','2','4','6','8','a','c','e')
       |  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)""".stripMargin

  test("md5_sign_vector == SQL spelling on edge keys, incl. multi-digit h") {
    val keys = Seq(0L, 1L, 9L, 10L, 4242L, 599999L, -1L, -987654321L,
      Long.MaxValue, Long.MinValue)
    // n = 144 covers every ladder width (max 64) and multi-digit h up to 143
    val rows = keys.toDF("k")
      .select(col("k"), md5SignVector(col("k"), lit(144)).as("fast"),
        expr(sqlSigns(144)).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"key ${r.getLong(0)}")
    }
  }

  test("md5_sign_vector == SQL spelling (property over random longs and widths)") {
    val gen = for {
      ks <- Gen.listOfN(12, Gen.chooseNum(Long.MinValue, Long.MaxValue))
      n <- Gen.chooseNum(1, 64)
    } yield (ks, n)
    val p = Prop.forAllNoShrink(gen) { case (ks, n) =>
      val rows = ks.toDF("k")
        .select(md5SignVector(col("k"), lit(n)).as("fast"), expr(sqlSigns(n)).as("ref"))
        .collect()
      rows.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  test("md5_sign_vector: values are ±1, length n, null-safe") {
    val out = Seq(Tuple1(Option(123L)), Tuple1(Option.empty[Long])).toDF("k")
      .select(md5SignVector(col("k"), lit(7)).as("s"))
      .collect()
    val s = out(0).getSeq[Long](0)
    assert(s.length == 7)
    assert(s.forall(v => v == 1L || v == -1L))
    assert(out(1).isNullAt(0))
  }

  test("md5_sign_vector: a constant width outside [0, 4096] fails at analysis") {
    val keys = Seq(1L, 2L).toDF("k")
    for (n <- Seq(5000, -1)) {
      // select analyzes eagerly: the error comes before any action runs
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        keys.select(md5SignVector(col("k"), lit(n)))
      }
      assert(e.getMessage.contains(s"got $n"), e.getMessage)
    }
    // the bounds themselves are valid widths
    assert(keys.select(md5SignVector(col("k"), lit(0))).head().getSeq[Long](0).isEmpty)
    assert(keys.select(md5SignVector(col("k"), lit(4096))).head().getSeq[Long](0).length == 4096)
  }
}
