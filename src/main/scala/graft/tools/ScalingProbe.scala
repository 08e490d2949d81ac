package graft.tools

import graft.GraftSession
import graft.ops.{Dedup, Similarity, Tables}
import org.apache.spark.sql.DataFrame

/** 3-SF scaling probe for the quadratic-control vs banded-arm queries
  * (round-12 verdict mandate #5): d39/d40/s30's 10× sf0.01→0.1 ratio
  * is fixed-overhead-dominated AND hides that the embeddings table
  * only grows 500→500→2000 rows across the three SFs — so the honest
  * asymptotic is an exponent of wall time against the MEASURED input
  * size (n_vecs) and work volume (pair/edge counts), not against sf.
  * This main measures exactly that, with d40's two arms timed
  * SEPARATELY — the O(n²) exact control on its own, and the banded
  * sub-quadratic path on its own (possible since the round-13 rewrite
  * made the banded arm independent; it previously semi-joined the
  * control) — plus the registered d39/d40/s30 queries for context.
  *
  * Emits one JSON line per sf dir:
  * `{"sf":…,"n_vecs":…,"work":{…},"probes":{name:sec,…}}`
  * Feed the lines to `tools/sf_scaling.py fit` for the fitted
  * exponents table (SURVEY §8.20).
  *
  * Method per probe: 1 warmup + 2 timed noop-sink materializations,
  * min taken (these are plan-shape measurements, not medians of
  * record); checkpoint blocks released between runs like Bench.
  */
object ScalingProbe {
  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(master = Some(s"local[$cpus]"), shufflePartitions = Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** d40's exact control arm alone: the triangular all-pairs cosine
      * join d39 and d40 run, with its bp freeze and θ floor.
      */
    def exactArm(dir: String): DataFrame =
      Dedup.exactCosineEdges(Dedup.normedEmbeddings(spark, dir))

    def probes(dir: String): Seq[(String, () => DataFrame)] = Seq(
      "d40_exact_arm" -> (() => exactArm(dir)),
      "d40_banded_arm" -> (() => Dedup.d40BandedEdges(Dedup.normedEmbeddings(spark, dir))),
      "d39_exact_control" -> (() => Dedup.d39ThresholdStability(spark, dir)),
      "d40_full" -> (() => Dedup.d40BandedThresholdSweep(spark, dir)),
      "s30_exact_control" -> (() => Similarity.s30KnnGraph(spark, dir)))

    def time(fn: () => DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        fn().write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.releaseQueryState(spark)
        dt
      }
      once() // warmup: JIT + codegen
      math.min(once(), once())
    }

    sfDirs.foreach { dir =>
      val nVecs = Tables.embeddings(spark, dir).count()
      val exactPairs = nVecs * (nVecs - 1) / 2
      val exactEdges = exactArm(dir).count()
      val bandedEdges = Dedup.d40BandedEdges(Dedup.normedEmbeddings(spark, dir)).count()
      GraftSession.releaseQueryState(spark)
      val timed = probes(dir).map { case (n, f) => n -> time(f) }
      val probesJson = timed.map { case (n, t) => s""""$n":$t""" }.mkString("{", ",", "}")
      println(
        s"""{"sf":"$dir","n_vecs":$nVecs,"work":{"exact_pairs":$exactPairs,"exact_edges":$exactEdges,"banded_edges":$bandedEdges},"probes":$probesJson}""")
    }
    spark.stop()
  }
}
