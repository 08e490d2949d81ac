package perfbench

/** The fixed item lists of the query workloads. README.md gives the
  * rule each list was drawn by; the lists do not depend on the seed,
  * which only shuffles their order within a pass.
  */
object Items {

  /** One query per ops module: of the module's queries that took under
    * 0.5 s in the r13 bench (local[32], sf0.1) and match the DuckDB
    * oracle, the one at the middle rank of those times. Layout has no
    * query under 0.5 s.
    */
  val flatTail: Seq[String] = Seq(
    "p15_shard_manifest",
    "d9_canonical_dedup",
    "m10_aspect_buckets",
    "q73_disjunctive_join",
    "s6_centroid_assign",
    "t2_quality_score")

  /** q155 aggregates the events feed into event-time windows, its state
    * in the default HDFS-backed store: commit-bound, and with the least
    * time of the 13 gates.
    */
  val streamGates: Seq[String] = Seq("q155_stream_window_agg")
}
