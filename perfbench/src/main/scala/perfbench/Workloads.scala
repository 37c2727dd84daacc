package perfbench

/** The benchmark's workloads. Batch lists are fixed (the seed only orders
  * them), so every run measures the same work. */
object Workloads {
  sealed trait Workload
  final case class Batch(queries: Seq[String]) extends Workload
  case object Serve extends Workload

  val byName: Map[String, Workload] = Map(
    "serve_replay" -> Serve,
    // executor-bound: one query per curation kernel family (SimHash,
    // MinHash, PairGen span pairs, LSH/dot top-k, BPE training rounds on
    // Iterate snapshots, perceptual-hash dedup); then a driver-bound tail:
    // PQ training runs ~40 small jobs on half a task-second, and one short
    // ETL, evaluation-metric and prefix-window query each, whose cost is
    // mostly per-query fixed cost
    "curate_docs" -> Batch(Seq(
      "d3_simhash", "d26_minhash_fast", "d14_dup_spans", "sim2_lsh_topk",
      "t23_bpe_train", "mm4_phash_dedup",
      "v4_pq_trained", "etl_training_data", "a10_classification", "w2_prefix_samples")))
}
