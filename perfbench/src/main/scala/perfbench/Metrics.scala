package perfbench

/** The metric catalogue; BENCHMARK.json lists the same names (a self-test
  * holds the two together). Per-layer metrics are named
  * `<Layer>.<verb>.<measure>`; each is the median over the run's calls of
  * that verb, 0 where the workload makes no such call. */
object Metrics {

  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("latency_p50_ms", "ms", "lower"),
    Metric("docs_per_s", "docs/s", "higher"),
    Metric("recall", "frac", "higher"),
    Metric("retained_heap_mb", "MB", "lower"))

  /** layer.verb -> the measures kept for it. */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "Api.ragSearch" ->
      Seq("ms_p50", "jobs", "stages", "driver_gap_ms", "exec_cpu_ms"),
    "Api.searchByTopic" -> Seq("ms_p50", "jobs", "stages"),
    "Api.assembleReport" -> Seq("ms_p50", "jobs", "stages"),
    "VersionedIvf.search" -> Seq("ms_p50", "jobs", "stages", "driver_gap_ms",
      "fs_read_ops", "rows_per_result"),
    "SnapshotStore.readDocs" ->
      Seq("ms_p50", "jobs", "fs_read_ops", "fs_bytes_read"),
    "SnapshotStore.upsert" -> Seq("ms_p50", "jobs", "stages", "driver_gap_ms",
      "exec_cpu_ms", "shuffle_bytes", "fs_bytes_written", "files_added"),
    "SnapshotStore.deleteWhere" -> Seq("ms_p50", "jobs", "fs_bytes_written"),
    "VersionedIvf.upsert" -> Seq("ms_p50", "jobs", "stages", "driver_gap_ms",
      "fs_bytes_written"),
    "VersionedIvf.delete" -> Seq("ms_p50", "jobs"),
    "SnapshotStore.optimize" -> Seq("ms", "jobs", "bytes_rewritten"),
    "SnapshotStore.vacuum" -> Seq("ms", "files_deleted"),
    "VersionedIvf.rebalanceUntil" ->
      Seq("ms_p50", "jobs", "stages", "shuffle_bytes", "rounds"),
    "IngestionPipeline.buildIndexFrom" -> Seq("ms", "exec_cpu_ms", "rows_out"),
    "MinHashLSH.nearDuplicates" -> Seq("ms", "jobs", "stages", "exec_cpu_ms",
      "shuffle_bytes", "spill_bytes", "pairs_per_candidate", "precision"),
    "SimHash.nearPairs" ->
      Seq("ms", "jobs", "exec_cpu_ms", "shuffle_bytes", "precision"),
    "DupClusters.assign" -> Seq("ms", "jobs", "stages", "shuffle_bytes"),
    "PageRank.ranksConverged" -> Seq("ms", "rounds", "jobs", "stages",
      "shuffle_bytes", "stages_per_round"),
    "BfsHops.run" -> Seq("ms", "rounds", "jobs", "shuffle_bytes"))

  /** Whole-run Spark figures of the traced run (per unit of work where a
    * count grows with run length), and its latency, which set against the
    * untraced runs' gives the tracing overhead. */
  val RunLevel: Seq[Metric] = Seq(
    Metric("spark.jobs", "count", "lower"),
    Metric("spark.stages", "count", "lower"),
    Metric("spark.tasks", "count", "lower"),
    Metric("spark.driver_gap_share", "frac", "lower"),
    Metric("spark.exec_cpu_share", "frac", "higher"),
    Metric("spark.shuffle_bytes", "bytes", "lower"),
    Metric("spark.gc_ms", "ms", "lower"),
    Metric("spark.untagged_jobs", "count", "lower"),
    Metric("trace.latency_p50_ms", "ms", "lower"))

  def unitOf(measure: String): String = measure match {
    case "ms" | "ms_p50" | "driver_gap_ms" | "exec_cpu_ms" => "ms"
    case "shuffle_bytes" | "spill_bytes" | "fs_bytes_read" |
         "fs_bytes_written" | "bytes_rewritten" => "bytes"
    case "rows_per_result" => "rows/row"
    case "stages_per_round" => "stages/round"
    case "pairs_per_candidate" | "precision" => "frac"
    case _ => "count"
  }

  def betterOf(measure: String): String = measure match {
    case "pairs_per_candidate" | "precision" | "files_deleted" => "higher"
    case _ => "lower"
  }

  val PerLayer: Seq[Metric] = Layers.flatMap { case (verb, ms) =>
    ms.map(m => Metric(s"$verb.$m", unitOf(m), betterOf(m)))
  } ++ RunLevel
}
