package perfbench

/** The benchmark's workloads. Each op is one `graft.SparkEntry.queries`
  * entry; `write` marks ops that commit to a table, which are reported as
  * `write_s` instead of `read_s`. Why each workload exists is in NOTES.md. */
object Roster {
  final case class Op(name: String, write: Boolean = false)

  /** @param split true: the ops read a seeded copy of the input rewritten
    *              into one file per core; false: the original files. */
  final case class Workload(name: String, split: Boolean, ops: Seq[Op])

  private def reads(names: String*): Seq[Op] = names.map(Op(_))
  private def writes(names: String*): Seq[Op] = names.map(Op(_, write = true))

  // The rosters are trimmed from the candidate lists so that one run
  // (JVM start, set-up, warm-up and three timed passes) stays near 40 s;
  // NOTES.md lists what was left out and why.
  val relational: Workload = Workload("relational", split = true, reads(
    "q1_agg", "q10_join_inner", "q11_join_star", "q25_rollup",
    "q30_window_rank", "q100_shipping_priority", "q156_crossborder_flows",
    "q175_semi_chain") ++
    // a grouped aggregate written as partitioned parquet and as ORC, then
    // read back: plain Spark file commits on the split input
    writes("q60_parquet_roundtrip", "q61_orc_roundtrip"))

  val curation: Workload = Workload("curation", split = false, reads(
    "q50_explode_wordcount", "q70_text_stats", "q75_minhash_lsh",
    "q76_simhash", "q77_ann_bruteforce", "q78_ann_lsh", "q97_minhash_full",
    "q111_ann_ivf", "q118_dedup_clusters", "q162_incremental_dedup",
    "q206_heavy_hitters") ++
    // crawl-ingest writes: two parquet batches of documents, read back
    // with mergeSchema, and with each row's source file (plain Spark
    // files, no graft.sources code)
    writes("q184_schema_drift", "q185_file_provenance"))

  val lakehouse: Workload = Workload("lakehouse", split = false,
    reads("q389_delta_read", "q391_iceberg_read", "q397_paimon_read",
      "q406_iceberg_eq_delete", "q431_hudi_mor_snapshot") ++
    writes("q493_delta_compact_bench", "q503_iceberg_compact_bench",
      "q490_delta_delete"))

  val all: Seq[Workload] = Seq(relational, curation, lakehouse)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))
}
