package graftbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names and units (a test holds the two equal).
  *
  * End-to-end metrics are reported by every workload, each with the
  * meaning its workload gives it (see perfbench/README.md). Per-layer
  * metrics come from the traced run only. Each workload declares the layers
  * it measures ([[owned]]); a layer it does not touch reports 0. */
object Catalogue {
  final case class Metric(name: String, unit: String)

  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("throughput_per_s", "1/s"),
    Metric("p50_ms", "ms"),
    Metric("tail_ms", "ms"),
    Metric("cpu_s", "s"))

  /** The 16 headline operator queries (the operator_suite workload). */
  val HeadlineQueries: Seq[String] = Seq(
    "q_lww_latest", "q_cdc_merge", "q1_agg", "q_join_dims", "q_topk_window",
    "q_dedup_exact", "q_minhash_pairs", "q_simhash", "q_ngram_jaccard",
    "q_ann_topk", "q_ann_lsh", "q_token_count", "q_fingerprint",
    "q_content_hash", "q_cdc_replay", "q_report_adoption")

  /** Owners of Spark jobs whose stage metrics are reported: the engine's
    * stream and compactor threads, and the benchmark's own spans grouped
    * by layer prefix. */
  val StageOwners: Seq[String] = Seq("stream", "compactor", "compact", "read", "write", "suite")

  val StageFields: Seq[(String, String)] = Seq(
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "tasks" -> "count", "run_s" -> "s", "cpu_s" -> "s", "task_skew" -> "ratio")

  val perLayer: Seq[Metric] =
    Seq(
      Metric("stream.epoch_p50_ms", "ms"),
      Metric("stream.add_batch_ms_p50", "ms"),
      Metric("stream.overhead_ms_p50", "ms"),
      Metric("stream.epoch_tail_ms", "ms"),
      Metric("stream.epochs", "count"),
      Metric("compactor.passes", "count"),
      Metric("compactor.drain_s", "s"),
      Metric("lake.final_compact_s", "s"),
      Metric("lake.bytes_rewritten_mb", "MB"),
      Metric("lake.commits", "count"),
      Metric("lake.files_live", "count"),
      Metric("lake.l0_files_live", "count"),
      Metric("lake.write_amp", "ratio"),
      Metric("lake.space_amp", "ratio"),
      Metric("lake.files_added_per_upsert", "count"),
      Metric("lake.snapshot_load_ms", "ms"),
      Metric("lake.files_per_lookup_p50", "count"),
      Metric("keybloom.skip_frac", "ratio"),
      Metric("sql.lookup_plan_ms_p50", "ms"),
      Metric("sql.lookup_exec_ms_p50", "ms"),
      Metric("sql.merge_plan_ms_p50", "ms"),
      Metric("maint.compact_ms", "ms"),
      Metric("serve.in_lookup_p50_ms", "ms"),
      Metric("serve.scan_p50_ms", "ms"),
      Metric("serve.upsert_p50_ms", "ms")) ++
    HeadlineQueries.flatMap(q => Seq(
      Metric(s"query.${q}_s", "s"),
      Metric(s"query.${q}_cpu_s", "s"),
      Metric(s"query.${q}_shuffle_mb", "MB"))) ++
    Seq(
      Metric("codegen.compile_ms", "ms"),
      Metric("codegen.bytecode_kb", "KB"),
      Metric("suite.cold_minus_warm_s", "s")) ++
    StageOwners.flatMap(o => StageFields.map { case (f, u) => Metric(s"stage.$o.$f", u) }) ++
    Seq(
      Metric("jvm.gc_s", "s"),
      Metric("jvm.heap_peak_mb", "MB"),
      Metric("host.steal_frac", "ratio"),
      Metric("host.canary_ms", "ms")) ++
    endToEnd.map(m => Metric(s"traced.${m.name}", m.unit))

  /** Per-layer metrics every workload measures: the window's JVM and host
    * readings and the traced repeat of each end-to-end metric. */
  val CommonPrefixes: Seq[String] = Seq("jvm.", "host.", "traced.")

  /** The per-layer metrics a workload measures, given the name prefixes of
    * the layers it declares. */
  def owned(layerPrefixes: Seq[String]): Set[String] =
    perLayer.map(_.name).filter(n => (CommonPrefixes ++ layerPrefixes).exists(n.startsWith)).toSet

  /** The metrics of a run's kind that `values` lacks although the workload
    * should have measured them: every end-to-end metric, and traced, every
    * per-layer metric in `owned`. */
  def missing(values: Map[String, Double], traced: Boolean, owned: Set[String]): Seq[String] =
    (if (traced) perLayer.map(_.name).filter(owned) else endToEnd.map(_.name))
      .filterNot(values.contains)

  /** The result line: `correct`, `attempted`, `failed` and the metrics of
    * the run's kind, in catalogue order. A value the workload should have
    * measured but did not ([[missing]]) is a bug in the workload and fails
    * loudly; a per-layer metric outside `owned` belongs to a layer the
    * workload never uses and reads 0. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      values: Map[String, Double], traced: Boolean, owned: Set[String]): String = {
    val lost = missing(values, traced, owned)
    if (lost.nonEmpty)
      throw new IllegalStateException(s"workload did not measure ${lost.mkString(", ")}")
    val ms = if (traced) perLayer else endToEnd
    val body = ms.map { m =>
      val v = values.getOrElse(m.name, 0.0)
      s""""${m.name}":{"value":${num(v)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$body}"""
  }

  /** JSON number with all its digits; non-finite values become 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
