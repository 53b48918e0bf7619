package perfbench

import scala.collection.mutable

/** The per-layer metrics every traced run reports, with units. A layer a
  * workload never calls reports 0: the workload bypasses it. Names are
  * `<layer>.<measure>`; layers are named after the program's modules,
  * `engine` is Spark itself seen through its listeners, and `self.*` is
  * the exclusive time per op that adds up to `trace.op_ms`. */
object Layers {
  val metrics: Seq[(String, String)] = Seq(
    "trace.ops" -> "count",
    "trace.op_ms" -> "ms",
    "trace.op_p50_ms" -> "ms",
    "self.spec_ms" -> "ms",
    "self.etl_ms" -> "ms",
    "self.recon_ms" -> "ms",
    "self.versioned_ms" -> "ms",
    "self.sources_ms" -> "ms",
    "self.text_ms" -> "ms",
    "self.dedup_ms" -> "ms",
    "self.ivf_ms" -> "ms",
    "self.stream_ms" -> "ms",
    "self.harness_ms" -> "ms",
    "self.engine_jobs_ms" -> "ms",
    "self.unattributed_ms" -> "ms",
    "spec.parse_ms" -> "ms",
    "etl.append_ms" -> "ms",
    "etl.overwrite_ms" -> "ms",
    "etl.update_ms" -> "ms",
    "etl.upsert_ms" -> "ms",
    "etl.bytes_written" -> "bytes",
    "etl.target_scans" -> "count",
    "recon.run_ms" -> "ms",
    "recon.rows_compared" -> "count",
    "versioned.append_ms" -> "ms",
    "versioned.merge_ms" -> "ms",
    "versioned.delete_ms" -> "ms",
    "versioned.compact_ms" -> "ms",
    "versioned.cluster_ms" -> "ms",
    "versioned.vacuum_ms" -> "ms",
    "versioned.write_amp" -> "ratio",
    "versioned.files_live" -> "count",
    "versioned.dv_groups_live" -> "count",
    "versioned.read_ms" -> "ms",
    "versioned.read_as_of_ms" -> "ms",
    "versioned.read_where_ms" -> "ms",
    "versioned.changes_ms" -> "ms",
    "sources.graft_sql_ms" -> "ms",
    "read.files_scanned" -> "count",
    "read.row_yield" -> "ratio",
    "fs.read_ops" -> "count",
    "fs.write_ops" -> "count",
    "fs.bytes_read" -> "bytes",
    "fs.bytes_written" -> "bytes",
    "text.quality_ms" -> "ms",
    "dedup.exact_ms" -> "ms",
    "dedup.lsh_ms" -> "ms",
    "dedup.containment_ms" -> "ms",
    "dedup.verified_pairs" -> "count",
    "dedup.containment_pairs" -> "count",
    "ivf.build_ms" -> "ms",
    "ivf.topk_ms" -> "ms",
    "ivf.cell_imbalance" -> "ratio",
    "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.offset_commit_ms" -> "ms",
    "stream.state_commit_ms" -> "ms",
    "stream.state_rows" -> "count",
    "stream.state_mem_bytes" -> "bytes",
    "stream.late_dropped" -> "count",
    "stream.batches_per_op" -> "count",
    "engine.analysis_ms" -> "ms",
    "engine.optimization_ms" -> "ms",
    "engine.planning_ms" -> "ms",
    "engine.jobs" -> "count",
    "engine.stages" -> "count",
    "engine.tasks" -> "count",
    "engine.driver_self_ms" -> "ms",
    "engine.codegen_compiles" -> "count",
    "engine.codegen_ms" -> "ms",
    "engine.executor_run_ms" -> "ms",
    "engine.executor_cpu_ms" -> "ms",
    "engine.parallel_eff" -> "ratio",
    "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_write_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes",
    "engine.peak_exec_mem_bytes" -> "bytes",
    "engine.gc_ms" -> "ms",
    "space_amp" -> "ratio",
    "dedup_pair_recall" -> "ratio",
    "ann_recall_at_10" -> "ratio")

  /** Print the self-time table: per layer, exclusive ms per op and its
    * share of the op wall time; the rows sum to the op wall time. */
  def report(workload: String, s: mutable.Map[String, Double]): Unit = {
    val total = s.getOrElse("trace.op_ms", 0.0)
    println(f"[perfbench] self time per op on $workload (${s.getOrElse("trace.ops", 0.0)}%.0f ops, " +
      f"$total%.1f ms per op):")
    s.keys.filter(_.startsWith("self.")).foreach { k =>
      val v = s(k)
      if (v > 0) println(f"[perfbench]   ${k.stripPrefix("self.").stripSuffix("_ms")}%-14s $v%10.2f ms " +
        f"${if (total > 0) 100 * v / total else 0.0}%5.1f%%")
    }
  }
}
