package perfbench

/** Names and units of the per-layer metrics. Every traced run reports all of
  * them; a layer a workload does not exercise reads 0 there. */
object PerLayer {
  val ingestLayers: Seq[(String, String)] = Seq(
    "config.load_ms" -> "ms",
    "orchestration.sink_ddl_s" -> "s",
    "orchestration.remaining_s" -> "s",
    "orchestration.batches" -> "count",
    "orchestration.batch_p50_s" -> "s",
    "orchestration.batch_max_s" -> "s",
    "orchestration.batch_nonhttp_s" -> "s",
    "orchestration.jobs" -> "count",
    "orchestration.tasks" -> "count",
    "orchestration.shuffle_bytes" -> "bytes",
    "orchestration.output_bytes" -> "bytes",
    "orchestration.spill_bytes" -> "bytes",
    "orchestration.driver_idle_s" -> "s",
    "exec.inflight_mean" -> "count",
    "exec.inflight_max" -> "count",
    "exec.bound_share" -> "share",
    "exec.stage_rps" -> "1/s",
    "exec.stage_rps_1p" -> "1/s",
    "exec.yield_lag_p50_ms" -> "ms",
    "exec.yield_lag_p99_ms" -> "ms",
    "transport.direct_rps" -> "1/s",
    "transport.reply_lag_p50_ms" -> "ms",
    "transport.reply_lag_p99_ms" -> "ms",
    "transport.connections" -> "count",
    "transport.errors" -> "count",
    "middleware.retries" -> "count",
    "middleware.retry_yield" -> "share",
    "auth.runtime_start_s" -> "s",
    "auth.idp_requests" -> "count",
    "auth.rpc_fetch_p50_ms" -> "ms",
    "stub.send_lag_p99_ms" -> "ms")

  /** `g:` job phases of the label-absorb drain, by the filter / verify /
    * index-update split of streaming set-similarity joins. */
  val phases: Seq[(String, String)] = Seq(
    "drain_ids" -> "filter",
    "drain_replay_guard" -> "filter",
    "absorb_bfeats" -> "filter",
    "absorb_probe" -> "filter",
    "lsh_probe_cand" -> "filter",
    "absorb_lsh_present" -> "filter",
    "absorb_edges" -> "verify",
    "canon_edges" -> "verify",
    "canon_init" -> "verify",
    "canon_round" -> "verify",
    "absorb_merge" -> "verify",
    "absorb_moved" -> "verify",
    "absorb_relabel" -> "verify",
    "absorb_append_geoms" -> "index_update",
    "append_write_features" -> "index_update",
    "append_write_buckets" -> "index_update",
    "mutate_touched" -> "index_update",
    "mutate_stage_write" -> "index_update")

  val streamingAndOperators: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.batch_p50_s" -> "s",
    "streaming.batch_max_s" -> "s",
    "streaming.planning_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.offsets_s" -> "s",
    "streaming.commit_s" -> "s",
    "streaming.jobs" -> "count",
    "streaming.driver_idle_s" -> "s",
    "operators.jobs" -> "count",
    "operators.shuffle_bytes" -> "bytes",
    "operators.output_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes",
    "operators.filter_s" -> "s",
    "operators.verify_s" -> "s",
    "operators.index_update_s" -> "s",
    "operators.phase_s.other" -> "s",
    "operators.phase_s.unlabeled" -> "s") ++
    phases.map { case (p, _) => s"operators.phase_s.$p" -> "s" }

  val bench: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s",
    "setup.stage_s" -> "s",
    "trace.wall_s" -> "s")

  val units: Map[String, String] = (ingestLayers ++ streamingAndOperators ++ bench).toMap

  def zeros(ms: Seq[(String, String)]): Seq[(String, Double)] = ms.map { case (k, _) => k -> 0.0 }

  /** Job wall per known phase, its filter/verify/index-update group sums,
    * phases not listed here (`other`) and jobs without a phase label. */
  def phaseMetrics(wall: Map[String, Double], unlabeled: Double): Seq[(String, Double)] = {
    val known = phases.toMap
    val unknown = wall.keySet -- known.keySet
    if (unknown.nonEmpty) System.err.println(s"[perfbench] unlisted phases: ${unknown.toSeq.sorted.mkString(",")}")
    def group(g: String) = phases.collect { case (p, `g`) => wall.getOrElse(p, 0.0) }.sum
    phases.map { case (p, _) => s"operators.phase_s.$p" -> wall.getOrElse(p, 0.0) } ++ Seq(
      "operators.filter_s" -> group("filter"),
      "operators.verify_s" -> group("verify"),
      "operators.index_update_s" -> group("index_update"),
      "operators.phase_s.other" -> unknown.toSeq.map(wall).sum,
      "operators.phase_s.unlabeled" -> unlabeled)
  }
}
