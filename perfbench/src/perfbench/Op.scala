package perfbench

/** One measured op — a query of a sweep or a cycle of the loop — with the
  * spans it was traced into and the facts its checks looked at. */
final case class Op(id: Int, kind: String, name: String, family: String,
                    latencyS: Double, ok: Boolean, error: String,
                    facts: Map[String, Double], spans: Seq[Span],
                    storedPeakBytes: Long) {
  def json: String = Json.value(Map(
    "op" -> id, "kind" -> kind, "name" -> name, "family" -> family,
    "latency_s" -> latencyS, "ok" -> ok, "error" -> Option(error),
    "stored_peak_mb" -> storedPeakBytes / 1e6, "facts" -> facts,
    "spans" -> spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "wall_s" -> s.wallS, "driver_s" -> s.driverS, "jobs" -> s.c.jobs,
      "tasks" -> s.c.tasks, "task_cpu_s" -> s.c.cpuNs / 1e9,
      "task_gc_s" -> s.c.gcMs / 1e3, "shuffle_mb" -> s.c.shuffleBytes / 1e6,
      "spill_mb" -> s.c.spillBytes / 1e6, "input_rows" -> s.c.inputRows,
      "output_rows" -> s.c.outputRows))))
}
