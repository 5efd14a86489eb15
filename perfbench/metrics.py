"""Metric definitions and the per-layer numbers derived from a traced run.

END_TO_END and PER_LAYER are the benchmark's metric table; BENCHMARK.json
lists the same names, units and directions (a test keeps them in step).
`moves` names the end-to-end metric and the workload a per-layer metric
should move; on every other workload the prediction is no change.
"reported" marks a number kept for diagnosis that no end-to-end metric
contains: the wall-clock latencies (freshness, read times; on a shared
machine they follow the other machines' load too closely to be bounded),
the tracing overhead, and the one compaction a mor_serve run ends with,
which is not traced.

Per-layer times, counts and bytes are per unit of traced work: one
micro-batch on the streaming workloads, one read round on mor_serve.
A layer a workload does not exercise reports 0 there.
"""

from __future__ import annotations

from collections import defaultdict

from tracing import BATCH_SPAN, ancestors, self_times, union_length

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
    ("cpu_s_per_op", "s", "lower", 0.25),
]

T, S = "tail_steady", "mor_serve"
PER_LAYER = [
    # name, unit, better, moves (end-to-end metric @ workload)
    ("harness.session_start_s", "s", "lower", "setup_s@all"),
    ("harness.generator_late_max_s", "s", "lower", f"validity@{T}"),
    ("harness.tracing_overhead", "ratio", "lower", "reported@all"),
    ("harness.spans_per_unit", "count", "lower", "cpu_s_per_op@all"),
    ("streaming.batches", "count", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.trigger_ms_p50", "ms", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.add_batch_ms_p50", "ms", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.bookkeeping_ms_p50", "ms", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.query_start_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.apply_batch_self_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.spark_jobs_per_batch", "count", "lower", f"cpu_s_per_op@{T}"),
    ("streaming.backlog_segments_max", "count", "lower", f"cpu_s_per_op@{T}"),
    ("tail.freshness_p50_s", "s", "lower", f"reported@{T}"),
    ("tail.freshness_p90_s", "s", "lower", f"reported@{T}"),
    ("sources.rows_read", "rows", "lower", f"cpu_s_per_op@{T}"),
    ("sources.bytes_read", "bytes", "lower", f"cpu_s_per_op@{T}"),
    ("sources.scan_exec_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.merge.merge_self_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.merge.shuffle_write_bytes_per_event", "bytes", "lower", f"cpu_s_per_op@{T}"),
    ("lake.merge.exec_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.merge.resolve_shuffle_bytes", "bytes", "lower", f"cpu_s_per_op@{S}"),
    ("lake.merge.resolve_exec_s", "s", "lower", f"cpu_s_per_op@{S}"),
    ("lake.table.write_files_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.write_job_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.footer_harvest_wall_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.files_written_per_batch", "count", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.bytes_written_per_input_byte", "ratio", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.commit_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.commit_attempts", "count", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.commit_conflicts", "count", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.current_calls_per_batch", "count", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.current_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.manifest_bytes_per_commit", "bytes", "lower", f"cpu_s_per_op@{T}"),
    ("lake.table.files_opened", "count", "lower", f"cpu_s_per_op@{S}"),
    ("lake.table.files_total", "count", "lower", f"cpu_s_per_op@{S}"),
    ("lake.table.rows_examined_per_row_returned", "ratio", "lower", f"cpu_s_per_op@{S}"),
    ("lake.fsio.footer_calls", "count", "lower", f"cpu_s_per_op@{T}"),
    ("lake.fsio.footer_busy_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("lake.fsio.read_text_calls", "count", "lower", f"cpu_s_per_op@{S}"),
    ("lake.fsio.read_text_s", "s", "lower", f"cpu_s_per_op@{S}"),
    ("lake.fsio.publish_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("maintenance.compactions", "count", "lower", f"cpu_s_per_op@{T}"),
    ("maintenance.compact_busy_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("maintenance.bytes_rewritten_per_live_byte", "ratio", "lower", f"cpu_s_per_op@{T}"),
    ("maintenance.delta_files_per_bucket_max", "count", "lower", f"cpu_s_per_op@{S}"),
    ("maintenance.freshness_overlap_p50_s", "s", "lower", f"cpu_s_per_op@{T}"),
    ("chain.sync_self_s", "s", "lower", f"cpu_s_per_op@{S}"),
    ("chain.changed_entries_s", "s", "lower", f"cpu_s_per_op@{S}"),
    ("chain.versions_walked", "count", "lower", f"cpu_s_per_op@{S}"),
    ("chain.rows_applied", "rows", "higher", f"cpu_s_per_op@{S}"),
    ("serve.read_resolved_p50_s", "s", "lower", f"reported@{S}"),
    ("serve.read_window_p50_s", "s", "lower", f"reported@{S}"),
    ("serve.read_changes_p50_s", "s", "lower", f"reported@{S}"),
    ("serve.chain_sync_p50_s", "s", "lower", f"reported@{S}"),
    ("serve.compact_s", "s", "lower", f"reported@{S}"),
    ("serve.read_after_compact_s", "s", "lower", f"reported@{S}"),
]

COMPACTION_SPANS = ("maintenance.compact_table", "maintenance.maybe_compact",
                    "maintenance.compact_bucket_range")
RESOLVE_SPANS = ("op.read_full", "op.read_window") + COMPACTION_SPANS


def layer_metrics(spans: list[dict], jobs: list[dict], units: int, events: int,
                  live_bytes: int) -> dict[str, float]:
    """Per-layer numbers from the spans and event-log jobs of the traced
    units. `events` is the rows those units ingested or applied and
    `live_bytes` the size of the table's live files at the end."""
    u = max(units, 1)
    by_id = {s["id"]: s for s in spans}
    st = self_times(spans)
    named: dict[str, list] = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def under(s, names) -> bool:
        return any(n in names for n in ancestors(s["parent"], by_id))

    def job_under(j, names) -> bool:
        return j["span"] is not None and any(n in names for n in ancestors(j["span"], by_id))

    merge_jobs = [j for j in jobs if job_under(j, ("lake.merge.merge_change_batch",))]
    batch_jobs = [j for j in jobs if j.get("batch_span") is not None]
    resolve_jobs = [j for j in jobs if job_under(j, RESOLVE_SPANS)]
    compact_jobs = [j for j in jobs if job_under(j, COMPACTION_SPANS)]
    merges = named["lake.merge.merge_change_batch"]
    commits = named["lake.table.try_commit"]
    syncs = named["chain.sync_once"]
    windows = named["op.read_window"]

    write_job = harvest = 0.0
    for w in named["lake.table.write_files"]:
        walks = [c for c in named["lake.fsio.walk_files"] if c["parent"] == w["id"]]
        split = min((c["start"] for c in walks), default=w["end"])
        write_job += split - w["start"]
        harvest += w["end"] - split
    window_reads = [e for e in named["lake.table.read_entries"] if under(e, ("op.read_window",))]
    returned = sum(s["attrs"].get("rows", 0) for s in windows)
    publish_under_commit = [p for p in named["lake.fsio.publish_if_absent"]
                            if under(p, ("lake.table.try_commit",))]
    compaction = [(s["start"], s["end"]) for n in COMPACTION_SPANS for s in named[n]]
    merge_in = sum(j["input_bytes"] for j in merge_jobs)

    def per_sync(values):
        return sum(values) / len(syncs) if syncs else 0.0

    sync_ids = ("chain.sync_once",)
    return {
        "harness.spans_per_unit": len(spans) / u,
        "streaming.apply_batch_self_s": sum(st[s["id"]] for s in named[BATCH_SPAN]) / u,
        "streaming.spark_jobs_per_batch": (
            len(batch_jobs) / len(named[BATCH_SPAN]) if named[BATCH_SPAN] else 0.0),
        "sources.bytes_read": sum(j["input_bytes"] for j in batch_jobs) / u,
        "sources.scan_exec_s": sum(j["scan_exec_s"] for j in batch_jobs) / u,
        "lake.merge.merge_self_s": sum(st[s["id"]] for s in merges) / u,
        "lake.merge.shuffle_write_bytes_per_event": (
            sum(j["shuffle_write"] for j in merge_jobs) / events if events else 0.0),
        "lake.merge.exec_s": sum(j["exec_s"] for j in merge_jobs) / u,
        "lake.merge.resolve_shuffle_bytes": sum(j["shuffle_write"] for j in resolve_jobs) / u,
        "lake.merge.resolve_exec_s": sum(j["exec_s"] for j in resolve_jobs) / u,
        "lake.table.write_files_s": dur(named["lake.table.write_files"]) / u,
        "lake.table.write_job_s": write_job / u,
        "lake.table.footer_harvest_wall_s": harvest / u,
        "lake.table.files_written_per_batch": (
            sum(w["attrs"].get("files", 0) for w in named["lake.table.write_files"]
                if under(w, ("lake.merge.merge_change_batch",))) / len(merges)
            if merges else 0.0),
        "lake.table.bytes_written_per_input_byte": (
            sum(j["output_bytes"] for j in merge_jobs) / merge_in if merge_in else 0.0),
        "lake.table.commit_s": dur(commits) / u,
        "lake.table.commit_attempts": len(commits) / u,
        "lake.table.commit_conflicts": sum(1 for c in commits if c.get("error")) / u,
        "lake.table.current_calls_per_batch": len(named["lake.table.current"]) / u,
        "lake.table.current_s": dur(named["lake.table.current"]) / u,
        "lake.table.manifest_bytes_per_commit": (
            sum(p["attrs"].get("bytes", 0) for p in publish_under_commit) / len(commits)
            if commits else 0.0),
        "lake.table.files_opened": (
            sum(e["attrs"]["files"] for e in window_reads) / len(windows) if windows else 0.0),
        "lake.table.files_total": (
            sum(e["attrs"]["files_total"] for e in window_reads) / len(windows)
            if windows else 0.0),
        "lake.table.rows_examined_per_row_returned": (
            sum(e["attrs"]["rows"] for e in window_reads) / returned if returned else 0.0),
        "lake.fsio.footer_calls": len(named["lake.fsio.parquet_footer"]) / u,
        "lake.fsio.footer_busy_s": dur(named["lake.fsio.parquet_footer"]) / u,
        "lake.fsio.read_text_calls": len(named["lake.fsio.read_text"]) / u,
        "lake.fsio.read_text_s": dur(named["lake.fsio.read_text"]) / u,
        "lake.fsio.publish_s": dur(named["lake.fsio.publish_if_absent"]) / u,
        "maintenance.compactions": (
            len(named["maintenance.compact_bucket_range"]) + len(named["maintenance.compact_table"])
        ) / u,
        "maintenance.compact_busy_s": union_length(compaction) / u,
        "maintenance.bytes_rewritten_per_live_byte": (
            sum(j["output_bytes"] for j in compact_jobs) / live_bytes if live_bytes else 0.0),
        "maintenance.delta_files_per_bucket_max": float(
            max((c["attrs"].get("delta_max", 0) for c in commits), default=0)),
        "chain.sync_self_s": per_sync(st[s["id"]] for s in syncs),
        "chain.changed_entries_s": per_sync(
            s["end"] - s["start"] for s in named["lake.merge.changed_entries"]
            if under(s, sync_ids)),
        "chain.versions_walked": per_sync(
            1 for s in named["lake.table.snapshot_at"]
            if under(s, ("lake.merge.changed_entries",)) and under(s, sync_ids)),
        "chain.rows_applied": per_sync(
            e["attrs"]["rows"] for e in named["lake.table.read_entries"] if under(e, sync_ids)),
    }
