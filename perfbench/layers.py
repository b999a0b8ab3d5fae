"""Per-layer metrics of a traced run.

Computed after the session has stopped, from three sources that the
benchmark's own code collected: the spans around calls into each
module, the micro-batch progress the session listener saw, and the
Spark event log of the timed session. Only jobs submitted inside the
timed region count. The metrics named in ``BENCHMARK.json`` are
returned under ``metrics``; figures that exist on one workload only
(per catalog entry, per manifest read) go to the trace file under
``detail``.
"""

from __future__ import annotations

import os

from harness import EventLog, latest_event_log, median, progress_rows

UNITS = {
    "session.start_s": "s",
    "driver.build_s": "s",
    "driver.exec_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.input_rows": "count",
    "sources.bytes_read": "bytes",
    "engine.query_planning_ms": "ms",
    "functions.python_run_share": "ratio",
    "functions.python_rows": "count",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.idle_share": "ratio",
    "streaming.jobs_per_batch": "count",
    "consolidate.shuffle_write_bytes": "bytes",
    "consolidate.shuffle_read_bytes": "bytes",
    "consolidate.spill_bytes": "bytes",
    "snapshot_store.buckets_touched_per_batch": "count",
    "snapshot_store.bytes_written_per_batch": "bytes",
    "snapshot_store.files_written_per_batch": "count",
    "snapshot_store.write_amplification": "ratio",
    "snapshot_store.files_read_per_lookup": "count",
    "snapshot_store.bytes_read_per_lookup": "bytes",
    "snapshot_store.jobs_per_lookup": "count",
    "snapshot_store.tasks_per_lookup": "count",
    "caching.fit_builds_timed": "count",
    "caching.released_persisted": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "traced.setup_s": "s",
    "traced.items_per_s": "1/s",
    "traced.latency_p50_ms": "ms",
    "traced.latency_tail_ms": "ms",
    "traced.latency_tail_pct": "%",
    "traced.latency_n": "count",
    "traced.peak_rss_mb": "MB",
}


def _batch_windows(batches: list[dict]) -> list[tuple[float, float]]:
    return [(b["start"], b["start"] + b["trigger_ms"] / 1000.0) for b in batches]


def _idle_share(batches: list[dict]) -> float:
    """Share of the span from the first micro-batch start to the last
    batch end during which no micro-batch of the timed region ran."""
    w = sorted(_batch_windows(batches))
    if len(w) < 2:
        return 0.0
    gaps = sum(max(0.0, b0 - a1) for (_, a1), (b0, _) in zip(w, w[1:]))
    return gaps / (max(e for _, e in w) - w[0][0])


def _live_bytes(table: str) -> int:
    from intelligencepipeline_spark.operators.snapshot_store import read_manifest

    manifest = read_manifest(table) or {"buckets": {}}
    total = 0
    for b, g in manifest["buckets"].items():
        d = os.path.join(table, f"bucket={b}", f"gen={g}")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def compute_layers(ctx, wl, m, fit_timed: list, released: int, e2e: dict) -> dict:
    log_path = latest_event_log(ctx.eventlog_dir)
    ev = EventLog(log_path)
    jobs = ev.jobs_between(m.t0, m.t1)
    tot = ev.totals(jobs)
    batches = [
        b for b in progress_rows(ctx.progress) if m.t0 <= b["start"] <= m.t1
    ]
    windows = _batch_windows(batches)

    def jobs_in(t0: float, t1: float):
        return ev.jobs_between(t0, t1)

    per_batch = [ev.totals(jobs_in(a, b)) for a, b in windows]
    lookups = m.windows.get("lookup", [])
    per_lookup = [jobs_in(a, b) for a, b in lookups]
    n_lookups = len(lookups) or 1

    is_store = wl.name == "consolidate_serve"
    drain = [b for b in batches if m.t0 <= b["start"] <= m.windows["drain"][0][1]] \
        if is_store else []
    written = sum(
        ev.totals(jobs_in(b["start"], b["start"] + b["trigger_ms"] / 1000.0)).output_bytes
        for b in drain
    )
    values = {
        "session.start_s": ctx.session_start_s,
        "driver.build_s": m.build_s,
        "driver.exec_s": m.exec_s,
        "sources.latest_offset_ms": sum(b["latest_offset_ms"] for b in batches),
        "sources.get_batch_ms": sum(b["get_batch_ms"] for b in batches),
        "sources.input_rows": sum(b["rows"] for b in batches),
        "sources.bytes_read": tot.input_bytes,
        "engine.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
        "functions.python_run_share": (
            tot.python.get("python_run_ms", 0.0) / (1000.0 * tot.run_s)
            if tot.run_s else 0.0
        ),
        "functions.python_rows": tot.python.get("python_rows", 0),
        "functions.python_bytes_sent": tot.python.get("python_bytes_sent", 0),
        "functions.python_bytes_received": tot.python.get("python_bytes_received", 0),
        "streaming.batches": len(batches),
        "streaming.trigger_ms": median(b["trigger_ms"] for b in batches),
        "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
        "streaming.commit_offsets_ms": sum(b["commit_offsets_ms"] for b in batches),
        "streaming.idle_share": _idle_share(batches),
        "streaming.jobs_per_batch": median(len(jobs_in(a, b)) for a, b in windows),
        "consolidate.shuffle_write_bytes": median(t.shuffle_write_bytes for t in per_batch),
        "consolidate.shuffle_read_bytes": median(t.shuffle_read_bytes for t in per_batch),
        "consolidate.spill_bytes": median(t.spill_bytes for t in per_batch),
        "snapshot_store.buckets_touched_per_batch": median(
            len({int(k) % wl.n_buckets for k in t["doc_id"].to_numpy()})
            for t in wl.backlog
        ) if is_store else 0,
        "snapshot_store.bytes_written_per_batch": written / len(drain) if drain else 0,
        "snapshot_store.files_written_per_batch": median(
            ev.driver_metric("number of written files", a, a + d / 1000.0)
            for a, d in ((b["start"], b["trigger_ms"]) for b in drain)
        ),
        "snapshot_store.write_amplification": (
            written / _live_bytes(m.details["table"]) if is_store else 0
        ),
        "snapshot_store.files_read_per_lookup": sum(
            ev.driver_metric("number of files read", a, b) for a, b in lookups
        ) / n_lookups,
        "snapshot_store.bytes_read_per_lookup": sum(
            ev.totals(js).input_bytes for js in per_lookup
        ) / n_lookups,
        "snapshot_store.jobs_per_lookup": sum(len(js) for js in per_lookup) / n_lookups,
        "snapshot_store.tasks_per_lookup": sum(
            ev.totals(js).tasks for js in per_lookup
        ) / n_lookups,
        "caching.fit_builds_timed": len(fit_timed),
        "caching.released_persisted": released,
        "spark.jobs": len(jobs),
        "spark.stages": ev.stage_count(jobs),
        "spark.tasks": tot.tasks,
        "spark.executor_run_s": tot.run_s,
        "spark.executor_cpu_s": tot.cpu_s,
        "spark.gc_s": tot.gc_s,
        "spark.shuffle_bytes": tot.shuffle_read_bytes + tot.shuffle_write_bytes,
        "spark.spill_bytes": tot.spill_bytes,
        "traced.setup_s": e2e["setup_s"],
        "traced.items_per_s": e2e["items_per_s"],
        "traced.latency_p50_ms": e2e["latency_p50_ms"],
        "traced.latency_tail_ms": e2e["latency_tail_ms"],
        "traced.latency_tail_pct": e2e["latency_tail_pct"],
        "traced.latency_n": e2e["latency_n"],
        "traced.peak_rss_mb": e2e["peak_rss_mb"],
    }
    return {
        "metrics": {
            k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()
        },
        "detail": _detail(ctx, m, ev, jobs, tot, batches),
    }


def _detail(ctx, m, ev: EventLog, jobs, tot, batches) -> dict:
    """Workload-specific figures for the trace file: per catalog entry
    build/exec/jobs, manifest read times, and the jobs of every span."""
    out: dict = {
        "manifest_read_ms": median(ctx.manifest_reads_ms),
        "python_run_ms": tot.python.get("python_run_ms", 0.0),
        "batches": batches,
    }
    entries = m.details.get("entries", {})
    per_entry = {}
    for name, runs in entries.items():
        spans = m.windows.get(f"{name}.build", []) + m.windows.get(f"{name}.exec", [])
        n_jobs = sum(len(ev.jobs_between(a, b)) for a, b in spans)
        per_entry[name] = {
            "build_s": median(r[0] for r in runs),
            "exec_s": median(r[1] for r in runs),
            "jobs": n_jobs / max(1, len(runs)),
        }
    out["queries"] = per_entry
    by_span: dict[str, dict] = {}
    for j in jobs:
        sid = j.group if j.group and j.group.startswith("span-") else None
        span = (
            ctx.tracer.spans[int(sid[5:])] if sid else ctx.tracer.innermost(j.submitted)
        )
        key = span.name if span else "(none)"
        rec = by_span.setdefault(key, {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0})
        t = ev.totals([j])
        rec["jobs"] += 1
        rec["stages"] += len(j.stages)
        rec["tasks"] += t.tasks
        rec["cpu_s"] += t.cpu_s
    out["jobs_by_span"] = by_span
    return out
