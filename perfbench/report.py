"""Metric names, the per-run detail record and the final result line."""

from __future__ import annotations

import statistics

from perfbench import eventlog, host
from perfbench import workloads as W

END_TO_END = (("setup_s", "s"), ("wall_s", "s"))

BATCH_SELF = (
    ("tokens.scan_s", "tokens", None),
    ("decode.self_s", "decode", "tokens"),
    ("sessionize.locf_self_s", "locf", "decode"),
    ("sessionize.sessions_self_s", "sessions", "locf"),
    ("rollup.tiers_self_s", "tiers", "locf"),
    ("rollup.gapfill_self_s", "gapfill", "tiers"),
    ("metrics.self_s", "metrics", "sessions"),
)
PIPELINE = (
    ("pipeline.jobs", "count"), ("pipeline.stages", "count"),
    ("pipeline.window_nodes", "count"), ("pipeline.scan_passes", "count"),
    ("pipeline.shuffle_write_bytes", "bytes"),
    ("pipeline.spill_bytes", "bytes"), ("pipeline.fetch_wait_s", "s"),
    ("pipeline.cpu_s", "s"), ("pipeline.gc_s", "s"),
    ("pipeline.core_busy_frac", "ratio"), ("pipeline.failed_tasks", "count"),
)
STORE = (
    ("batch.store_s", "s"), ("catalog.write_s", "s"),
    ("catalog.files_written", "count"),
    *((f"catalog.bytes_{t}", "bytes") for t in W.STORED),
    ("catalog.stored_bytes_per_input_byte", "ratio"),
    ("gorilla.encode_s", "s"), ("gorilla.bytes_per_point", "bytes"),
    ("gorilla.python_rows", "count"),
    ("retention.expire_s", "s"), ("retention.partitions_dropped", "count"),
    ("checkpoint.fingerprint_s", "s"), ("checkpoint.fingerprint_jobs", "count"),
    ("checkpoint.partitions_changed", "count"),
)
MODULE_FIELDS = (("cpu_s", "s"), ("shuffle_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("python_rows", "count"))
QUERIES = (
    ("queries.ts_set_s", "s"), ("queries.curation_set_s", "s"),
    *((f"queries.{q}_s", "s") for q in W.TS_SET + W.CURATION_SET),
    *((f"{m}.{f}", u) for m in W.MODULE_QUERIES for f, u in MODULE_FIELDS),
)
TRACE = (
    ("batch.rollup_seq_per_s", "1/s"), ("run.failed_frac", "ratio"),
    ("run.cpu_s", "s"), ("run.peak_rss_mb", "MB"),
    ("trace_overhead_frac", "ratio"), ("trace.spans", "count"),
    ("trace.spans_reconciled", "count"), ("trace.max_busy_frac", "ratio"),
)
PER_LAYER = (tuple((n, "s") for n, _, _ in BATCH_SELF) + PIPELINE + STORE
             + QUERIES + TRACE)


def record(args, r: W.Run, setup: dict, sampler, peak_mb: float,
           load_start) -> dict:
    spans = [dict(s, wall_s=round(s["wall_s"], 4), cpu_s=round(s["cpu_s"], 2))
             for s in r.spans]
    steal = [s["steal_pct"] for s in r.spans] + setup["steal_pct"]
    walls = r.pass_walls()
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "setup": setup,
        "pass_wall_s": [round(w, 4) for w in walls],
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(r.pass_walls("cpu_s")),
        "peak_rss_mb": peak_mb,
        "peak_rss_parts_mb": {"jvm": sampler.jvm_peak_kb / 1024,
                              "python_worker": sampler.worker_peak_kb / 1024},
        "spans": spans,
        "host": {"steal_pct_max": max(steal, default=0.0),
                 "steal_pct_median": statistics.median(steal) if steal else 0.0,
                 "loadavg_start": load_start, "loadavg_end": host.loadavg(),
                 "samples_per_span": 1, "samples_behind_wall_s": len(walls),
                 "cores": W.CORES},
        "attempted": r.attempted, "failed": r.failed,
        "problems": r.problems, "details": r.details,
    }


def per_layer(workload: str, r: W.Run, log: eventlog.EventLog, extras: dict,
              ref_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0.
    A traced run has one timed pass, ``timed/1``."""
    v = {n: 0.0 for n, _ in PER_LAYER}
    d = r.details
    g = d.get("gorilla", {})
    if workload == "batch_rollup":
        for name, cur, prev in BATCH_SELF:
            if cur in extras:
                v[name] = extras[cur] - (extras[prev] if prev else 0.0)
        wall = r.wall("timed/1/pipeline")
        st = log.span_stats("timed/1/pipeline")
        v.update({
            "pipeline.jobs": st["jobs"], "pipeline.stages": st["stages"],
            "pipeline.window_nodes": st["window_nodes"],
            "pipeline.scan_passes": eventlog.scan_passes(
                st["nodes"], d.get("token_path", "")),
            "pipeline.shuffle_write_bytes": st["shuffle_write_bytes"],
            "pipeline.spill_bytes": st["spill_bytes"],
            "pipeline.fetch_wait_s": st["fetch_wait_s"],
            "pipeline.cpu_s": st["cpu_s"], "pipeline.gc_s": st["gc_s"],
            "pipeline.core_busy_frac": st["run_s"] / (wall * W.CORES),
            "pipeline.failed_tasks": st["failed_tasks"],
            "batch.rollup_seq_per_s": d.get("input_rows", 0) / wall,
            "batch.store_s": r.wall("timed/1/store"),
            "catalog.write_s": sum(r.wall(f"timed/1/store/write_{t}")
                                   for t in W.STORED if t in W.DATE_COL),
            "catalog.files_written": d.get("files_written", 0),
            "catalog.stored_bytes_per_input_byte":
                sum(d.get("stored_bytes", {}).values())
                / max(d.get("input_bytes", 1), 1),
            "gorilla.encode_s": r.wall("timed/1/store/gorilla"),
            "gorilla.bytes_per_point": g.get("bytes", 0)
                / max(g.get("decoded", 1), 1),
            "gorilla.python_rows": log.span_stats(
                "timed/1/store/gorilla")["python_rows"],
            "retention.expire_s": r.wall("timed/1/store/expire"),
            "retention.partitions_dropped": d.get("partitions_dropped", 0),
            "checkpoint.fingerprint_s": r.wall(
                "timed/1/store/fingerprint_final"),
            "checkpoint.fingerprint_jobs": log.span_stats(
                "timed/1/store/fingerprint_final")["jobs"],
            "checkpoint.partitions_changed": d.get("fingerprints_changed", 0),
        })
        for t, b in d.get("stored_bytes", {}).items():
            v[f"catalog.bytes_{t}"] = b
        phase1 = wall
    else:
        q_s = {q: r.wall(f"timed/1/queries/{q}")
               for q in W.TS_SET + W.CURATION_SET}
        for q, t in q_s.items():
            v[f"queries.{q}_s"] = t
        v["queries.ts_set_s"] = sum(q_s[q] for q in W.TS_SET)
        v["queries.curation_set_s"] = sum(q_s[q] for q in W.CURATION_SET)
        for m, qs in W.MODULE_QUERIES.items():
            sts = [log.span_stats(f"timed/1/queries/{q}") for q in qs]
            v[f"{m}.cpu_s"] = sum(s["cpu_s"] for s in sts)
            v[f"{m}.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in sts)
            v[f"{m}.spill_bytes"] = sum(s["spill_bytes"] for s in sts)
            v[f"{m}.python_rows"] = sum(s["python_rows"] for s in sts)
        phase1 = v["queries.ts_set_s"]
    busy, ok = [], 0
    for s in r.spans:
        st = log.span_stats(s["name"], exact=True)
        busy.append(st["run_s"] / (s["wall_s"] * W.CORES))
        ok += eventlog.reconcile(st["run_s"], s["wall_s"], W.CORES)
    v["trace.spans"] = len(r.spans)
    v["trace.spans_reconciled"] = ok
    v["trace.max_busy_frac"] = max(busy, default=0.0)
    v["trace_overhead_frac"] = phase1 / ref_s - 1.0
    v["run.failed_frac"] = r.failed / max(r.attempted, 1)
    v["run.cpu_s"] = r.wall("timed/1", "cpu_s")
    v["_unreconciled"] = len(r.spans) - ok
    return v


def result(args, rec: dict, r: W.Run) -> dict:
    if args.trace:
        units = dict(PER_LAYER)
        metrics = {n: {"value": rec["per_layer"][n], "unit": units[n]}
                   for n, _ in PER_LAYER}
    else:
        values = {"setup_s": rec["setup"]["setup_s"], "wall_s": rec["wall_s"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}
