"""Turns one run's raw record (written by the harness JVM) into metrics.

End-to-end metrics are the same five on every workload; `op_p50_ms` is the
median latency of the workload's headline operation (graph-analytics: one
pass over the call list, summed from per-call medians; index-churn: one
search batch; stream-ingest: one file, from its scheduled landing to the
end of the micro-batch that committed it). Per-layer metrics are printed on
every workload and read 0 where the workload does not touch that layer.
"""

import gen
import stats

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_ok_ratio": "ratio",
    "driver_live_heap_mb": "MB",
    "op_p50_ms": "ms",
}

GRAPH_CALLS = ("coloring", "louvain", "coreness", "pagerank_converged", "sssp_fixpoint", "bfs", "cc")

PER_LAYER = {
    **{f"graph.{c}_ms": "ms" for c in GRAPH_CALLS},
    "graph.jobs_per_call": "count",
    "graph.ms_per_job": "ms",
    "graph.driver_gap_frac": "ratio",
    "graph.checkpoints_per_call": "count",
    "graph.task_busy_frac": "ratio",
    "graph.shuffle_mb_per_call": "MB",
    "knng.search_jobs": "count",
    "knng.search_input_mb": "MB",
    "knng.search_driver_gap_frac": "ratio",
    "knng.search_tail_ms": "ms",
    "knng.recall_at_5": "ratio",
    "knng.append_ms": "ms",
    "knng.append_jobs": "count",
    "knng.consolidate_ms": "ms",
    "knng.consolidate_jobs": "count",
    "knng.consolidate_written_mb": "MB",
    "knng.stored_bytes_per_live_byte": "ratio",
    "commitlog.files_per_member": "count",
    "commitlog.commits_per_append": "count",
    "tomb.delete_ms": "ms",
    "tomb.delete_jobs": "count",
    "tomb.delete_commits": "count",
    "manifest.vacuum_ms": "ms",
    "manifest.vacuum_reclaimed_dirs": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_mb": "MB",
    "stream.sink_merge_ms": "ms",
    "stream.sink_commits_per_batch": "count",
    "stream.jobs_per_batch": "count",
    "stream.nodata_batch_frac": "ratio",
    "stream.generator_late_ms_max": "ms",
    "stream.lag_tail_ms": "ms",
    "jvm.gc_ms_per_s": "ms/s",
    "trace.overhead_frac": "ratio",
    "trace.bench_self_frac": "ratio",
}

MB = 1e6


def _med(xs):
    xs = [x for x in xs if x is not None]
    return stats.median(xs) if xs else 0.0


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Record:
    """Accessors over the harness record."""

    def __init__(self, record):
        self.values = record["values"]
        self.ops = record["ops"]
        self.spans = record["spans"]
        self.jobs = {}
        for j in record["jobs"]:
            self.jobs.setdefault(j["op"], []).append(j)
        self.op_stats = {int(k): v for k, v in record["op_stats"].items()}

    def of(self, kind):
        return [o for o in self.ops if o["kind"] == kind]

    def ms(self, o):
        return o["end"] - o["start"]

    def traced(self, kind):
        return [o for o in self.of(kind) if o["traced"]]

    def jobs_of(self, o):
        return self.jobs.get(o["id"], [])

    def stat(self, o, name):
        return self.op_stats.get(o["id"], {}).get(name, 0.0)

    def gap_frac(self, o):
        """Share of the op's wall time not covered by any of its jobs."""
        ivs = [(j["start"], j["end"] if j["end"] is not None else o["end"]) for j in self.jobs_of(o)]
        return 1.0 - stats.covered(ivs, o["start"], o["end"]) / self.ms(o)


def _common_e2e(rec, gen_s, attempted, failed):
    return {
        "setup_s": gen_s + rec.values["session_s"] + rec.values["setup_in_jvm_s"],
        "op_ok_ratio": stats.ok_ratio(attempted, failed),
        "driver_live_heap_mb": rec.values["driver_live_heap_mb"],
    }


def _graph(rec, layer):
    per_call = {c: _med([rec.ms(o) for o in rec.of(c)]) for c in GRAPH_CALLS}
    suite_ms = sum(per_call.values())
    e2e = {"op_p50_ms": suite_ms, "ops_per_s": len(GRAPH_CALLS) / (suite_ms / 1000.0)}
    if layer is not None:
        traced = [o for o in rec.ops if o["traced"] and o["kind"] in GRAPH_CALLS]
        jobs = sum(len(rec.jobs_of(o)) for o in traced)
        busy = sum(rec.stat(o, "task_ms") for o in traced)
        wall = sum(rec.ms(o) for o in traced)
        layer.update({f"graph.{c}_ms": per_call[c] for c in GRAPH_CALLS})
        layer.update({
            "graph.jobs_per_call": jobs / len(traced),
            "graph.ms_per_job": wall / jobs,
            "graph.driver_gap_frac": _mean(rec.gap_frac(o) for o in traced),
            "graph.checkpoints_per_call": _mean(rec.stat(o, "new_persisted_rdds") for o in traced),
            "graph.task_busy_frac": busy / (wall * rec.values["cores"]),
            "graph.shuffle_mb_per_call": _mean(rec.stat(o, "shuffle_write_bytes") / MB for o in traced),
        })
    return e2e


def _index(rec, layer):
    med = {k: _med([rec.ms(o) for o in rec.of(k)]) for k in set(gen.CYCLE)}
    cycle_ms = sum(med[k] for k in gen.CYCLE)
    e2e = {"op_p50_ms": med["search"], "ops_per_s": len(gen.CYCLE) / (cycle_ms / 1000.0)}
    if layer is not None:
        searches = [rec.ms(o) for o in rec.of("search")]
        t = stats.tail(searches)
        maintain = rec.of("maintain")
        live = rec.values["live_payload_bytes"]
        layer.update({
            "knng.search_jobs": _mean(len(rec.jobs_of(o)) for o in rec.traced("search")),
            "knng.search_input_mb": _mean(rec.stat(o, "input_bytes") / MB for o in rec.traced("search")),
            "knng.search_driver_gap_frac": _mean(rec.gap_frac(o) for o in rec.traced("search")),
            "knng.search_tail_ms": t[1] if t else max(searches),
            "knng.recall_at_5": _mean(o["recall"] for o in rec.of("search") if "recall" in o),
            "knng.append_ms": med["append"],
            "knng.append_jobs": _mean(len(rec.jobs_of(o)) for o in rec.traced("append")),
            "knng.consolidate_ms": med["maintain"],
            "knng.consolidate_jobs": _mean(len(rec.jobs_of(o)) for o in rec.traced("maintain")),
            "knng.consolidate_written_mb": _mean(rec.stat(o, "output_bytes") / MB for o in rec.traced("maintain")),
            "knng.stored_bytes_per_live_byte": rec.values["stored_bytes"] / live,
            "commitlog.files_per_member": _mean(rec.values["files_per_member"]),
            "commitlog.commits_per_append": _mean(o["commits"] for o in rec.traced("append")),
            "tomb.delete_ms": med["delete"],
            "tomb.delete_jobs": _mean(len(rec.jobs_of(o)) for o in rec.traced("delete")),
            "tomb.delete_commits": _mean(o["commits"] for o in rec.traced("delete")),
            "manifest.vacuum_ms": _med([o["vacuum_ms"] for o in maintain if "vacuum_ms" in o]),
            "manifest.vacuum_reclaimed_dirs": _mean(o["reclaimed_dirs"] for o in maintain if "reclaimed_dirs" in o),
        })
    return e2e


def _stream_files(rec):
    ends = rec.values["batch_end"]
    return [dict(f, lag=ends[str(f["batch"])] - f["due"]) if str(f["batch"]) in ends else dict(f, lag=None)
            for f in rec.values["files"]]


def _stream(rec, layer):
    files = _stream_files(rec)
    lags = [f["lag"] for f in files if f["lag"] is not None]
    done = [f for f in files if f["lag"] is not None]
    span_ms = max(f["due"] + f["lag"] for f in done) - min(f["due"] for f in files)
    e2e = {"op_p50_ms": stats.median(lags),
           "ops_per_s": sum(f["events"] for f in done) / (span_ms / 1000.0)}
    if layer is not None:
        w0 = min(f["due"] for f in files)
        window = [o for o in rec.of("batch") if o["start"] >= w0 and o["end"] <= rec.values["window_end"]]
        ids = {o["batch_id"] for o in window}
        prog = [p for p in rec.values["progress"] if p["batch"] in ids]
        data = [p for p in prog if p["input_rows"] > 0]
        dur = lambda k: _med([p["duration_ms"].get(k) for p in data])
        t = stats.tail(lags)
        traced = [o for o in window if o["traced"]]
        layer.update({
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.state_commit_ms": _med([p["state_commit_ms"] for p in data]),
            "stream.state_rows": _med([p["state_rows"] for p in prog]),
            "stream.state_memory_mb": _med([p["state_memory_bytes"] / MB for p in prog]),
            "stream.sink_merge_ms": _med([o.get("sink_merge_ms") for o in window]),
            "stream.sink_commits_per_batch": _mean(o["sink_commits"] for o in window),
            "stream.jobs_per_batch": _mean(len(rec.jobs_of(o)) for o in traced),
            "stream.nodata_batch_frac": (len(prog) - len(data)) / len(prog) if prog else 0.0,
            "stream.generator_late_ms_max": max(f["landed"] - f["due"] for f in files),
            "stream.lag_tail_ms": t[1] if t else max(lags),
        })
    return e2e


def _failures(workload, rec):
    if workload != "stream-ingest":
        return stats.failures(rec.ops)
    failed_batches = {o["batch_id"] for o in rec.of("batch") if not o["ok"]}
    files = rec.values["files"]
    bad = [f for f in files if f["batch"] < 0 or f["wrong_users"] > 0 or f["batch"] in failed_batches]
    return len(files), len(bad)


def _overhead(workload, rec):
    """Traced against untraced latency of the same operations in this run."""
    if workload == "stream-ingest":
        traced_batches = {o["batch_id"] for o in rec.of("batch") if o["traced"]}
        lags = [(f["batch"] in traced_batches, f["lag"]) for f in _stream_files(rec) if f["lag"] is not None]
        return stats.overhead([l for t, l in lags if t], [l for t, l in lags if not t])
    shares = []
    for kind in {o["kind"] for o in rec.ops}:
        ov = stats.overhead([rec.ms(o) for o in rec.of(kind) if o["traced"]],
                            [rec.ms(o) for o in rec.of(kind) if not o["traced"]])
        if ov is not None:
            shares.append(ov)
    return _mean(shares) if shares else None


def _bench_self_frac(rec):
    """Share of traced op time spent in the harness, outside the spans
    around the engine's public calls (root op span self time)."""
    by_id = {s["id"]: s for s in rec.spans}
    children = {}
    for s in rec.spans:
        children.setdefault(s["parent"], []).append(s)
    roots = [s for s in rec.spans
             if s["op"] and by_id.get(s["parent"], {}).get("op") != s["op"]]
    total = sum(s["end"] - s["start"] for s in roots)
    own = sum(stats.self_time(s, children.get(s["id"], [])) for s in roots)
    return own / total if total else 0.0


def summarize(workload, record, gen_s, traced):
    rec = Record(record)
    attempted, failed = _failures(workload, rec)
    layer = {} if traced else None
    e2e = _common_e2e(rec, gen_s, attempted, failed)
    e2e.update({"graph-analytics": _graph, "index-churn": _index, "stream-ingest": _stream}[workload](rec, layer))
    if traced:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(layer)
        values["jvm.gc_ms_per_s"] = rec.values["gc_ms_per_s"]
        ov = _overhead(workload, rec)
        values["trace.overhead_frac"] = ov if ov is not None else 0.0
        values["trace.bench_self_frac"] = _bench_self_frac(rec)
        out = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
