"""Statistics for the benchmark: percentiles with a minimum-tail rule, span
self time, and the per-layer aggregation of a traced run's op records."""
from __future__ import annotations

import statistics
from collections import defaultdict

FS_OPS = ("getFileStatus", "listStatus", "open", "create", "rename", "delete", "mkdirs")
# Layers from outermost to innermost; a span's parent is the innermost
# enclosing span of an outer layer within the same op.
SPAN_LAYERS = ("op", "catalyst", "job", "stage", "storage")
TAIL_SAMPLES = 10


def percentile(values, q: float):
    """Linear-interpolated q-quantile, or None when it is not backed by data.

    A tail percentile (q > 0.5) needs at least TAIL_SAMPLES samples beyond
    it, so p90 is reported only from 100 samples on."""
    n = len(values)
    if n == 0:
        return None
    if q > 0.5 and n * (1.0 - q) < TAIL_SAMPLES - 1e-9:
        return None
    xs = sorted(values)
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def kind_median(ops):
    """Median over op names of each name's median latency, so that how many
    ops of each kind a run happened to finish does not move it; None when
    there are no ops. A mixed workload's plain median sits on the boundary
    between the latency modes of its op kinds and jumps between them."""
    by_name = defaultdict(list)
    for o in ops:
        by_name[o["name"]].append(o["ms"])
    return percentile([statistics.median(v) for v in by_name.values()], 0.5)


def union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def assign_ops(spans):
    """Give window-attributed spans (op == -1) the op whose interval holds
    their start; spans outside every op are dropped."""
    ops = sorted((s["start"], s["end"], s["op"]) for s in spans if s["layer"] == "op")
    out = []
    for s in spans:
        if s["op"] != -1:
            out.append(s)
            continue
        for start, end, op in ops:
            if start <= s["start"] <= end:
                out.append(dict(s, op=op))
                break
    return out


def self_times(spans) -> dict[str, float]:
    """Sum of self time per layer: each span's length minus the union of its
    children, clipped to it. A child is a span of an inner layer of the same
    op whose start lies in the parent and that has no tighter parent."""
    by_op = defaultdict(list)
    for s in assign_ops(spans):
        by_op[s["op"]].append(s)
    rank = {l: i for i, l in enumerate(SPAN_LAYERS)}
    totals = {l: 0.0 for l in SPAN_LAYERS}
    for group in by_op.values():
        group = [s for s in group if s["layer"] in rank]
        parents = [s for s in group if s["layer"] != "storage"]
        children = defaultdict(list)
        for c in group:
            best = None
            for p in parents:
                if rank[p["layer"]] < rank[c["layer"]] and p["start"] <= c["start"] <= p["end"]:
                    if best is None or rank[p["layer"]] > rank[best["layer"]] or (
                            rank[p["layer"]] == rank[best["layer"]] and p["end"] - p["start"] < best["end"] - best["start"]):
                        best = p
            if best is not None:
                children[id(best)].append(c)
        for p in group:
            kids = [(max(c["start"], p["start"]), min(c["end"], p["end"])) for c in children[id(p)]]
            totals[p["layer"]] += (p["end"] - p["start"]) - union_ms([k for k in kids if k[1] > k[0]])
    return totals


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def tracing_overhead_ms(ops) -> float:
    """Median over op names of (median traced - median untraced) latency."""
    t, u = defaultdict(list), defaultdict(list)
    for o in ops:
        (t if o["traced"] else u)[o["name"]].append(o["ms"])
    diffs = [statistics.median(t[n]) - statistics.median(u[n]) for n in t if n in u]
    return statistics.median(diffs) if diffs else 0.0


def layer_metrics(ops, cores: int, spans=None, write_amp=0.0) -> dict[str, float]:
    """Per-layer metrics of the traced ops of a run, averaged per op."""
    traced = [o for o in ops if o["traced"] and "fs" in o]
    n = max(len(traced), 1)
    m: dict[str, float] = {}
    fs_tot = defaultdict(float)
    for o in traced:
        for k, v in o["fs"].items():
            fs_tot[k] += v
    for op in FS_OPS:
        m[f"storage.{op}.calls"] = fs_tot[f"{op}.calls"] / n
        m[f"storage.{op}.ms"] = fs_tot[f"{op}.ns"] / 1e6 / n
    m["storage.read_bytes"] = fs_tot["read_bytes"] / n
    m["storage.write_bytes"] = fs_tot["write_bytes"] / n
    m["storage.data_read_bytes"] = fs_tot["data_read_bytes"] / n
    m["storage.metadata_read_bytes"] = (fs_tot["read_bytes"] - fs_tot["data_read_bytes"]) / n
    m["storage.not_found"] = fs_tot["not_found"] / n

    def fs_calls(o):
        return sum(o["fs"][f"{op}.calls"] for op in FS_OPS)

    commits = [o for o in traced if o["kind"] == "commit" and o.get("table")]
    reads = [o for o in traced if o["kind"] == "read" and o.get("table")]
    m["catalog.fs_calls_per_commit"] = _mean([fs_calls(o) for o in commits])
    m["catalog.getFileStatus_per_commit"] = _mean([o["fs"]["getFileStatus.calls"] for o in commits])
    m["catalog.listStatus_per_commit"] = _mean([o["fs"]["listStatus.calls"] for o in commits])
    m["catalog.renames_per_commit"] = _mean([o["fs"]["rename.calls"] for o in commits])
    m["catalog.fs_ms_per_commit"] = _mean([sum(o["fs"][f"{op}.ns"] for op in FS_OPS) / 1e6 for o in commits])
    m["catalog.data_files_created_per_commit"] = _mean([o["fs"]["data_files_created"] for o in commits])
    m["catalog.write_amp"] = write_amp
    m["catalog.fs_calls_per_read"] = _mean([fs_calls(o) for o in reads])

    lay = [o["layers"] for o in traced]
    tot = defaultdict(float)
    for l in lay:
        for k, v in l.items():
            if k != "job_intervals":
                tot[k] += v
    m["catalyst.analysis_ms"] = tot["analysis_ms"] / n
    m["catalyst.optimization_ms"] = tot["optimization_ms"] / n
    m["catalyst.planning_ms"] = tot["planning_ms"] / n
    m["catalyst.executions_per_op"] = tot["executions"] / n
    job_ms = [union_ms(o["layers"]["job_intervals"]) for o in traced]
    m["spark_jobs.jobs_per_op"] = tot["jobs"] / n
    m["spark_jobs.stages_per_op"] = tot["stages"] / n
    m["spark_jobs.tasks_per_op"] = tot["tasks"] / n
    m["spark_jobs.job_ms"] = sum(job_ms) / n
    m["spark_jobs.driver_gap_ms"] = sum(max(0.0, o["ms"] - j) for o, j in zip(traced, job_ms)) / n
    m["spark_jobs.task_run_ms"] = tot["task_run_ms"] / n
    m["spark_jobs.task_cpu_ms"] = tot["task_cpu_ms"] / n
    m["spark_jobs.task_wait_ms"] = tot["task_wait_ms"] / n
    m["spark_jobs.core_util"] = tot["task_run_ms"] / (sum(job_ms) * cores) if sum(job_ms) > 0 else 0.0
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"spark_jobs.{k}"] = tot[k] / n
    q = [o for o in traced if "build_ms" in o]
    m["operators.build_ms"] = _mean([o["build_ms"] for o in q])
    m["operators.action_ms"] = _mean([o["action_ms"] for o in q])
    m["jvm.gc_ms"] = sum(o["gc_ms"] for o in traced) / n
    m["jvm.gc_count"] = sum(o["gc_count"] for o in traced) / n
    st = self_times(spans or [])
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_ms"] = st[layer] / n
    m["trace.overhead_ms"] = tracing_overhead_ms(ops)
    return m
