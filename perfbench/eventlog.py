"""Per-layer metrics from a Spark event log and the benchmark's spans.

Jobs are attributed to spans by their job group (``<pass>/<span>``);
jobs under another group, such as the micro-batches a streaming query
runs on its own thread, go to the innermost span open at their
submission time.  A span's metrics include those of its children.

Two sources per span:

* task metrics (``SparkListenerTaskEnd``): CPU, GC, shuffle, spill,
  output bytes, task intervals;
* SQL node metrics, by node name and metric name, from the plan
  descriptions (``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``)
  joined with task accumulator updates and driver-side updates.
  The timing metrics used here are in ms, sizes in bytes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

MIB = 1024 * 1024

#: ordinary spans (each gets cpu_s, gc_s, task_skew, tasks_failed,
#: driver_only_s)
LAYER_SPANS = [
    "tile_assign",
    "cell_directory",
    "pip_join",
    "knn",
    "zonal",
    "textops.decontaminate",
    "textops.repetition",
    "textops.entropy",
    "dedup.exact",
    "ingest",
]
TEXT_SPANS = LAYER_SPANS[5:9]


def _walk_plan(info: dict, accums: dict) -> None:
    """accumulator id → (node name, metric name) over a plan tree."""
    node = info.get("nodeName", "").split(" ")[0]
    for m in info.get("metrics", []):
        accums[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, accums)


class SpanStats:
    """Everything measured inside one span, children included."""

    def __init__(self):
        self.tasks: list[dict] = []
        self.jobs = 0
        self.sql = defaultdict(float)  # (node, metric) → raw value
        self.stage_records: dict[int, list[int]] = defaultdict(list)

    def node_metric(self, node_pred, metric: str) -> float:
        return sum(v for (n, m), v in self.sql.items() if m == metric and node_pred(n))

    def task_sum(self, key) -> float:
        return float(sum(key(t) for t in self.tasks))


def _is_python(node: str) -> bool:
    return "EvalPython" in node or "InPandas" in node


def parse(path: str, spans: list[dict]) -> dict[str, SpanStats]:
    """SpanStats per span group."""
    files = sorted(glob.glob(os.path.join(path, "*")))
    files = [f for f in files if not os.path.basename(f).startswith(".")]
    accums: dict[int, tuple[str, str]] = {}
    job_group: dict[int, str | None] = {}
    job_time: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_job: dict[int, int] = {}
    task_events: list[dict] = []
    driver_updates: list[tuple[int, list]] = []
    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    job_time[jid] = e["Submission Time"] / 1000.0
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_job.setdefault(int(ex), jid)
                elif kind == "SparkListenerTaskEnd":
                    task_events.append(e)
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(e["sparkPlanInfo"], accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((e["executionId"], e["accumUpdates"]))

    by_group = {s["group"]: s for s in spans}
    leaves = sorted(spans, key=lambda s: s["end"] - s["start"])

    def span_of_job(jid: int) -> dict | None:
        s = by_group.get(job_group.get(jid))
        if s is not None:
            return s
        t = job_time.get(jid)
        for s in leaves:  # innermost first
            if t is not None and s["start"] <= t <= s["end"]:
                return s
        return None

    def ancestors(s: dict) -> list[str]:
        out = []
        while s is not None:
            out.append(s["group"])
            s = by_group.get(s["parent"])
        return out

    stats: dict[str, SpanStats] = defaultdict(SpanStats)
    for jid in job_group:
        s = span_of_job(jid)
        if s is not None:
            for g in ancestors(s):
                stats[g].jobs += 1

    for e in task_events:
        jid = stage_job.get(e["Stage ID"])
        s = span_of_job(jid) if jid is not None else None
        if s is None:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        task = {
            "stage": e["Stage ID"],
            "launch": info["Launch Time"] / 1000.0,
            "finish": info["Finish Time"] / 1000.0,
            "failed": bool(info.get("Failed")) or info.get("Killed", False),
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "shuffle_write": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
            "records_read": sr.get("Total Records Read", 0),
            "spill": m.get("Disk Bytes Spilled", 0),
            "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            "out_records": m.get("Output Metrics", {}).get("Records Written", 0),
        }
        updates = [
            (a["ID"], a.get("Update"))
            for a in info.get("Accumulables", [])
            if a.get("Metadata") == "sql"
        ]
        for g in ancestors(s):
            st = stats[g]
            st.tasks.append(task)
            if task["records_read"]:
                st.stage_records[task["stage"]].append(task["records_read"])
            for aid, upd in updates:
                key = accums.get(aid)
                if key is not None and upd is not None:
                    st.sql[key] += float(upd)

    for ex, updates in driver_updates:
        jid = exec_job.get(ex)
        s = span_of_job(jid) if jid is not None else None
        if s is None:
            continue
        for aid, val in updates:
            key = accums.get(aid)
            if key is None:
                continue
            for g in ancestors(s):
                stats[g].sql[key] += float(val)
    return stats


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _task_skew(st: SpanStats) -> float:
    """Largest max ÷ median task run time over stages with ≥ 2 tasks
    (task times floored at 10 ms, so near-empty tasks give no ratio)."""
    by_stage = defaultdict(list)
    for t in st.tasks:
        by_stage[t["stage"]].append(max(10.0, t["run_ms"]))
    ratios = [max(v) / statistics.median(v) for v in by_stage.values() if len(v) >= 2]
    return max(ratios, default=1.0)


def span_metrics(name: str, span: dict, st: SpanStats) -> dict[str, float]:
    dur = span["end"] - span["start"]
    busy = _union_s([(t["launch"], t["finish"]) for t in st.tasks], span["start"], span["end"])
    return {
        f"{name}.cpu_s": st.task_sum(lambda t: t["cpu_ns"]) / 1e9,
        f"{name}.gc_s": st.task_sum(lambda t: t["gc_ms"]) / 1e3,
        f"{name}.task_skew": _task_skew(st),
        f"{name}.tasks_failed": float(sum(t["failed"] for t in st.tasks)),
        f"{name}.driver_only_s": max(0.0, dur - busy),
    }


def _python(st: SpanStats, metric: str) -> float:
    return st.node_metric(_is_python, metric)


def pass_metrics(pass_spans: list[dict], stats: dict[str, SpanStats],
                 extra: dict) -> dict[str, float]:
    """Per-layer metrics of one pass of one workload.  ``functions.*``
    covers whichever of the tile_assign and ingest spans the pass has."""
    by_name = {s["name"]: s for s in pass_spans}
    empty = SpanStats()

    def st(name: str) -> SpanStats:
        s = by_name.get(name)
        return stats.get(s["group"], empty) if s else empty

    def dur(name: str) -> float:
        s = by_name[name]
        return s["end"] - s["start"]

    out: dict[str, float] = {}
    for name in LAYER_SPANS:
        if name in by_name:
            out.update(span_metrics(name, by_name[name], st(name)))

    if "tile_assign" in by_name:
        ta = st("tile_assign")
        out["tile_assign.call_s"] = dur("tile_assign.call")
        out["tile_assign.exec_s"] = dur("tile_assign.exec")
        out["tile_assign.scan_s"] = ta.node_metric(lambda n: n.startswith("Scan"), "scan time") / 1e3
        out["tile_assign.shuffle_write_mb"] = ta.task_sum(lambda t: t["shuffle_write"]) / MIB
        out["tile_assign.fetch_wait_s"] = ta.task_sum(lambda t: t["fetch_wait_ms"]) / 1e3
        out["tile_assign.spill_mb"] = ta.task_sum(lambda t: t["spill"]) / MIB
        out["tile_assign.write_mb"] = ta.task_sum(lambda t: t["out_bytes"]) / MIB
        out["salt.sample_pass_s"] = ta.node_metric(
            lambda n: n == "BroadcastExchange", "time to collect") / 1e3
        out["salt.salted_cells"] = ta.node_metric(
            lambda n: n == "BroadcastExchange", "number of output rows")
        # rows per reduce task of the write stage (the one after the
        # explicit repartition)
        reduce_rows = max(ta.stage_records.values(), key=len, default=[])
        out["salt.partition_skew"] = (
            max(reduce_rows) / (sum(reduce_rows) / len(reduce_rows)) if reduce_rows else 1.0
        )
    if "tile_assign" in by_name or "ingest" in by_name:
        _functions(out, [st("tile_assign"), st("ingest")])

    if "cell_directory" in by_name:
        out["cell_directory.exec_s"] = dur("cell_directory.exec")
        out["cell_directory.cells"] = float(extra.get("n_cells", 0))
    if "pip_join" in by_name:
        pj = st("pip_join")
        cand = _python(pj, "number of output rows")
        matches = st("pip_join.exec").task_sum(lambda t: t["out_records"])
        out["pip_join.call_s"] = dur("pip_join.call")
        out["pip_join.exec_s"] = dur("pip_join.exec")
        out["pip_join.candidates"] = cand
        out["pip_join.match_ratio"] = matches / cand if cand else 0.0
        out["pip_join.python_run_s"] = _python(pj, "time to run Python workers") / 1e3
    if "knn" in by_name:
        kx = st("knn.exec")
        joins = [v for (n, m), v in kx.sql.items() if "Join" in n and m == "number of output rows"]
        cand = max(joins, default=0.0)
        out["knn.call_s"] = dur("knn.call")
        out["knn.call_jobs"] = float(st("knn.call").jobs)
        out["knn.exec_s"] = dur("knn.exec")
        out["knn.candidates"] = cand
        out["knn.useful_ratio"] = extra.get("knn_k_total", 0) / cand if cand else 0.0
    if "zonal" in by_name:
        zn = st("zonal")
        out["zonal.exec_s"] = dur("zonal.exec")
        out["zonal.python_run_s"] = _python(zn, "time to run Python workers") / 1e3
        out["zonal.shuffle_write_mb"] = zn.task_sum(lambda t: t["shuffle_write"]) / MIB
    if "textops.decontaminate" in by_name:
        for op in ("decontaminate", "repetition", "entropy"):
            out[f"textops.{op}.call_s"] = dur(f"textops.{op}.call")
            out[f"textops.{op}.exec_s"] = dur(f"textops.{op}.exec")
        out["dedup.exact.exec_s"] = dur("dedup.exact.exec")
        tx = [st(n) for n in TEXT_SPANS]
        out["textops.shuffle_write_mb"] = sum(s.task_sum(lambda t: t["shuffle_write"]) for s in tx) / MIB
        out["textops.spill_mb"] = sum(s.task_sum(lambda t: t["spill"]) for s in tx) / MIB
        out["textops.fetch_wait_s"] = sum(s.task_sum(lambda t: t["fetch_wait_ms"]) for s in tx) / 1e3
    if "ingest" in by_name:
        prog = extra.get("progress", [])
        trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in prog if p["rows"]]
        out["ingest.batches"] = float(len(prog))
        out["ingest.microbatch_s"] = statistics.median(trig) if trig else 0.0
        out["ingest.add_batch_s"] = sum(p["duration_ms"].get("addBatch", 0) for p in prog) / 1e3
        out["ingest.planning_s"] = sum(p["duration_ms"].get("queryPlanning", 0) for p in prog) / 1e3
        out["ingest.state_rows"] = float(prog[-1]["state_rows"]) if prog else 0.0
        out["ingest.state_commit_s"] = sum(p["state_commit_ms"] for p in prog) / 1e3
    return out


def _functions(out: dict, sts: list[SpanStats]) -> None:
    """The Arrow kernels of ``functions`` (geocode, extract, H3/S2) run in
    the tile_assign and ingest spans."""
    out["functions.python_run_s"] = sum(_python(s, "time to run Python workers") for s in sts) / 1e3
    # "time to initialize Python workers" is reported again on every task
    # a reused worker runs, so only the start time adds up
    out["functions.python_boot_s"] = sum(_python(s, "time to start Python workers") for s in sts) / 1e3
    out["functions.arrow_sent_mb"] = sum(_python(s, "data sent to Python workers") for s in sts) / MIB
    out["functions.arrow_recv_mb"] = sum(_python(s, "data returned from Python workers") for s in sts) / MIB
    out["functions.rows"] = sum(_python(s, "number of output rows") for s in sts)


def coverage(pass_span: dict, children: list[dict]) -> float:
    """Sum of the pass's child span times ÷ pass time."""
    d = pass_span["end"] - pass_span["start"]
    return sum(c["end"] - c["start"] for c in children) / d if d > 0 else 0.0
