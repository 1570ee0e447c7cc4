"""gips_spark benchmark: one workload, one closed-loop client, one pass
at a time, at local[<cores>].

    python3 perfbench/run.py --workload assign_query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Set-up starts Spark, selects the
seed's inputs and runs the workload's fixed number of warm-up passes
(``warm_passes``); then passes run back to back for ``--seconds``, at
least ``MIN_TIMED_PASSES``, and job_s is their median.  The outputs of
every pass, warm-up passes included, are checked with DuckDB afterwards
(perfbench/oracles.py), so a run checks at least two passes.  The last line of stdout is the result JSON; the
line before it is the run record (stamps, input sizes, every sample).

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` is the
traced run: it measures the workload untraced for half the window,
restarts the SparkContext with the event log on, runs one warm-up pass
of the other workload, measures the workload traced for the other
half, then runs one traced pass of the other workload so that every
layer is covered; it reports the per-layer metrics
(perfbench/eventlog.py) plus ``trace.coverage`` and
``trace.overhead_frac``.  See perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

REPO = os.getcwd()
#: timed passes per untraced run, whatever --seconds says; job_s is
#: their median, so no single pass sets it
MIN_TIMED_PASSES = 2


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds < 0:
        p.error("--seed and --seconds must not be negative")
    return args


def _stamp(seed: int, n_cores: int) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(os.path.join(REPO, "gips_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "cores": n_cores,
        "git_sha": sha,
        "source_sha256": h.hexdigest()[:16],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "seed": seed,
        "note": "local[cores] closed loop; not comparable with bench.py / "
                "BENCH_r*.json (local[32], min-of-N)",
    }


class Ctx:
    def __init__(self, session, tracer, dirs, seed):
        self.session, self.tracer, self.dirs, self.seed = session, tracer, dirs, seed
        self.pools = None
        self.stream = None
        self.traced_since = 0.0

    @property
    def spark(self):
        return self.session.spark


class Runner:
    """Runs passes of one workload and keeps what they produced.

    ``results`` holds the output of every pass that returned, warm-up
    passes included, for the checks; ``timed`` holds (pass id, seconds)
    of the timed passes only."""

    def __init__(self, ctx, wl, inp):
        self.ctx, self.wl, self.inp = ctx, wl, inp
        self.results: list[tuple[str, dict]] = []
        self.timed: list[tuple[str, float]] = []
        self.failed = 0
        self.jvm_died = False

    def pid(self, tag: str) -> str:
        return f"{self.wl.name}-{tag}"

    def in_loop(self, pid: str, tag: str) -> bool:
        """Whether ``pid`` is a pass of the loop tagged ``tag``."""
        head = self.pid(tag)
        return pid.startswith(head) and pid[len(head):].isdigit()

    def times(self, tag: str) -> list[float]:
        """Durations of the timed passes of the loop tagged ``tag``."""
        return [dt for pid, dt in self.timed if self.in_loop(pid, tag)]

    def one(self, tag: str, timed: bool = True) -> None:
        from perfbench.harness import JvmDied

        pid = self.pid(tag)
        t0 = time.monotonic()
        try:
            with self.ctx.tracer.span("pass", pid):
                res = self.wl.run_pass(self.ctx, self.inp, pid)
        except Exception as exc:
            if not self.ctx.session.jvm_alive():
                raise JvmDied(f"Spark JVM died during pass {pid}") from exc
            print(f"perfbench: pass {pid} failed: {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        dt = time.monotonic() - t0
        print(f"perfbench: pass {pid} {dt:.3f} s", file=sys.stderr)
        self.results.append((pid, res))
        if timed:
            self.timed.append((pid, dt))

    def warm(self, passes: int, tag: str = "warm") -> None:
        """Untimed passes; their outputs are still checked."""
        for i in range(passes):
            self.one(f"{tag}{i}", timed=False)

    def loop(self, seconds: float, tag: str, min_passes: int = 1) -> None:
        """Closed loop: passes back to back until ``seconds`` have passed
        and at least ``min_passes`` have run."""
        from perfbench.harness import JvmDied

        t0, n = time.monotonic(), 0
        while n < min_passes or time.monotonic() - t0 < seconds:
            try:
                self.one(f"{tag}{n}")
            except JvmDied as exc:
                print(f"perfbench: {exc}; counting the rest of the window as failed",
                      file=sys.stderr)
                self.jvm_died = True
                left = max(0.0, seconds - (time.monotonic() - t0))
                done = self.times(tag)
                per = statistics.median(done) if done else seconds
                self.failed += 1 + int(left // max(per, 1e-3))
                return
            n += 1


def _check(wl_name: str, runner) -> int:
    from perfbench.workloads import CHECKS

    if not runner.results:
        return 0
    verdicts = CHECKS[wl_name](runner.inp, runner.results)
    bad = 0
    for pid, msgs in verdicts.items():
        for m in msgs:
            print(f"perfbench: check failed in {pid}: {m}", file=sys.stderr)
        bad += bool(msgs)
    return bad


def _layer_metrics(ctx, runners, own) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics of the traced passes, and trace coverage per
    workload."""
    from perfbench import eventlog

    traced = [s for s in ctx.tracer.spans if s["start"] >= ctx.traced_since]
    stats = eventlog.parse(ctx.dirs.path("events"), traced)
    out: dict[str, float] = {}
    cover: dict[str, float] = {}
    for r in runners:
        vals: dict[str, list[float]] = {}
        cov = []
        for pid, res in r.results:
            if not r.in_loop(pid, "tr"):
                continue
            ps = [s for s in traced if s["pass"] == pid]
            root = next((s for s in ps if s["name"] == "pass"), None)
            if root is None:
                continue
            extra = {
                "n_cells": res.get("n_cells", 0),
                "progress": res.get("progress", []),
                "knn_k_total": (
                    int(r.inp["queries_pdf"]["k"].sum()) if "queries_pdf" in r.inp else 0
                ),
            }
            for k, v in eventlog.pass_metrics(ps, stats, extra).items():
                vals.setdefault(k, []).append(v)
            cov.append(eventlog.coverage(root, [s for s in ps if s["parent"] == root["group"]]))
        for k, v in vals.items():
            med = statistics.median(v)
            # functions.* is measured in both workloads: sum one pass of each
            out[k] = out.get(k, 0.0) + med if k.startswith("functions.") else med
        if cov:
            cover[r.wl.name] = statistics.median(cov)
    # the workload whose spans explain least of its pass time
    out["trace.coverage"] = min(cover.values(), default=0.0)
    traced_own, untraced_own = own.times("tr"), own.times("u")
    out["trace.overhead_frac"] = (
        statistics.median(traced_own) / statistics.median(untraced_own) - 1.0
        if traced_own and untraced_own else 0.0
    )
    return out, cover


def run(args) -> tuple[dict, dict]:
    from perfbench.harness import RunDirs, cores
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    n_cores = cores()
    record = {"workload": wl.name, **_stamp(args.seed, n_cores)}
    dirs = RunDirs(REPO)
    try:
        return _run(args, wl, record, dirs, n_cores)
    finally:
        dirs.close()


def _prepare(ctx, wl):
    return Runner(ctx, wl, wl.prepare(ctx, ctx.dirs.path("inputs", wl.name)))


def _run(args, wl, record, dirs, n_cores) -> tuple[dict, dict]:
    from perfbench import inputs
    from perfbench.harness import JvmDied, MemorySampler, Session, Tracer
    from perfbench.workloads import WORKLOADS, StreamProgress

    session = Session(REPO, dirs, n_cores)
    ctx = Ctx(session, Tracer(session), dirs, args.seed)
    runners, own = [], None
    jvm_died = False
    setup: dict[str, float] = {}
    peak_mb = 0.0

    def timed(part, fn):
        t0 = time.monotonic()
        out = fn()
        setup[part] = time.monotonic() - t0
        return out

    try:
        timed("session_s", lambda: session.start(event_log=False))
        ctx.stream = StreamProgress()
        ctx.stream.attach(ctx.spark)
        ctx.pools = timed("pool_s", lambda: inputs.pools(ctx.spark, REPO))
        own = timed("prepare_s", lambda: _prepare(ctx, wl))
        runners.append(own)
        timed("warm_s", lambda: own.warm(wl.warm_passes))
        if not args.trace:
            with MemorySampler() as mem:
                mem.active.set()
                own.loop(args.seconds, "t", MIN_TIMED_PASSES)
                mem.active.clear()
            # memory grows from pass to pass, so the peak over the whole
            # window would depend on how many passes fit in it
            per_pass = [
                mem.peak_mb_between(s["start"], s["end"]) for s in ctx.tracer.spans
                if s["name"] == "pass" and own.in_loop(s["pass"], "t")
            ]
            peak_mb = statistics.median(per_pass)
            record["peak_mb"] = {
                "window": mem.peak_mb,
                "jvm": mem.peak_jvm_kb / 1024,
                "python": mem.peak_python_kb / 1024,
                "per_pass": per_pass,
            }
        else:
            alt = _prepare(ctx, next(w for w in WORKLOADS.values() if w is not wl))
            runners.append(alt)
            own.loop(args.seconds / 2, "u")
            session.restart(event_log=True)
            ctx.stream.attach(ctx.spark)
            for r in runners:
                r.wl.load(ctx, r.inp)
            ctx.traced_since = time.time()
            # the other workload's warm-up pass also starts the new
            # context's Python workers
            alt.warm(1)
            own.loop(args.seconds / 2, "tr")
            alt.loop(0, "tr")
    except JvmDied as exc:
        # during set-up or warm-up; the timed loop handles its own
        print(f"perfbench: {exc}", file=sys.stderr)
        jvm_died = True
    finally:
        session.stop()
    jvm_died = jvm_died or any(r.jvm_died for r in runners)
    record["setup"] = setup

    t0 = time.monotonic()
    bad = sum(_check(r.wl.name, r) for r in runners)
    record["check_s"] = time.monotonic() - t0
    attempted = sum(len(r.results) + r.failed for r in runners)
    failed = bad + sum(r.failed for r in runners)
    if jvm_died:
        attempted, failed = max(attempted, 1), max(failed, 1)
    record["sizes"] = {r.wl.name: r.wl.sizes(r.inp) for r in runners}
    record["passes"] = {r.wl.name: dict(r.timed) for r in runners}
    if own is None:
        metrics = {}
    elif args.trace:
        metrics = {}
        if not jvm_died:
            layer, cover = _layer_metrics(ctx, runners, own)
            metrics = {k: {"value": v} for k, v in layer.items()}
            record["trace_coverage"] = cover
    else:
        times = own.times("t")
        job_s = statistics.median(times) if times else 0.0
        rows = wl.rows(own.inp)
        timed_ids = {pid for pid, _ in own.timed}
        # layer times of every pass, warm-up passes included, by pass id
        layer_s: dict[str, dict[str, float]] = {}
        for s in ctx.tracer.spans:
            if s["name"] != "pass":
                layer_s.setdefault(s["pass"], {})[s["name"]] = s["end"] - s["start"]
        record["layer_s"] = layer_s
        record["rows_per_pass"] = rows
        if wl.name == "text_stream":
            trig = [p["duration_ms"].get("triggerExecution", 0) / 1e3
                    for pid, res in own.results if pid in timed_ids
                    for p in res["progress"] if p["rows"]]
            record["microbatch_s"] = {
                "median": statistics.median(trig) if trig else None, "n": len(trig),
            }
        metrics = {
            "setup_s": {"value": sum(setup.values())},
            "job_s": {"value": job_s},
            "rows_per_s": {"value": rows / job_s if job_s else 0.0},
            "peak_rss_mb": {"value": peak_mb},
        }
    record["ops_failed_frac"] = failed / attempted if attempted else 1.0
    result = {
        "correct": not jvm_died and failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def main(argv=None) -> int:
    args = _args(argv)
    # turn SIGTERM into SystemExit so the finally blocks stop Spark and
    # remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "gips_spark")):
        print("perfbench: no gips_spark/ here; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    record, result = run(args)
    units = {m["name"]: m["unit"] for m in _declared(args.trace)}
    measured = result["metrics"]
    result["metrics"] = {
        k: {"value": m["value"], "unit": units[k]} for k, m in measured.items() if k in units
    }
    # measured but not declared: zero at this input size on this host
    # (shuffle fetch wait, spill, failed tasks, worker start once the
    # other workload's warm-up has started the workers), kept in the record
    record["undeclared"] = {k: m["value"] for k, m in measured.items() if k not in units}
    print(json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _declared(trace: int) -> list[dict]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
