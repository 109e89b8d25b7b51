#!/usr/bin/env python3
"""Benchmark of the quality-filter engine's public entry points.

    python3 perfbench/run.py --workload images_full --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the seeded input (cached per seed
under ``perfbench/.cache``), runs the workload in a fresh driver process
(``worker.py``) while sampling that process tree's PSS from ``/proc``,
checks every iteration's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. The metrics are the
``end_to_end`` entries of ``BENCHMARK.json`` with ``--trace 0`` and its
``per_layer`` entries with ``--trace 1``. The full result of the run
(host load, foreign processes, every iteration, spans, event-log
rollups) is written to ``perfbench/.out`` when the run ends.

Exit codes: 0 when every check passed, 1 when a check failed (the
result line still prints), 2 when the run could not be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")
WORKER_TIMEOUT_S = 150

# Input sizes per workload (why each: BENCHMARK.json and WORKLOADS.md).
SIZES = {
    "images_full": {"base_rows": 500, "tiles": 8, "shards": 16},
    "images_resume": {"base_rows": 500, "tiles": 8, "shards": 16},
    "corpus_prep": {"docs": 1000},
    "caption_stream": {"base_rows": 500, "tiles": 16, "shards": 16},
}

# spans whose wall time is reported as "<span>_s"
SPANS = (
    "operators.neardup.map", "operators.cascade.build", "operators.cascade.rollup",
    "sources.checkpoint.write", "functions.image.decode", "operators.scrub.scrub",
    "plans.corpus.build", "operators.lines.clean", "operators.dedup.lsh",
    "functions.training.train", "operators.packing.pack", "streaming.stream.drain",
)
# figures a workload's probes return (workloads.Workload.probes)
PROBE_FIGURES = (
    "functions.image.rows_per_s", "operators.dedup.lsh_candidates",
    "streaming.stream.batches", "streaming.stream.trigger_ms",
    "streaming.stream.add_batch_ms", "streaming.stream.state_rows",
    "streaming.stream.input_rows",
)
SPAN_JOBS = {
    "operators.neardup.map": "operators.neardup.jobs",
    "operators.cascade.build": "operators.cascade.build_jobs",
    "plans.corpus.build": "plans.corpus.jobs",
}


# ---- processes seen from outside -------------------------------------------

def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command line) for every readable process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace").strip()
        except (OSError, IndexError, ValueError):
            continue
        table[int(name)] = (ppid, cmd)
    return table


def _tree(table: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_snapshot() -> dict:
    """Load average, stolen CPU time, and every Spark or Python process
    not started by this run: a run measured beside one is contaminated."""
    table = _proc_table()
    mine = _tree(table, os.getpid())
    pid = os.getpid()
    while pid in table and pid > 1:  # ancestors are not foreign either
        mine.add(pid)
        pid = table[pid][0]
    def spark_or_python(cmd: str) -> bool:
        exe = os.path.basename(cmd.split(" ")[0])
        return exe.startswith("python") or (exe == "java" and "spark" in cmd.lower())

    foreign = [
        f"{p}: {cmd[:120]}"
        for p, (_, cmd) in sorted(table.items())
        if p not in mine and spark_or_python(cmd)
    ]
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        # CPU time the hypervisor gave to other guests, all CPUs
        steal_s = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"time": time.time(), "loadavg": load, "steal_s": steal_s, "foreign": foreign}


class PssSampler(threading.Thread):
    """Peak summed PSS of a process tree (driver JVM plus Python workers)."""

    def __init__(self, root_pid: int, interval: float = 1.0):
        super().__init__(daemon=True)
        self.root_pid, self.interval = root_pid, interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pids = _tree(_proc_table(), self.root_pid)
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's session and wait for them."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


# ---- one run ---------------------------------------------------------------

def run_worker(workload: str, seed: int, seconds: float, trace: int,
               sizes: dict, tag: str) -> dict:
    """Run one workload in a fresh driver process; returns its raw result
    plus ``peak_pss_mb`` and the host snapshots."""
    from workloads import WORKLOADS

    cfg = sizes[workload]
    WORKLOADS[workload].make_input(cfg, CACHE, seed)  # untimed, cached
    work = os.path.join(WORK, f"{tag}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(OUT, f"{tag}.log")
    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        # Python workers unpickle engine functions by module path
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    host_start = host_snapshot()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--config", json.dumps(cfg),
        "--cache", CACHE, "--work", work, "--out", result_path,
    ]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = PssSampler(proc.pid)
            sampler.start()
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                sampler.stop()
                _stop_group(proc.pid)
                proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(
                f"worker {'timed out' if rc is None else f'exited {rc}'}:\n{tail}"
            )
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["peak_pss_mb"] = sampler.peak_kb / 1024.0
    res["host_start"], res["host_end"] = host_start, host_snapshot()
    return res


def end_to_end(res: dict) -> dict[str, float]:
    return {
        "cpu_s": res["cpu_s"],
        "rows_per_cpu_s": res["rows"] / res["cpu_s"],
        "setup_s": res["setup_cpu_s"],
        "peak_pss_mb": res["peak_pss_mb"],
    }


def per_layer(res: dict) -> dict[str, float]:
    """Per-iteration span figures (probe spans run once) plus counts."""
    from tracing import EVENT_FIELDS

    n = max(res["n_traced"], 1)
    out = {
        "wall_s": res["wall_s"],
        "rows_per_s": res["rows"] / res["wall_s"],
        "setup_wall_s": res["setup_wall_s"],
        "session.start_s": res["session_start_s"],
        "tracing_overhead_s": res["tracing_overhead_s"],
        "error_rate": res["failed"] / res["attempted"],
    }
    for span in SPANS:
        div = n if span in res["iteration_spans"] else 1
        sp = res["spans"].get(span, {})
        ev = res["event_log"].get(span, {})
        out[f"{span}_s"] = sp.get("s", 0.0) / div
        for field in EVENT_FIELDS:
            out[f"{span}.{field}"] = ev.get(field, 0.0) / div
        if span in SPAN_JOBS:
            out[SPAN_JOBS[span]] = sp.get("jobs", 0) / div
    ck = res["spans"].get("sources.checkpoint.write", {})
    for k in ("groups_written", "groups_skipped", "rows_written"):
        out[f"sources.checkpoint.{k}"] = ck.get(k, 0) / n
    scanned = res["event_log"].get("sources.checkpoint.write", {}).get("rows_scanned", 0) / n
    out["sources.checkpoint.rows_scanned"] = scanned
    out["sources.checkpoint.useful_ratio"] = (
        out["sources.checkpoint.rows_written"] / scanned if scanned else 0.0
    )
    out["operators.dedup.lsh_pairs"] = res["spans"].get("operators.dedup.lsh", {}).get("lsh_pairs", 0)
    # figures of probes the workload does not run read 0
    out |= dict.fromkeys(PROBE_FIGURES, 0) | res["layer"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run_worker's cleanup, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the engine must come from this checkout, never from site-packages
    if not os.path.isfile(os.path.join(ROOT, "stop_sync_osm_atlas_spark", "__init__.py")):
        print("perfbench: the engine package stop_sync_osm_atlas_spark is not "
              f"in {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in SIZES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    try:
        res = run_worker(args.workload, args.seed, args.seconds, args.trace, SIZES, tag)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    for snap in ("host_start", "host_end"):
        if res[snap]["foreign"]:
            print(f"perfbench: WARNING foreign processes at {snap}: "
                  f"{res[snap]['foreign']}", file=sys.stderr)
    values = per_layer(res) if args.trace else end_to_end(res)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 2
    res["metrics"] = values
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED at iteration {p['iteration']}: "
              f"{p['problems']}", file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
