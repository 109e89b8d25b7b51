"""One benchmark run of one workload, in a fresh driver process.

Started by ``run.py``; writes its result as JSON to ``--out``. Phases:

1. set-up: ``get_spark()`` and the first (cold) iteration, measured
   together in wall and CPU seconds;
2. measurement: iterations until ``--seconds`` have passed (at least
   ``MIN_TIMED``). The leading ones that are still warming up
   (``steady_start``) are dropped; the medians of the rest are
   ``wall_s`` and ``cpu_s`` (CPU seconds of this process tree). With
   ``--trace 1`` the iterations alternate between
   traced and untraced, the event log is on for the whole process, and
   the layer probes run once at the end.

Every iteration's output is checked; a failed check counts against
``error_rate`` and never stops the run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

STEADY_TOL = 0.20
MIN_TIMED = 1
MAX_WINDOWS = 3  # give up waiting for steadiness after 3 x --seconds
# C1 only: the driver JVM reaches its steady speed right after the cold
# iteration. With C2 the same JVM needed four more ~15 s iterations,
# more than a run can spend (BENCHMARK.json run budget).
JVM_OPTS = "-XX:TieredStopAtLevel=1"
# a fixed heap so that peak PSS does not depend on when G1 grows it
DRIVER_MEMORY = "1g"


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every process under it,
    reaped children included (cutime/cstime)."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(name)] = fields
        kids.setdefault(int(fields[1]), []).append(int(name))
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        total += sum(int(x) for x in stats[pid][11:15])
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def steady_start(walls: list[float]) -> int:
    """Number of leading iterations still warming up: each that is
    slower than the median of those after it by more than
    ``STEADY_TOL``."""
    k = 0
    while k < len(walls) - 1 and walls[k] > (1 + STEADY_TOL) * statistics.median(walls[k + 1:]):
        k += 1
    return k


@contextlib.contextmanager
def _spans_patched(tracer, spans):
    """Wrap the given engine functions in spans while the block runs."""
    saved = []
    for owner, attr, name, counter in spans:
        orig = getattr(owner, attr)

        def wrapper(*a, _orig=orig, _name=name, _counter=counter, **kw):
            with tracer.span(_name) as sp:
                res = _orig(*a, **kw)
                if _counter is not None:
                    _counter(sp, a, res)
            return res

        setattr(owner, attr, wrapper)
        saved.append((owner, attr, orig))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--config", required=True, help="workload sizes as JSON")
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cfg = json.loads(args.config)

    from pyspark.sql import SparkSession

    from stop_sync_osm_atlas_spark.session import get_spark
    from tracing import Tracer
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={args.work} -Xms{DRIVER_MEMORY} {JVM_OPTS}"
        ),
    }
    event_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    result = {"attempted": 0, "failed": 0, "problems": [], "iterations": []}
    t_start, cpu_start = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
    result["session_start_s"] = time.perf_counter() - t_start
    session_cpu_s = tree_cpu_s(os.getpid()) - cpu_start
    try:
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](
            spark, cfg, args.cache, args.work, args.seed, tracer
        )

        def iterate(i: int, traced: bool) -> float:
            wl.before(i)
            tracer.enabled = traced
            with _spans_patched(tracer, wl.spans if traced else []):
                cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
                t0 = time.perf_counter()
                out = wl.run(i)
                wall = time.perf_counter() - t0
                cpu, steal = tree_cpu_s(os.getpid()) - cpu0, steal_s() - steal0
            tracer.enabled = False
            result["attempted"] += 1
            try:
                problems = wl.check(i, out)
            except Exception:  # a check that crashes is a failed check
                problems = [traceback.format_exc(limit=3)]
            if problems:
                result["failed"] += 1
                result["problems"].append({"iteration": i, "problems": problems})
            result["iterations"].append(
                {"i": i, "wall_s": wall, "cpu_s": cpu, "steal_s": steal, "traced": traced}
            )
            return wall

        i = 0
        # set-up ends with the cold iteration, before its output check
        result["setup_wall_s"] = result["session_start_s"] + iterate(i, traced=False)
        result["setup_cpu_s"] = session_cpu_s + result["iterations"][0]["cpu_s"]

        # Every later iteration runs inside the measured window; the
        # leading ones that are still warming up are dropped afterwards.
        walls: list[tuple[bool, float]] = []
        t_measure = time.perf_counter()

        def cut() -> int:
            """Index in ``walls`` of the first iteration past warm-up."""
            plain = [n for n, (traced, _) in enumerate(walls) if not traced]
            return plain[steady_start([walls[n][1] for n in plain])]

        def minimum(ws) -> bool:
            return sum(not traced for traced, _ in ws) >= MIN_TIMED and (
                not args.trace or any(traced for traced, _ in ws)
            )

        while not (minimum(walls) and minimum(walls[cut():])
                   and time.perf_counter() - t_measure >= args.seconds):
            if minimum(walls) and time.perf_counter() - t_measure > MAX_WINDOWS * args.seconds:
                break  # never settled: report what the window holds
            i += 1
            traced = bool(args.trace) and i % 2 == 0
            walls.append((traced, iterate(i, traced=traced)))
        warm = sum(not traced for traced, _ in walls[:cut()])
        result["warmup_iterations"] = warm
        timed: dict[bool, list[float]] = {False: [], True: []}
        for traced, w in walls[cut():]:
            timed[traced].append(w)
        result["wall_runs"] = timed[False]
        result["wall_s"] = statistics.median(timed[False])
        kept = result["iterations"][len(result["iterations"]) - len(walls) + cut():]
        result["cpu_s"] = statistics.median(it["cpu_s"] for it in kept if not it["traced"])
        result["rows"] = wl.rows

        if args.trace:
            result["iteration_spans"] = sorted(tracer.totals())
            tracer.enabled = True
            layer, problems = wl.probes()
            tracer.enabled = False
            result["attempted"] += 1
            if problems:
                result["failed"] += 1
                result["problems"].append({"iteration": "probes", "problems": problems})
            result["traced_wall_runs"] = timed[True]
            result["tracing_overhead_s"] = (
                statistics.median(timed[True]) - result["wall_s"]
                if timed[True] else 0.0
            )
            result["spans"] = tracer.totals()
            result["layer"] = layer
            # span totals cover every traced iteration, warm-up included
            result["n_traced"] = sum(traced for traced, _ in walls)
    finally:
        spark.stop()
        SparkSession._instantiatedSession = None
    if args.trace:
        result["event_log"] = tracer.fold_event_log(event_dir)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
