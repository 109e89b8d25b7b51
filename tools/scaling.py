"""Shared harness of the scale-stress tools (corpus_stress, pack_mix_stress,
shuffle_envelope).

Scaling evidence is N-vs-4N: each tool re-runs itself in a fresh child
process at local[2] and local[8] (per-core throughput on this class of
VM drops ~1.8x from 8 to 32 active cores, so the pair stays low) and
reads the child's last JSON line. Pair results append a stamped section
to BENCH/BASELINE.md; generated inputs are cached as parquet shards.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

WIDTHS = (2, 8)
BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"
)


def child(script: str, cpus: int, *args: str) -> dict:
    """Run ``script --cpus <cpus> *args`` in a fresh interpreter and
    return its last ``{``-line as a dict; a failing child's stderr (its
    Spark traceback) is written out before the error propagates."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(script), "--cpus", str(cpus), *args],
            capture_output=True, text=True, check=True,
        )
    except subprocess.CalledProcessError as e:
        sys.stderr.write(e.stderr or "")
        raise
    return json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])


def efficiency(rate_lo: float, rate_hi: float) -> float:
    """N-vs-4N scaling efficiency from throughputs at WIDTHS (1.0 =
    linear). A wall time is an inverse rate: pass (hi_sec, lo_sec)."""
    return round((rate_hi / rate_lo) / (WIDTHS[1] / WIDTHS[0]), 4)


def append_baseline(title: str, lines: list[str], widths: tuple[int, int] = WIDTHS) -> None:
    """Append ``## <title> <timestamp>``, a host line and ``lines``
    (each ending in a newline) to BENCH/BASELINE.md. The host line
    stamps ``os.cpu_count()`` and the width pair the section ran; a host
    with fewer CPUs than ``widths[1]`` flags the section oversubscribed,
    as its local[widths[1]] figures measure the host's CPU count rather
    than the code's scaling."""
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    cpus = os.cpu_count()
    lo, hi = widths
    flag = " (oversubscribed)" if hi > (cpus or 0) else ""
    with open(BASELINE, "a") as fh:
        fh.write(f"\n## {title} {stamp}{flag}\n")
        fh.write(f"- host: {cpus} CPUs, width pair local[{lo}]/local[{hi}]{flag}\n")
        fh.writelines(lines)


def write_shards(tbl, path: str, n_shards: int) -> None:
    """Write arrow table ``tbl`` as ``n_shards`` row slices
    ``part-NNN.parquet`` under ``path``, then the ``_done`` marker the
    callers' caches check. Many files, not one: a single file under the
    session's 16 MB split size scans as one task and measures the input
    layout, not the operator."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = (tbl.num_rows + n_shards - 1) // n_shards
    for s in range(n_shards):
        chunk = tbl.slice(s * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{s:03d}.parquet"))
    with open(os.path.join(path, "_done"), "w") as fh:
        fh.write("ok")
