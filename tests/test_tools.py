"""The scale-stress tools' shared harness (tools/scaling.py), and that each
tool still starts. No Spark: the children here are tiny fake scripts."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
_spec = importlib.util.spec_from_file_location("scaling", os.path.join(TOOLS, "scaling.py"))
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def test_child_parses_last_json_line(tmp_path):
    script = tmp_path / "fake.py"
    script.write_text(
        "import json, sys\n"
        "print('warming up')\n"
        "print(json.dumps({'stale': True}))\n"
        "print(json.dumps({'argv': sys.argv[1:]}))\n"
        "print('done')\n"
    )
    assert scaling.child(str(script), 2, "--rows", "64") == {
        "argv": ["--cpus", "2", "--rows", "64"]
    }


def test_failing_child_raises_and_forwards_stderr(tmp_path, capsys):
    script = tmp_path / "boom.py"
    script.write_text("import sys\nsys.stderr.write('Py4JJavaError: boom\\n')\nsys.exit(3)\n")
    with pytest.raises(subprocess.CalledProcessError):
        scaling.child(str(script), 8)
    assert "Py4JJavaError: boom" in capsys.readouterr().err


def test_efficiency_is_n_vs_4n():
    assert scaling.WIDTHS == (2, 8)
    assert scaling.efficiency(100.0, 400.0) == 1.0
    assert scaling.efficiency(100.0, 300.0) == 0.75


def test_append_baseline_writes_titled_section(tmp_path, monkeypatch):
    md = tmp_path / "BASELINE.md"
    md.write_text("# log\n")
    monkeypatch.setattr(scaling, "BASELINE", str(md))
    monkeypatch.setattr(scaling.os, "cpu_count", lambda: 32)
    scaling.append_baseline("Probe stress", ["- a: 1\n", "- b: 2\n"])
    lines = md.read_text().splitlines()
    assert lines[:2] == ["# log", ""]
    assert lines[2].startswith("## Probe stress 20")
    assert "oversubscribed" not in lines[2]
    assert lines[3:] == ["- host: 32 CPUs, width pair local[2]/local[8]", "- a: 1", "- b: 2"]


def test_append_baseline_flags_an_oversubscribed_host(tmp_path, monkeypatch):
    """A host with fewer CPUs than the pair's wide side cannot show the
    code's N-vs-4N scaling; its section says so."""
    md = tmp_path / "BASELINE.md"
    monkeypatch.setattr(scaling, "BASELINE", str(md))
    monkeypatch.setattr(scaling.os, "cpu_count", lambda: 4)
    scaling.append_baseline("Probe stress", ["- a: 1\n"])
    lines = md.read_text().splitlines()
    assert lines[1].startswith("## Probe stress 20")
    assert lines[1].endswith(" (oversubscribed)")
    assert lines[2] == "- host: 4 CPUs, width pair local[2]/local[8] (oversubscribed)"


@pytest.mark.parametrize("mode", [[], ["--substr"]])
def test_corpus_stress_section_names_its_tiles(tmp_path, monkeypatch, capsys, mode):
    monkeypatch.syspath_prepend(TOOLS)
    import corpus_stress

    run = {"docs_in": 300, "wall_sec": 1.0, "docs_per_sec": 300.0, "conserved": True,
           "reasons": {}, "mode": "full", "avg_dup_span_frac": 0.5}
    monkeypatch.setattr(corpus_stress.scaling, "child", lambda *a: dict(run))
    monkeypatch.setattr(corpus_stress.scaling, "BASELINE", str(tmp_path / "BASELINE.md"))
    monkeypatch.setattr(sys, "argv", ["corpus_stress.py", "--scaling", "--tiles", "3", *mode])
    corpus_stress.main()
    assert "- input: 300 docs (3x-tiled sf0.1 documents;" in (tmp_path / "BASELINE.md").read_text()
    assert capsys.readouterr().out.startswith("{")


def test_write_shards_slices_and_marks_done(tmp_path):
    tbl = pa.table({"i": list(range(10))})
    out = tmp_path / "shards"
    scaling.write_shards(tbl, str(out), 4)
    parts = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))
    assert parts == [f"part-{s:03d}.parquet" for s in range(4)]
    assert (out / "_done").exists()
    got = pa.concat_tables(pq.read_table(out / p) for p in parts)
    assert got.column("i").to_pylist() == list(range(10))


@pytest.mark.parametrize("tool", ["corpus_stress", "pack_mix_stress", "shuffle_envelope"])
def test_tool_help_exits_zero(tool):
    out = subprocess.run(
        [sys.executable, os.path.join(TOOLS, f"{tool}.py"), "--help"],
        capture_output=True, text=True,
    )
    assert out.returncode == 0, out.stderr


@pytest.mark.parametrize(
    "pair,cpus,flagged", [("8,32", 16, True), ("2,8", 16, False)], ids=["8v32", "2v8"]
)
def test_bench_scaling_section_is_flagged_against_its_width_pair(
    tmp_path, monkeypatch, pair, cpus, flagged
):
    """bench.py --scaling writes its section through append_baseline, so
    it stamps the host's CPUs and flags oversubscription against the
    pair it ran (SPARK_GRAFT_SCALING_CPUS), not the tools' WIDTHS."""
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(TOOLS), "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    md = tmp_path / "BASELINE.md"
    monkeypatch.setattr(bench.scaling, "BASELINE", str(md))
    monkeypatch.setattr(bench.scaling.os, "cpu_count", lambda: cpus)
    monkeypatch.setattr(bench, "ensure_pairs", lambda n, dims: str(tmp_path / "pairs"))

    def fake_child(cmd, **kwargs):
        c = int(cmd[cmd.index("--cpus") + 1])
        line = json.dumps({"rows": 1000, "pipeline_sec": 80.0 / c, "cpus": c})
        return subprocess.CompletedProcess(cmd, 0, stdout=f"warm\n{line}\n", stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_child)
    monkeypatch.setenv("SPARK_GRAFT_SCALING_CPUS", pair)
    monkeypatch.setattr(sys, "argv", ["bench.py", "--scaling"])
    bench.main()
    lo, hi = pair.split(",")
    flag = " (oversubscribed)" if flagged else ""
    lines = md.read_text().splitlines()
    assert lines[1].startswith("## Scaling run 20")
    assert lines[1].endswith(" (oversubscribed)") == flagged
    assert lines[2] == f"- host: {cpus} CPUs, width pair local[{lo}]/local[{hi}]{flag}"
    assert lines[3] == "- input rows: 1000 (deterministic pairs fixture, seed 42)"
    assert lines[4].startswith(f"- local[{lo}]: ") and lines[5].startswith(f"- local[{hi}]: ")
    assert lines[6] == "- scaling efficiency (N vs 4N cores): **1.0** (target >= 0.8)"
