"""The benchmark's own tests: the status-store metric parser, and a smoke
run of every workload on tiny inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from run import END_TO_END, PER_LAYER  # noqa: E402
from spark_status import parse_metric  # noqa: E402


@pytest.mark.parametrize("text, expected", [
    ("10.4 s (249 ms, 2.2 s, 2.3 s (stage 3.0: task 3))", 10_400.0),
    ("697.2 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 2))", 697.2 * 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "4.0 MiB (11.8 KiB, 475.1 KiB, 833.9 KiB (stage 63.0: task 189))", 4.0 * 2**20),
    ("65,038", 65_038.0),
    ("1,234,567", 1_234_567.0),
    ("0.0 B", 0.0),
    ("1.0 GiB", float(2**30)),
    ("12 ms", 12.0),
    ("2.5 m", 150_000.0),
    ("1.5 min", 90_000.0),
    ("1.25 h", 4_500_000.0),
])
def test_parse_metric_total(text, expected):
    assert parse_metric(text) == pytest.approx(expected)


@pytest.mark.parametrize("text", ["3 parsecs", "n/a", ""])
def test_parse_metric_rejects_what_it_cannot_read(text):
    with pytest.raises(ValueError):
        parse_metric(text)


_RUNS: dict[tuple, tuple[dict, str]] = {}


def smoke(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    """(final JSON, full stdout) of one smoke run; each run happens once."""
    key = (workload, seed, trace)
    if key not in _RUNS:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        _RUNS[key] = (json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout)
    return _RUNS[key]


def _inputs_digest(stdout: str) -> str:
    return next(line for line in stdout.splitlines() if line.startswith("perfbench inputs"))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["backfill", "kernel_windows", "serve"])
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    result, stdout = smoke(workload, 1, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name, unit in expected.items():
        assert f"\n{name} " in stdout and isinstance(result["metrics"][name]["value"], float)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in names}.items() <= expected.items()


def test_seed_changes_the_inputs():
    _, first = smoke("backfill", 1, 0)
    _, again = smoke("backfill", 1, 1)
    _, other = smoke("backfill", 2, 0)
    assert _inputs_digest(first) == _inputs_digest(again)
    assert _inputs_digest(first) != _inputs_digest(other)


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in HERE.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout == ""
