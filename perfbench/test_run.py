"""Checks of the benchmark itself, against the sf0.001 fixture:

    python3 -m pytest perfbench -q

Each case starts a full run (about 30 s), so the file is kept out of
the tier-1 suite, which collects tests/ only."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_SF = os.path.join(HERE, "data", "sf0.001")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]


def run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_emits_every_metric(workload, trace):
    code, lines = run(
        "--workload", workload, "--seed", "1", "--seconds", "30",
        "--trace", trace, "--sf-dir", SMOKE_SF,
    )
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert (code == 0) == (result["failed"] == 0)
    wanted = units(BENCHMARK["per_layer" if trace == "1" else "end_to_end"])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    reported = {k: v["unit"] for k, v in report["end_to_end"].items()}
    assert set(reported) == {
        "setup_s", "wall_s", "query_p50_s", "query_tail_s", "cpu_s",
        "peak_rss_mb", "error_rate", "mismatch_rate",
    }
    # every call, tagged with the host noise it ran under
    assert [len(c) for c in report["calls"]] == [4] * result["attempted"]


def test_missing_fixture_fails_every_call():
    code, lines = run(
        "--workload", "batch_sql", "--seed", "1", "--seconds", "30",
        "--sf-dir", os.path.join(HERE, "data", "no-such-sf"),
    )
    assert code != 0
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    assert report["end_to_end"]["error_rate"]["value"] == 1.0
    assert result["failed"] == result["attempted"]
    assert result["correct"] is False


def test_without_the_engine_it_fails_and_prints_no_result():
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        code, lines = run(
            "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "30",
            cwd=bare,
        )
    assert code != 0
    assert not any(line.startswith("{") for line in lines)


def _cwd(pid: str) -> str:
    try:
        return os.readlink(f"/proc/{pid}/cwd")
    except OSError:  # gone, or not ours to read
        return ""


# Runs run.py with an exit hook registered before any of its own, so it
# runs last: it lists the processes still descending from the run at the
# moment it exits, which a scan after the exit could miss by a few ms.
EXIT_PROBE = """
import atexit, json, os, runpy, sys
sys.path.insert(0, "perfbench")
import host
def probe():
    me = os.getpid()
    with open("descendants.json", "w") as fh:
        json.dump([p for p in host.tree_pids(me) if p != me], fh)
atexit.register(probe)
sys.argv = ["perfbench/run.py", *sys.argv[1:]]
runpy.run_path("perfbench/run.py", run_name="__main__")
"""


def test_a_run_leaves_no_process_behind():
    """In a fresh copy the oracle cache is cold, so the DuckDB child runs
    too.  When the run exits, no process it started may still run: none
    below it, and none left in its working directory."""
    with tempfile.TemporaryDirectory() as co:
        co = os.path.realpath(co)
        shutil.copytree(
            ROOT, co, dirs_exist_ok=True,
            ignore=shutil.ignore_patterns(
                ".git", ".perfbench_cache", ".perfbench_run", "__pycache__",
            ),
        )
        # Output to a file, not a pipe: reading a pipe to its end would
        # wait for every process that inherited it.
        with open(os.path.join(co, "out.txt"), "w") as out:
            code = subprocess.run(
                [sys.executable, "-c", EXIT_PROBE, "--workload", "streaming_graph",
                 "--seed", "1", "--seconds", "30",
                 "--sf-dir", os.path.join(co, "perfbench", "data", "sf0.001")],
                cwd=co, stdout=out, stderr=subprocess.DEVNULL, timeout=600,
            ).returncode
        left = [
            pid for pid in os.listdir("/proc")
            if pid.isdigit() and _cwd(pid).startswith(co)
        ]
        with open(os.path.join(co, "descendants.json")) as fh:
            descendants = json.load(fh)
    assert code == 0
    assert descendants == []
    assert left == []
