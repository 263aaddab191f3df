"""Self-test of the benchmark. From the repository root:

    python3 -m pytest perfbench/tests -q

Each workload runs once at smoke size, untraced and traced, and must print
every metric ``BENCHMARK.json`` lists, with its unit. The ingest check must
reject a committed table whose content was altered behind the engine's
back, and the command must fail cleanly where the engine is missing.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
# every workload the command accepts, listed in BENCHMARK.json or not
WORKLOADS = ["ingest_ticks", "quotes_queries", "curation_batch"]


def run_bench(cwd: Path, workload: str, trace: int, timeout: int = 600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_with_its_unit(workload, trace):
    proc = run_bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    listed = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in listed)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(tmp_path, WORKLOADS[0], 0, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import prepare_environment, start_session, stop_session

    work = tmp_path_factory.mktemp("perfbench-work")
    prepare_environment(work, ROOT)
    session, _ = start_session(work)
    yield session, work
    stop_session(session)


def test_ingest_check_rejects_a_corrupted_table(spark):
    from perfbench import market
    from perfbench.ingest import IngestTicks

    session, work = spark
    wl = IngestTicks(session, work, seed=7, size=market.SMOKE)
    wl.setup()
    wl.op()
    wl.op()
    assert wl.check() == 0
    # raise one history close price (a row no tick re-delivers) in place
    victim = market.live_files(wl.path)[0]
    table = pq.read_table(victim)
    oldest = pc.equal(table["timestamp_utc"], pc.min(table["timestamp_utc"]))
    close = pc.if_else(oldest, pc.add(table["close"], 1.0), table["close"])
    pq.write_table(table.set_column(table.schema.get_field_index("close"), "close", close),
                   victim, use_deprecated_int96_timestamps=True)
    assert wl.check() > 0
