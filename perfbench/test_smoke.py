"""Smoke test of the benchmark itself, on tiny inputs (a 3-host crawl).

    python3 -m pytest perfbench/test_smoke.py -q

Takes about three minutes: three benchmark runs, each starting its own JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 9001  # a seed no benchmark run uses, so its oracle cache is private


def run_bench(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_all_emitted(res: dict, declared: list[dict]) -> None:
    assert set(res["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(res["metrics"][m["name"]]["value"], float)


@pytest.fixture(scope="module")
def crawl_traced():
    return result(run_bench("crawl_wide", 1))


def test_crawl_traced_emits_every_layer(crawl_traced):
    res = crawl_traced
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 4
    assert_all_emitted(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # the layers the crawl enters all report work; the query layers do not
    for name in ("storage.write.fetched.s", "storage.write.fetched.jobs",
                 "storage.write.admitted.busy_core_s", "storage.commit.s",
                 "frontier_loop.init_crawl.s", "frontier_loop.resume_s",
                 "frontier_loop.run_crawl.self_s", "frontier_loop.jobs_per_batch",
                 "frontier_loop.batches", "fetch.rows", "admission.rows",
                 "storage.read_frontier.s", "storage.read_seen.s",
                 "session.get_spark.s", "session.cores", "storage.disk_mb"):
        assert m[name] > 0, name
    assert all(v == 0 for k, v in m.items() if k.startswith("queries."))


def test_corrupted_expected_hash_fails_the_check(crawl_traced):
    sys.path.insert(0, str(ROOT))
    from perfbench import harness
    from perfbench.workloads import CRAWL_SMOKE, crawl_cache_file

    ctx = harness.RunContext(root=ROOT, work=ROOT / ".perfbench_work",
                             scratch=ROOT / ".perfbench_work" / "run", cpus=1)
    cache = crawl_cache_file(ctx, CRAWL_SMOKE, SEED)
    good = json.loads(cache.read_text())  # written by the traced run
    try:
        cache.write_text(json.dumps(dict(good, trace_hash=good["trace_hash"] ^ 1)))
        res = result(run_bench("crawl_wide", 0))
        assert not res["correct"]
        assert res["failed"] == 1 and res["attempted"] == 4
        assert_all_emitted(res, SPEC["end_to_end"])
        assert all(v["value"] > 0 for v in res["metrics"].values())
    finally:
        cache.unlink()


def test_doc_queries_traced_emits_every_query():
    res = result(run_bench("doc_queries", 1))
    assert res["correct"] and res["attempted"] == 39
    assert_all_emitted(res, SPEC["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in m:
        if name.startswith("queries.") and name.endswith(".s"):
            assert m[name] > 0, name
    assert m["storage.write.fetched.s"] == 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("crawl_wide", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
