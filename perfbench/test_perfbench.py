"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run, spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "write, size",
    [(gen.write_reviews, 300), (gen.write_documents, 300), (gen.write_tables, 0.001)],
)
def test_generators_are_deterministic(tmp_path, write, size):
    a, b, c = (tmp_path / x for x in "abc")
    write(size, 7, str(a))
    write(size, 7, str(b))
    write(size, 8, str(c))
    names = sorted(os.listdir(a))
    assert names and names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch, "another seed must give another input"


def test_reviews_shape():
    lines = gen.gen_reviews(2000, __import__("numpy").random.default_rng(3))
    legacy = [ln for ln in lines if "review/text" in ln]
    records = [json.loads(ln) for ln in lines if ln not in legacy]
    missing = [r for r in records if any(c not in r for c in gen.REQUIRED)]
    assert legacy and 0.01 < len(missing) / len(records) < 0.04
    assert len({r["asin"] for r in records if "asin" in r}) < len(records) / 2
    assert not set(gen.ADJECTIVES) & set(gen.STOPWORDS)
    assert len(gen.ADJECTIVES) == 200


def test_metric_names_follow_the_grammar():
    spec = _spec()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer") for m in spec[key])


def test_spec_matches_what_the_command_prints():
    spec = _spec()
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == spans.UNITS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS


def test_tail_percentile():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert run.tail([float(i) for i in range(19)]) == (18.0, 100.0)
    xs = [float(i) for i in range(1, 41)]
    # 40 samples: the 30th value has exactly ten beyond it
    assert run.tail(xs) == (30.0, 75.0)


def test_driver_gap_uses_self_time_minus_stage_time():
    parent = spans.Span("plans", "q", "g", 0.0, None, end=10.0)
    child = spans.Span("dedup", "d", "h", 2.0, parent, end=5.0)
    own = spans._self_intervals(parent, [child])
    assert own == [(0.0, 2.0), (5.0, 10.0)]
    stages = [(1.0, 3.0), (6.0, 7.0), (6.5, 8.0)]
    covered = sum(spans._union_len(spans._clip(stages, a, b)) for a, b in own)
    assert covered == pytest.approx(1.0 + 2.0)


RAISING_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from perfbench import run
from perfbench.workloads import DeclaredQueries

def boom(*args):
    raise RuntimeError("deliberate failure")

w = DeclaredQueries()
w.QUERY_NAMES, w.size, w.run = ("q01_scan_project",), 0.001, boom
args = run._parse(["--workload", w.name, "--seed", "5", "--seconds", "0.1"])
print(json.dumps(run.bench(w, args, sys.argv[2])))
"""


def test_raising_runs_are_reported_as_failed(tmp_path):
    """A run that raises, the warm-up's included, is a failed operation,
    and the result is still printed. In a process of its own: ``bench``
    starts and stops its own Spark session."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0)))}
    proc = subprocess.run(
        [sys.executable, "-c", RAISING_RUN, ROOT, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # the warm-up run and the first measured run raise; the loop stops there
    assert result["attempted"] == 2 and result["failed"] == 2
    assert result["correct"] is False
    assert set(result["metrics"]) == {"setup_s", "ok_frac"}
    assert result["metrics"]["ok_frac"]["value"] == 0.0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from skripsi_mapreduce_spark.session import get_spark

    return get_spark("perfbench-test")


def test_collector_counts_q03(spark, tmp_path):
    """q03_tpch_q1 at sf0.01, planned and collected: 5 jobs (one reads the
    parquet schema while planning) and 9 stage ids, 4 of them skipped
    reused shuffle outputs. A fresh job group per call keeps repeated
    calls from accumulating."""
    from skripsi_mapreduce_spark.plans import QUERIES

    d = gen.write_tables(0.01, 42, str(tmp_path))
    counts = []
    for _ in range(2):
        tr = spans.Tracer(spark, enabled=True)
        with tr.span("plans", "q03_tpch_q1"):
            QUERIES["q03_tpch_q1"](spark, d).collect()
        totals = spans.layer_totals(spark, tr.spans)
        counts.append((totals["plans.jobs"], totals["plans.stages"], totals["plans.tasks"]))
    assert counts == [(5, 9, 5), (5, 9, 5)]


def test_wrong_expected_result_raises_failed_frac(spark, tmp_path, monkeypatch):
    """A deliberately wrong oracle answer is counted as a failed operation.
    Runs last: ``bench`` stops the Spark session it ends with."""
    from perfbench.workloads import DeclaredQueries

    w = DeclaredQueries()
    monkeypatch.setattr(w, "QUERY_NAMES", ("q01_scan_project", "q03_tpch_q1"))
    monkeypatch.setattr(w, "size", 0.001)
    monkeypatch.setattr(run, "WARMUP_RUNS", 0)
    args = run._parse(["--workload", w.name, "--seed", "5", "--seconds", "0.1"])

    orig = w.expected

    def corrupt(inp):
        expected = orig(inp)
        return {**expected, "q03_tpch_q1": expected["q03_tpch_q1"] + [("wrong",)]}

    monkeypatch.setattr(w, "expected", corrupt)
    result = run.bench(w, args, str(tmp_path))
    assert result["attempted"] == 2 and result["failed"] == 1
    assert result["correct"] is False
    assert result["metrics"]["ok_frac"]["value"] == 0.5
