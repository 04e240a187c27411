"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

They cover generator determinism, the printed record's metric names and
units against BENCHMARK.json, and a tiny run of each workload that must
pass its output check. About three minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import traced  # noqa: E402
import workloads as wl  # noqa: E402

TINY = {
    "backfill": gen.Params(n_turns=600, mean_len=20),
    "skew_backfill": gen.Params(n_turns=600, sizes="zipf", n_convs=20, ts_mode="minute"),
    "serve": gen.Params(n_turns=600, mean_len=20),
    "near_dup": gen.Params(n_docs=400, dup_frac=0.2),
}


# ------------------------------------------------------------- generator

@pytest.mark.parametrize("name", sorted(TINY))
def test_same_seed_same_digest(tmp_path, name):
    p = TINY[name]
    a, b, c = (tmp_path / x for x in "abc")
    for d, seed in ((a, 3), (b, 3), (c, 4)):
        os.makedirs(d)
        gen.generate(p, seed, str(d))
    assert gen.digest(str(a)) == gen.digest(str(b))
    assert gen.digest(str(a)) != gen.digest(str(c))


def test_stale_cache_is_regenerated(tmp_path):
    p = TINY["backfill"]
    d = gen.dataset(p, 1, str(tmp_path))
    want = gen.digest(d)
    part = os.path.join(d, "transcripts.parquet", "part-00000.parquet")
    with open(part, "ab") as fh:
        fh.write(b"x")
    assert gen.dataset(p, 1, str(tmp_path)) == d
    assert gen.digest(d) == want


def test_skew_shape():
    import numpy as np
    sizes = gen._conv_sizes(np.random.default_rng(0), wl.SKEW)
    assert sizes.sum() == wl.SKEW.n_turns
    assert sizes.max() >= 0.10 * sizes.sum()


def test_parse_metric():
    assert traced.parse_metric("100,000") == (100000.0, [])
    total, dist = traced.parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 KiB (1.0 B, 2 ms, 1.2 s (stage 2.0: task 4))")
    assert total == 1536 and dist == [1.0, 2.0, 1200.0]


# ---------------------------------------------------------------- record

def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_record_schema(trace, key):
    spec = _spec()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "9",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    assert rec["correct"] is True and rec["failed"] == 0 and rec["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec[key]}
    assert {k: v["unit"] for k, v in rec["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in rec["metrics"].values())


def test_listed_workloads_exist():
    assert {w["name"] for w in _spec()["workloads"]} <= set(wl.WORKLOADS)


# ------------------------------------------------------------ smoke runs

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import harness
    work = str(tmp_path_factory.mktemp("spark"))
    harness.set_env(ROOT, work)
    s, _, _ = harness.cold_setup(work)
    yield s, work
    harness.stop(s)


@pytest.mark.parametrize("name", sorted(TINY))
def test_tiny_workload_passes_check(spark, tmp_path, name):
    import check
    s, _ = spark
    W = wl.WORKLOADS[name]
    tiny = type(W.__name__, (W,), {"params": TINY[name]})
    data = gen.dataset(tiny.params, 2, str(tmp_path / "cache"))
    w = tiny(s, data, str(tmp_path / "work"), 2)
    w.prepare()
    for i in range(2):
        assert w.run_once(i) > 0
    assert check.check(w) == 0
