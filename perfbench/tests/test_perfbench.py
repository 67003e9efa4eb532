"""Self-tests for the benchmark itself (not part of the program's suite).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Every test starts Spark; the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = ROOT

from perfbench import run as bench  # noqa: E402
from perfbench import trace as tr  # noqa: E402
from perfbench import workloads as wl  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.fixture(autouse=True)
def _restore_environment():
    """A run points TMPDIR and Spark's directories into its work directory,
    which it deletes when it ends; later tests start Spark afresh."""
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = None


def _main(capsys, *args: str) -> tuple[list[str], dict]:
    assert bench.main(list(args)) == 0
    out = capsys.readouterr().out.strip().splitlines()
    return out, json.loads(out[-1])


def _assert_metrics(out: list[str], res: dict, declared: list[dict]) -> None:
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for m in declared:
        assert any(line.startswith(f"{m['name']} ") and line.endswith(f" {m['unit']}")
                   for line in out), m["name"]


def test_timed_run_prints_declared_metrics_untraced(capsys, monkeypatch):
    from flnr_wins_spark import session
    from flnr_wins_spark.plans import job

    confs, get_spark = [], session.get_spark

    def recording_get_spark(**kw):
        confs.append(kw.get("extra_conf") or {})
        return get_spark(**kw)

    def no_tracer(*_a, **_k):
        raise AssertionError("a timed run built a tracer")

    monkeypatch.setattr(session, "get_spark", recording_get_spark)
    monkeypatch.setattr(tr, "Tracer", no_tracer)
    publish = job.publish
    out, res = _main(capsys, "--workload", "production_10x", "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert confs and not any("spark.eventLog.enabled" in c for c in confs)
    assert job.publish is publish
    w = wl.workloads()["production_10x"]
    passes = 1 + bench.WARMUP_PASSES + bench.MIN_PASSES  # check, warm-up, timed
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == passes * len(w.ops)
    _assert_metrics(out, res, BENCH["end_to_end"])


def test_trace_accounts_for_each_op(capsys):
    out, res = _main(capsys, "--workload", "production_10x", "--seed", "2",
                     "--seconds", "1", "--trace", "1")
    _assert_metrics(out, res, BENCH["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["sources.commit_s"] > 0 and m["plans.driver_gap_s"] > 0
    assert m["sources.write_files"] >= 6
    path = next(line.split(": ", 1)[1] for line in out if line.startswith("per-op layer rows"))
    with open(os.path.join(ROOT, path)) as fh:
        rows = [json.loads(line) for line in fh]
    accounted = [r["accounted_ratio"] for r in rows if r["layer"] == "trace"]
    assert accounted and min(accounted) >= 0.9


@pytest.fixture()
def work():
    """A scratch directory inside the checkout, like the benchmark's own."""
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=base)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def spark():
    from flnr_wins_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest")
    yield s
    s.stop()


def test_corrupted_output_counts_as_failed(spark, monkeypatch, work):
    op = wl.RegistryOp("q6_revenue_forecast")
    w = wl.BaseWorkload("selftest", [op], ("lineitem",))
    w.sf = 0.001
    run = bench.Run(w, seed=5, seconds=0, work=work)
    run.spark, run.inp = spark, w.inputs(spark, ROOT, work, 5)
    run.check()
    assert (run.attempted, run.failed) == (1, 0)

    fn = op.entry.fn
    monkeypatch.setattr(op.entry, "fn", lambda s, d: fn(s, d).unionAll(fn(s, d)))
    run.check()
    assert (run.attempted, run.failed) == (2, 1)


@pytest.mark.parametrize("name", sorted(wl.workloads()))
def test_checked_in_expected_values_match_oracle(spark, work, name):
    from perfbench.make_expected import expected_values

    assert expected_values(spark, wl.workloads()[name], work) == wl.load_expected(name)
