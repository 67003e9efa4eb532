"""Write ``perfbench/expected/<workload>.json``: the DuckDB oracle's row
count and order-insensitive hash of every operation's output for the
default seed.

    python3 perfbench/make_expected.py

Re-run it only when the generators or the oracle queries change.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expected_values(spark, workload, work: str) -> dict:
    from perfbench.workloads import DEFAULT_SEED

    cache = os.path.join(ROOT, ".bench_work", "cache")
    workload.prepare(ROOT, cache, lambda: contextlib.nullcontext(spark))
    inp = workload.inputs(spark, ROOT, work, DEFAULT_SEED)
    return {op.name: op.expected(inp, ROOT) for op in workload.ops}


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    from flnr_wins_spark.session import get_spark
    from perfbench.workloads import HERE, workloads

    spark = get_spark(app_name="perfbench-expected")
    out = os.path.join(HERE, "expected")
    os.makedirs(out, exist_ok=True)
    for name, w in workloads().items():
        scratch = os.path.join(ROOT, ".bench_work")
        os.makedirs(scratch, exist_ok=True)
        work = tempfile.mkdtemp(prefix="expected-", dir=scratch)
        try:
            values = expected_values(spark, w, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(os.path.join(out, f"{name}.json"), "w") as fh:
            json.dump(values, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{name}: {len(values)} ops")
    spark.stop()


if __name__ == "__main__":
    main()
