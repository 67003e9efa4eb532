"""Config-driven pipeline job — the engine's equivalent of running
``wins_staging()`` end-to-end (``src/wins_transform_staging.py:94-292``):

  YAML config -> read sources -> transform + QA -> publish kept + reject
  tables -> deliver run log.

The five feature tables and the POD lookup are read concurrently, then every
kept and reject table is published concurrently; the reference publishes one
table at a time (``:280-286``). Each read starts one Spark job (parquet schema
inference); each publish fuses read->transform->split->write into one plan,
which starts its write job plus a job per broadcast and per AQE query stage.
On the benchmark's 16-file WINS tables a run starts 20 jobs. Spreading them
over threads overlaps the per-job driver overhead that dominates a run.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from flnr_wins_spark.config import PipelineConfig
from flnr_wins_spark.plans.wins_pipeline import run_staging
from flnr_wins_spark.runlog import logged_run
from flnr_wins_spark.sources import publish
from flnr_wins_spark.sources.jdbc import read_lookup


def run_job(
    spark: SparkSession, config: PipelineConfig, notify=None
) -> tuple[bool, str]:
    """Execute the full staging pipeline described by ``config``; returns
    (success, run_log_text). Mirrors the reference's best-effort contract:
    failures are logged and the log is still delivered."""

    def job(log: logging.Logger) -> None:
        lookup_src = config.lookup.get("water_pod_table")
        if lookup_src is None:
            raise ValueError("config.lookup must provide water_pod_table")
        creds = None
        if lookup_src.startswith("jdbc:"):
            # the reference's dual-environment credential resolution
            # (env wins, INI fallback) wired to the JDBC branch; parquet
            # stand-ins need none
            from flnr_wins_spark.config import load_credentials

            ini = config.options.get("credentials_ini")
            try:
                creds = load_credentials(ini_path=ini)
            except KeyError:
                log.info("no credentials configured; connecting without auth")

        reads = {
            name: (f"{name} from {path}", spark.read.parquet, path)
            for name, path in config.tables.items()
        }
        reads[None] = (f"POD lookup from {lookup_src}", read_lookup, spark, lookup_src, creds)
        tables = _concurrently(spark, log, "loaded", reads)
        pod = tables.pop(None)

        result = run_staging(tables, pod)
        writes = {}
        for name, df in result.tables.items():
            dest = os.path.join(config.staging_dir, name)
            writes[name] = (f"{name} -> {dest}", publish, df, dest)
        for name, df in result.rejects.items():
            dest = os.path.join(config.staging_dir, f"{name}__rejects")
            writes[f"{name}__rejects"] = (f"rejects {name} -> {dest}", publish, df, dest)
        _concurrently(spark, log, "published", writes)

    return logged_run(job, notify=notify)


def _concurrently(spark: SparkSession, log: logging.Logger, verb: str, calls: dict) -> dict:
    """Run every ``key: (label, fn, *args)`` call on its own thread and
    wait for all of them; a failure never cancels the others, so no
    overwrite is stopped halfway. Each outcome is logged from this thread,
    in the order of ``calls``. Returns ``{key: result}``, or raises naming
    every call that failed.

    Each call is wrapped on its own: the wrapper clones this thread's Spark
    local properties (job group, description) when it is made, so the calls
    stay in the caller's job group while each sets its SQL execution id on
    a copy of its own."""
    with ThreadPoolExecutor(len(calls) or 1) as pool:
        futures = {
            key: pool.submit(inheritable_thread_target(spark)(fn), *args)
            for key, (_, fn, *args) in calls.items()
        }
    failed = []
    for key, fut in futures.items():
        label = calls[key][0]
        if fut.exception() is None:
            log.info("%s %s", verb, label)
        else:
            failed.append(label)
            log.error("not %s %s", verb, label, exc_info=fut.exception())
    if failed:
        raise RuntimeError(f"not {verb}: {'; '.join(failed)}")
    return {key: fut.result() for key, fut in futures.items()}
