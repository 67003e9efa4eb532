"""Tests for the config-driven job runner, run-log contract, and catalog
probes (SURVEY.md §2a S1/S4/S9/S13)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flnr_wins_spark.config import PipelineConfig
from flnr_wins_spark.plans.job import run_job
from flnr_wins_spark.runlog import logged_run
from flnr_wins_spark.sources.catalog import assert_schema, dataset_exists
from flnr_wins_spark.sources.jdbc import read_lookup


@pytest.fixture()
def staged_inputs(spark, tmp_path):
    rrr = spark.createDataFrame(
        [(1, "RV001", None, None, None), (2, "RVGONE", None, None, None)],
        "OBJECTID long, TRRR_TAG string, FEATURE_CODE string, DESCRIPTION string, geometry binary",
    )
    pod = spark.createDataFrame(
        [("RV001", "d1", "g1")], "PNTS_CODE string, PNTS_DESCR string, SRCE_GAZETTED string"
    )
    fal = spark.createDataFrame([(1, None, None)], "OBJECTID long, FEATURE_CODE string, geometry binary")
    paths = {}
    for name, df in [("reserves_and_restrictions", rrr), ("flooded_area_lines", fal)]:
        p = str(tmp_path / name)
        df.write.parquet(p)
        paths[name] = p
    pod_path = str(tmp_path / "pod")
    pod.write.parquet(pod_path)
    return paths, pod_path, tmp_path


def test_run_job_end_to_end(spark, staged_inputs, tmp_path):
    paths, pod_path, _ = staged_inputs
    cfg = PipelineConfig(
        tables=paths,
        lookup={"water_pod_table": pod_path},
        staging_dir=str(tmp_path / "staging"),
    )
    sent = []
    ok, log = run_job(spark, cfg, notify=sent.append)
    assert ok, log
    assert sent and sent[0].startswith("SUCCESS")
    kept = spark.read.parquet(str(tmp_path / "staging" / "reserves_and_restrictions"))
    rej = spark.read.parquet(str(tmp_path / "staging" / "reserves_and_restrictions__rejects"))
    assert [r.TRRR_TAG for r in kept.collect()] == ["RV001"]
    assert [r.REJECT_FLAG for r in rej.collect()] == ["TRRR_TAG not found in Water POD Table"]
    assert "published" in log


def test_run_job_failure_still_delivers_log(spark, tmp_path):
    cfg = PipelineConfig(tables={}, lookup={}, staging_dir=str(tmp_path))
    sent = []
    ok, log = run_job(spark, cfg, notify=sent.append)
    assert not ok
    assert sent[0].startswith("FAILURE")
    assert "water_pod_table" in log  # the actual error is in the delivered log


@pytest.fixture()
def wins_job_config(spark, tmp_path):
    """All five feature tables plus POD, so a run makes six publishes."""
    geo = "OBJECTID long, FEATURE_CODE string, geometry binary"
    frames = {
        "reserves_and_restrictions": spark.createDataFrame(
            [(1, "RV001", None, None, None), (2, "RV001", None, None, None),
             (3, "RS002", None, None, None), (4, "RVGONE", None, None, None)],
            "OBJECTID long, TRRR_TAG string, FEATURE_CODE string, DESCRIPTION string, geometry binary",
        ),
        "non_trim_hydrography": spark.createDataFrame(
            [(1, "RS002", None, None, None), (2, "", None, None, None)],
            "OBJECTID long, TNTH_TAG string, FEATURE_CODE string, STREAM_NAME string, geometry binary",
        ),
        "water_licensed_works_points": spark.createDataFrame(
            [(1, "", "", None)], "OBJECTID long, TWRK_TAG string, FEATURE_CODE string, geometry binary"
        ),
        "water_licensed_works_lines": spark.createDataFrame(
            [(1, "w", "fc", None), (2, "", "", None)],
            "OBJECTID long, TWRK_TAG string, FEATURE_CODE string, geometry binary",
        ),
        "flooded_area_lines": spark.createDataFrame([(1, None, None)], geo),
    }
    paths = {}
    for name, df in frames.items():
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])
    pod_path = str(tmp_path / "pod")
    spark.createDataFrame(
        [("RV001", "d1", "g1"), ("RS002", None, "g2")],
        "PNTS_CODE string, PNTS_DESCR string, SRCE_GAZETTED string",
    ).write.parquet(pod_path)
    return PipelineConfig(
        tables=paths, lookup={"water_pod_table": pod_path}, staging_dir=str(tmp_path / "staging")
    )


# rows each output holds after a run over ``wins_job_config``
_OUTPUT_ROWS = {
    "reserves_and_restrictions": 1,
    "reserves_and_restrictions__rejects": 3,
    "non_trim_hydrography": 2,
    "water_licensed_works_points": 1,
    "water_licensed_works_lines": 2,
    "flooded_area_lines": 1,
}


def test_run_job_publish_failure_is_reported_and_others_finish(spark, wins_job_config, monkeypatch):
    """Fault injection: one publish raises while the other five run. The run
    fails, its log names the table, every other output is published, and no
    Spark job is left running when run_job returns."""
    import os

    from flnr_wins_spark.plans import job

    real = job.publish

    def flaky(df, dest):
        if os.path.basename(dest) == "non_trim_hydrography":
            raise OSError("disk full")
        real(df, dest)

    monkeypatch.setattr(job, "publish", flaky)
    sent = []
    ok, log = run_job(spark, wins_job_config, notify=sent.append)
    assert not ok
    assert sent and sent[0].startswith("FAILURE")
    assert "not published non_trim_hydrography" in sent[0] and "disk full" in sent[0]
    staging = wins_job_config.staging_dir
    for name, rows in _OUTPUT_ROWS.items():
        if name != "non_trim_hydrography":
            assert spark.read.parquet(os.path.join(staging, name)).count() == rows, name
    assert not os.path.exists(os.path.join(staging, "non_trim_hydrography"))
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_run_job_threads_keep_own_properties_and_callers_job_group(spark, wins_job_config, monkeypatch):
    """Each publish thread gets its own copy of the caller's local
    properties: a property one thread sets is not seen by another, even
    when all six publishes are in flight at once. The job group the caller
    set still covers every job of the run, so cancelJobGroup stops it all."""
    import threading

    from flnr_wins_spark.plans import job

    sc = spark.sparkContext
    real = job.publish
    barrier = threading.Barrier(len(_OUTPUT_ROWS), timeout=120)
    seen = {}

    def probe(df, dest):
        sc.setLocalProperty("flnr.test.dest", dest)
        barrier.wait()
        seen[dest] = sc.getLocalProperty("flnr.test.dest")
        real(df, dest)

    monkeypatch.setattr(job, "publish", probe)
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("flnr-test-run", "one WINS run")
    try:
        ok, log = run_job(spark, wins_job_config)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert ok, log
    assert len(seen) == len(_OUTPUT_ROWS)
    assert all(got == dest for dest, got in seen.items()), seen
    assert len(tracker.getJobIdsForGroup("flnr-test-run")) >= len(_OUTPUT_ROWS)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped  # no job escaped the group


def test_config_yaml_env_resolution(tmp_path, monkeypatch):
    monkeypatch.setenv("WINS_STAGING", "/data/staging")
    cfg_file = tmp_path / "app.yml"
    cfg_file.write_text(
        "tables:\n  t1: /data/t1\nlookup:\n  water_pod_table: /data/pod\n"
        "staging_dir: ${WINS_STAGING}\noptions:\n  k: v\n"
    )
    cfg = PipelineConfig.from_yaml(str(cfg_file))
    assert cfg.staging_dir == "/data/staging"
    assert cfg.tables == {"t1": "/data/t1"}


def test_logged_run_catches_and_reports(caplog):
    def bad(log):
        raise RuntimeError("boom")

    ok, text = logged_run(bad)
    assert not ok and "boom" in text and text.startswith("FAILURE")


def test_catalog_probes(spark, tmp_path):
    p = str(tmp_path / "x")
    assert not dataset_exists(spark, p)
    spark.range(3).write.parquet(p)
    assert dataset_exists(spark, p)
    spark.range(1).createOrReplaceTempView("probe_view")
    assert dataset_exists(spark, "probe_view")
    assert not dataset_exists(spark, "no_such_view")


def test_assert_schema(spark):
    df = spark.createDataFrame([("a", 1)], "TAG string, N long")
    ok_schema = T.StructType([T.StructField("TAG", T.StringType())])
    assert_schema(df, ok_schema)  # subset ok
    bad = T.StructType([T.StructField("MISSING", T.StringType())])
    with pytest.raises(ValueError, match="missing column"):
        assert_schema(df, bad)
    wrong = T.StructType([T.StructField("N", T.StringType())])
    with pytest.raises(ValueError, match="expected"):
        assert_schema(df, wrong)


def test_read_lookup_parquet_and_jdbc_validation(spark, tmp_path):
    p = str(tmp_path / "lk")
    spark.range(2).write.parquet(p)
    assert read_lookup(spark, p).count() == 2
    with pytest.raises(ValueError, match="jdbc source"):
        read_lookup(spark, "jdbc:postgresql://nowhere/db")


def test_jdbc_branch_live_embedded_derby(spark):
    """S9 over a REAL JDBC endpoint: Spark bundles embedded Derby (the Hive
    metastore driver), so an in-memory Derby database exercises the genuine
    spark.read.jdbc code path — single-partition read, range-partitioned
    parallel read, and the 'jdbc:<url>#<table>' lookup resolution — with no
    external service. In local mode executors share the driver JVM, so the
    in-memory database is visible to the read tasks."""
    from flnr_wins_spark.sources.jdbc import read_jdbc_view

    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:winstest;create=true"
    )
    st = conn.createStatement()
    try:
        st.executeUpdate(
            "CREATE TABLE pod (pnts_code VARCHAR(20), pnts_descr VARCHAR(40), k INT)"
        )
        for i in range(10):
            st.executeUpdate(f"INSERT INTO pod VALUES ('RV{i:03d}', 'descr {i}', {i})")
    finally:
        st.close()
    try:
        df = read_jdbc_view(spark, "jdbc:derby:memory:winstest", "pod")
        rows = {r["PNTS_CODE"]: r["PNTS_DESCR"] for r in df.collect()}
        assert rows["RV003"] == "descr 3" and len(rows) == 10
        part = read_jdbc_view(
            spark,
            "jdbc:derby:memory:winstest",
            "pod",
            partition_column="k",
            num_partitions=3,
            lower_bound=0,
            upper_bound=10,
        )
        assert part.count() == 10 and part.rdd.getNumPartitions() == 3
        assert read_lookup(spark, "jdbc:derby:memory:winstest#pod").count() == 10
        with pytest.raises(ValueError, match="lower_bound"):
            read_jdbc_view(
                spark, "jdbc:derby:memory:winstest", "pod", partition_column="k"
            )
    finally:
        conn.close()


def test_load_credentials_dual_environment(tmp_path, monkeypatch):
    """Reference wts.py:69-78: env vars win when MAPHUB_USER is present,
    otherwise the INI's [bcmaphub] section supplies user/password."""
    from flnr_wins_spark.config import load_credentials

    ini = tmp_path / "maphub.ini"
    ini.write_text("[bcmaphub]\nuser = ini-user\npassword = ini-pass\n")

    monkeypatch.delenv("MAPHUB_USER", raising=False)
    monkeypatch.delenv("MAPHUB_PASS", raising=False)
    assert load_credentials(str(ini)) == ("ini-user", "ini-pass")

    monkeypatch.setenv("MAPHUB_USER", "env-user")
    monkeypatch.setenv("MAPHUB_PASS", "env-pass")
    assert load_credentials(str(ini)) == ("env-user", "env-pass")  # env wins

    monkeypatch.delenv("MAPHUB_USER")
    with pytest.raises(KeyError):
        load_credentials(None)
    with pytest.raises(FileNotFoundError):
        load_credentials(str(tmp_path / "missing.ini"))


def test_unset_env_reference_raises(tmp_path, monkeypatch):
    """Review finding: unset ${VAR} used to substitute "" — an empty
    staging_dir silently published to cwd-relative paths. It must raise."""
    import pytest

    from flnr_wins_spark.config import PipelineConfig

    monkeypatch.delenv("WINS_NOPE", raising=False)
    cfg = tmp_path / "app.yml"
    cfg.write_text("staging_dir: ${WINS_NOPE}\n")
    with pytest.raises(KeyError, match="WINS_NOPE"):
        PipelineConfig.from_yaml(str(cfg))


def test_half_set_env_credentials_fall_back_to_ini(tmp_path, monkeypatch):
    """Review finding: user var exported but password var missing used to
    raise a bare KeyError instead of using the documented INI fallback."""
    from flnr_wins_spark.config import load_credentials

    monkeypatch.setenv("MAPHUB_USER", "leaked")
    monkeypatch.delenv("MAPHUB_PASS", raising=False)
    ini = tmp_path / "creds.ini"
    ini.write_text("[bcmaphub]\nuser = iniuser\npassword = inipass\n")
    assert load_credentials(ini_path=str(ini)) == ("iniuser", "inipass")


def test_runlog_logger_evicted_on_close():
    """Review finding: per-run child loggers were retained forever in
    logging's manager dict — unbounded growth in a scheduler process."""
    import logging

    from flnr_wins_spark.runlog import capture_log

    rl = capture_log()
    name = rl.logger.name
    assert name in logging.Logger.manager.loggerDict
    rl.close()
    assert name not in logging.Logger.manager.loggerDict


def test_register_tables_sql_front_door(spark):
    """SQL users drive the same engine: register views, run plain SQL,
    get the same result as the DataFrame path (incl. the NANOS-timestamp
    events table, which raw spark.read cannot even open)."""
    from flnr_wins_spark.sources import read_table
    from flnr_wins_spark.sources.catalog import register_tables

    sf = "/root/testdata/sf0.001"
    views = register_tables(spark, sf, prefix="sqlfd_")
    assert "sqlfd_events" in views and len(views) == 10
    got = spark.sql(
        "SELECT event_type, COUNT(*) AS n FROM sqlfd_events GROUP BY 1"
    ).collect()
    want = (
        read_table(spark, sf, "events").groupBy("event_type").count().collect()
    )
    assert {(r.event_type, r.n) for r in got} == {
        (r.event_type, r["count"]) for r in want
    }
