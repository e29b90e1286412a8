"""End-to-end engine runs (config JSON -> copy -> verify -> exit code),
retry policy, and monitor heartbeat."""

from __future__ import annotations

import json

import pytest

from smartbulkcopy_spark.config import EngineConfig
from smartbulkcopy_spark.executor import (
    EXIT_CONFIG,
    EXIT_MISMATCH,
    EXIT_OK,
    CopyExecutor,
    run_from_config_file,
)
from smartbulkcopy_spark.monitor import CopyMonitor
from smartbulkcopy_spark.retry import TransientError, is_transient, with_retry


def _write_config(tmp_path, src, dst, tables, **opts):
    cfg = {
        "source": {"connection-string": str(src)},
        "destination": {"connection-string": str(dst)},
        "tables": tables,
        "options": {"tasks": 4, "logical-partitions": "9",
                    "batch-size": 1000, **opts},
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def test_e2e_copy_two_tables(spark, sf_dir, tmp_path):
    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["lineitem", "orders"])
    lines = []
    report = run_from_config_file(
        cfg, spark=spark, monitor_interval=0.2, log=lines.append
    )
    assert report.exit_code == EXIT_OK, report.messages
    assert {r.table for r in report.results} == {"lineitem", "orders"}
    assert all(r.content_match for r in report.results)
    li = spark.read.parquet(str(dst / "lineitem.parquet"))
    src_li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert li.count() == src_li.count()
    # monitor heartbeat lines appeared during the copy
    assert any("Copy rate:" in ln for ln in lines)


def test_e2e_wildcards_and_exclude(spark, sf_dir, tmp_path):
    dst = tmp_path / "dest"
    cfg = _write_config(
        tmp_path, sf_dir, dst,
        ["+:*", "-:events", "-:documents", "-:embeddings", "-:lineitem",
         "-:orders", "-:part", "-:supplier", "-:customer"],
    )
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_OK, report.messages
    assert {r.table for r in report.results} == {"region", "nation"}


def test_missing_source_table_exits_2(spark, sf_dir, tmp_path):
    cfg = _write_config(tmp_path, sf_dir, tmp_path / "dest", ["nope"])
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_MISMATCH
    assert report.outcome is not None


def test_bad_source_dir_exits_1(spark, tmp_path):
    cfg = _write_config(tmp_path, "/nonexistent/dir", tmp_path / "d", ["x"])
    report = run_from_config_file(cfg, spark=spark, log=lambda *_: None)
    assert report.exit_code == EXIT_CONFIG


def test_invalid_config_exits_1(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"options": {"tasks": 99}}))  # > 32 bound
    report = run_from_config_file(str(p))
    assert report.exit_code == EXIT_CONFIG
    assert "config error" in report.messages[0]


def test_identity_sync_emits_reseed(spark, sf_dir, tmp_path):
    from smartbulkcopy_spark.catalog import LayoutSpec

    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["orders"],
                        **{"sync-identity": True})
    report = run_from_config_file(
        cfg, spark=spark, monitor_interval=60, log=lambda *_: None,
        layouts={"orders": LayoutSpec(identity_column="o_orderkey")},
    )
    assert report.exit_code == EXIT_OK
    (res,) = report.results
    assert res.identity_reseed_sql is not None
    assert res.identity_reseed_sql.startswith("DBCC CHECKIDENT('orders'")


def _last_job_id(spark) -> int:
    """Highest Spark job id so far, across every thread (the pool's jobs
    carry no job group)."""
    ssc = spark.sparkContext._jsc.sc()
    ssc.listenerBus().waitUntilEmpty(30_000)
    jobs = ssc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def test_run_jobs_per_table_bounded(spark, sf_dir, tmp_path):
    """Per table: one source read, the copy write, one destination read
    and ONE fused verify job. The bound is the measured value (4 jobs a
    table; 8 before the source read was shared and verify fused)."""
    cfg = _write_config(tmp_path, sf_dir, tmp_path / "dest",
                        ["region", "nation"])
    before = _last_job_id(spark)
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    jobs = _last_job_id(spark) - before
    assert report.exit_code == EXIT_OK, report.messages
    assert all(r.content_match for r in report.results)
    assert jobs <= 4 * len(report.results), jobs


def test_destination_lost_before_verify_fails_only_that_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Failure injection: one table's destination files vanish after the
    copy, between the destination read and its verify scan. The scan
    fails, so that table reports an error (no hang waiting on the
    observation's metrics), the run still returns, and the other tables
    stay ok."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from smartbulkcopy_spark import executor
    from smartbulkcopy_spark.executor import EXIT_COPY_ERRORS

    dst = tmp_path / "dest"
    real_check = executor.check_copy

    def losing_check(source, written, table, *args, **kwargs):
        if table == "nation":
            shutil.rmtree(dst / "nation.parquet")
        return real_check(source, written, table, *args, **kwargs)

    monkeypatch.setattr(executor, "check_copy", losing_check)
    cfg = _write_config(tmp_path, sf_dir, dst, ["region", "nation", "supplier"])
    with ThreadPoolExecutor(1) as pool:
        report = pool.submit(
            run_from_config_file, cfg, spark=spark, monitor_interval=60,
            log=lambda *_: None,
        ).result(timeout=300)
    assert report.exit_code == EXIT_COPY_ERRORS
    by = {r.table: r for r in report.results}
    assert by["nation"].error
    assert not by["nation"].content_match
    for t in ("region", "supplier"):
        assert by[t].error is None and by[t].content_match, by[t]


@pytest.mark.parametrize("tamper", ["drop", "duplicate", "alter"])
def test_tampered_copy_fails_verify_and_exits_2(
    spark, sf_dir, tmp_path, monkeypatch, tamper
):
    """A copy that drops, duplicates or alters one row of a table is
    caught by the fused check: content_match is False, exit code 2."""
    import pyspark.sql.functions as F

    from smartbulkcopy_spark import executor

    real_copy = executor.copy_table

    def bad_copy(spark_, tasks, dest, truncate=True, source=None):
        if tasks[0].table_name == "nation":
            one = source.where("n_nationkey = 3")
            source = {
                "drop": lambda: source.where("n_nationkey != 3"),
                "duplicate": lambda: source.unionByName(one),
                "alter": lambda: source.withColumn(
                    "n_name",
                    F.when(F.col("n_nationkey") == 3, "X")
                    .otherwise(F.col("n_name")),
                ),
            }[tamper]()
        return real_copy(spark_, tasks, dest, truncate=truncate, source=source)

    monkeypatch.setattr(executor, "copy_table", bad_copy)
    cfg = _write_config(tmp_path, sf_dir, tmp_path / "dest",
                        ["region", "nation"])
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_MISMATCH, report.messages
    by = {r.table: r for r in report.results}
    assert by["region"].content_match
    assert not by["nation"].content_match and by["nation"].error is None


def test_identity_sync_skipped_without_known_identity(spark, sf_dir, tmp_path):
    """Guessing an identity column would reseed to a wrong value; with no
    catalog-known identity the reseed must be skipped entirely."""
    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["orders"],
                        **{"sync-identity": True})
    report = run_from_config_file(cfg, spark=spark, monitor_interval=60,
                                  log=lambda *_: None)
    assert report.exit_code == EXIT_OK
    (res,) = report.results
    assert res.identity_reseed_sql is None


def test_request_cancel_skips_queued_tables(spark, sf_dir, tmp_path):
    from smartbulkcopy_spark.executor import EXIT_COPY_ERRORS, CopyExecutor

    config_path = _write_config(tmp_path, sf_dir, tmp_path / "dest",
                                ["region", "nation", "customer"])
    from smartbulkcopy_spark.config import load_config

    ex = CopyExecutor(spark, load_config(config_path), monitor_interval=60,
                      log=lambda *_: None)
    ex.request_cancel()  # cancel before run: every table skips
    report = ex.run()
    assert report.exit_code == EXIT_COPY_ERRORS
    assert all(r.error == "cancelled before start" for r in report.results)


# -- retry policy -----------------------------------------------------------


def _cfg(attempts=3, delay=10):
    return EngineConfig(retry_max_attempt=attempts, retry_delay_increment=delay)


def test_retry_backoff_is_linear_and_bounded():
    calls, sleeps = [], []

    def flaky():
        calls.append(1)
        raise TransientError(10054, "connection reset by peer")

    with pytest.raises(TransientError):
        with_retry(flaky, _cfg(attempts=4, delay=10), sleep=sleeps.append)
    assert len(calls) == 4
    assert sleeps == [10, 20, 30]  # attempts * delay_increment


def test_retry_recovers_midway():
    state = {"n": 0}

    def flaky():
        state["n"] += 1
        if state["n"] < 3:
            raise TransientError(40613, "database unavailable")
        return "ok"

    assert with_retry(flaky, _cfg(), sleep=lambda _: None) == "ok"
    assert state["n"] == 3


def test_non_transient_raises_immediately():
    calls = []

    def fatal():
        calls.append(1)
        raise TransientError(2627, "PK violation")  # not in transient list

    with pytest.raises(TransientError):
        with_retry(fatal, _cfg(), sleep=lambda _: None)
    assert len(calls) == 1


def test_transient_classification():
    assert is_transient(TransientError(10928, "throttled"))
    assert not is_transient(TransientError(207, "invalid column"))
    assert is_transient(ConnectionResetError("reset"))
    assert is_transient(RuntimeError("Connection reset by peer"))
    assert not is_transient(RuntimeError("syntax error"))


def test_cli_subprocess_end_to_end(sf_dir, tmp_path):
    """The real CLI: `python -m smartbulkcopy_spark <config>` in a fresh
    process (own SparkSession, signal handler, exit code). Slow (~40s JVM
    boot) but it is the one path nothing else executes."""
    import os
    import subprocess
    import sys

    dst = tmp_path / "dest"
    cfg = _write_config(tmp_path, sf_dir, dst, ["region", "nation"])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "smartbulkcopy_spark", cfg],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo", env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert (dst / "region.parquet").exists()
    assert (dst / "nation.parquet").exists()


# -- graceful cancel --------------------------------------------------------


def test_cancel_handler_two_stage():
    """First Ctrl-C cancels Spark jobs cooperatively, second hard-exits
    (reference: client/SmartBulkCopy.cs:913-928)."""
    from smartbulkcopy_spark.__main__ import install_cancel_handler

    class FakeSC:
        cancelled = 0

        def cancelAllJobs(self):
            FakeSC.cancelled += 1

    class FakeSpark:
        sparkContext = FakeSC()

    lines, exits, coop = [], [], []
    handler = install_cancel_handler(
        FakeSpark(), on_cancel=lambda: coop.append(1),
        log=lines.append, hard_exit=lambda: exits.append(1)
    )
    handler(None, None)
    assert FakeSC.cancelled == 1 and not exits
    assert coop == [1]  # executor told to skip queued tables
    assert "cancel requested" in lines[0]
    handler(None, None)
    assert exits == [1]
    assert FakeSC.cancelled == 1  # no second cooperative cancel


# -- monitor ----------------------------------------------------------------


def test_monitor_tick_reports_rate(tmp_path):
    class S:
        running = {"lineitem"}
        queued = 2

    lines = []
    clock = iter([10.0, 20.0]).__next__
    mon = CopyMonitor(str(tmp_path), S(), log=lines.append, clock=clock)
    (tmp_path / "x.bin").write_bytes(b"\0" * (5 * 1024 * 1024))
    b, t = mon.tick(0, 0.0)
    assert b == 5 * 1024 * 1024
    assert "tasks running: 1" in lines[0] and "queue: 2" in lines[0]
    assert "0.50 MB/sec" in lines[0]  # 5 MB over 10s
    assert "lineitem" in lines[0]


def test_monitor_jdbc_log_flush_sampler():
    """JDBC destination rate path (reference samples the cumulative 'Log
    Bytes Flushed/sec' counter 5s apart, client/SmartBulkCopy.cs:707-731):
    each tick re-resolves the physical instance name (it changes when an
    Azure SLO change moves the database — the reference's 'This needs to
    be in the loop') and differences the counter into an MB/s line."""
    from smartbulkcopy_spark.monitor import log_flush_sampler

    class FakeConn:
        def __init__(self):
            # two counter samples 5s apart: 10 MB flushed -> 2.00 MB/sec.
            # The physical name CHANGES between ticks (SLO move): the
            # second counter query must carry the new name.
            self.counters = iter([0, 10 * 1024 * 1024])
            self.instances = iter(["mydb_physical", "mydb_physical_v2"])
            self.queries = []

        def scalar(self, sql):
            self.queries.append(sql)
            if "physical_database_name" in sql:
                return next(self.instances)
            return next(self.counters)

    class S:
        running = set()
        queued = 0

    conn = FakeConn()
    sampler = log_flush_sampler(conn)
    assert conn.queries == []  # nothing resolved until a tick samples
    lines = []
    clock = iter([0.0, 5.0]).__next__
    mon = CopyMonitor(
        "ignored-for-jdbc", S(), log=lines.append, clock=clock,
        sampler=sampler,
    )
    b0, t0 = sampler(), clock()
    b1, _ = mon.tick(b0, t0)
    assert b1 == 10 * 1024 * 1024
    assert "2.00 MB/sec" in lines[0]
    counter_qs = [q for q in conn.queries if "physical_database_name" not in q]
    assert "'mydb_physical'" in counter_qs[0]
    assert "'mydb_physical_v2'" in counter_qs[1]  # re-resolved per tick


def test_cli_usage_errors_are_config_exit():
    """Both subcommand shapes reject bad argv with EXIT_CONFIG before
    any Spark session is built."""
    from smartbulkcopy_spark.__main__ import main

    assert main([]) == EXIT_CONFIG
    assert main(["curate"]) == EXIT_CONFIG
    assert main(["curate", "only-one-arg"]) == EXIT_CONFIG
