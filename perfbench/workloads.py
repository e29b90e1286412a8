"""The workloads. Each one drives a public entry point of the package
the way a user does, on inputs generated from the workload seed, and
checks the outputs with ``checks`` (never with the package's verify).

A workload is used in three steps: ``prepare`` (generate inputs and
expected answers), ``op`` (build the zero-argument call the benchmark
times) and ``settle`` (after the timed call: check the output, measure
and delete it).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
import inputs


def no_span(_name):
    return nullcontext()


@dataclass
class Outcome:
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    write_amp: float | None = None  # destination bytes per source byte
    output_files: int = 0


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    ops = 1  # operations per iteration
    # Untimed iterations before the timed window. The JIT keeps warming
    # for several iterations: in one process copy_tables fell from 3.2 s
    # to 2.2 s over its first eight iterations and a lone curate call
    # from 15 s to about 6 s over its first three. One curate iteration
    # already runs one cold call per CPU.
    warmup = 1

    def __init__(self, work: str, seed: int, con, cache_dir: str, tasks: int):
        self.work = work
        self.seed = seed
        self.con = con
        self.cache_dir = cache_dir
        self.tasks = tasks
        self.src = os.path.join(work, "src")

    @property
    def rows(self) -> int:
        """Input rows one iteration processes."""
        return sum(inputs.rows(t) for t in self.tables)

    def prepare(self) -> None:
        inputs.write_inputs(self.src, self.seed, self.tables)

    def failed_call(self, error: str) -> Outcome:
        return Outcome(self.ops, self.ops, [error])


class CopyTables(Workload):
    """One config-driven ``CopyExecutor.run()`` over nine tables."""

    name = "copy_tables"
    tables = inputs.TABLES
    ops = len(tables)
    warmup = 5
    # The CLI's monitor interval (5 s) is longer than one iteration, so at
    # that interval the monitor would never tick; at 1 s it ticks once or
    # twice per iteration and its cost is part of the measured run.
    monitor_interval = 1.0

    def prepare(self) -> None:
        super().prepare()
        self.expected = checks.source_fingerprints(self.con, self.src, self.tables)
        self.src_bytes = checks.tree_bytes(self.src)[0]

    def op(self, spark, i: int, tracer=None):
        from smartbulkcopy_spark.config import load_config
        from smartbulkcopy_spark.executor import CopyExecutor

        span = tracer.main_span if tracer else no_span
        dst = os.path.join(self.work, "dst", str(i))
        path = os.path.join(self.work, f"copy-{i}.json")
        with open(path, "w") as f:
            json.dump({
                "source": {"connection-string": self.src},
                "destination": {"connection-string": dst},
                "tables": ["+:*", "-:lineitem"],
                "options": {
                    "tasks": self.tasks,
                    "logical-partitions": "auto",
                    "safe-check": "readonly",
                },
            }, f)
        def call():
            with span("executor.run"):
                config = load_config(path)
                report = CopyExecutor(
                    spark, config, monitor_interval=self.monitor_interval,
                    log=lambda _msg: None,
                ).run()
            return report, dst

        return call

    def settle(self, out) -> Outcome:
        report, dst = out
        bad = {
            r.table: r.error or "content_match false"
            for r in report.results
            if r.error or not r.content_match
        }
        bad.update(checks.check_copy(self.con, dst, self.expected))
        if report.exit_code != 0:
            bad = {t: bad.get(t, f"exit code {report.exit_code}") for t in self.tables}
        size, files = checks.tree_bytes(dst)
        shutil.rmtree(dst, ignore_errors=True)
        return Outcome(
            self.ops, len(bad), [f"{t}: {e}" for t, e in sorted(bad.items())],
            write_amp=size / self.src_bytes, output_files=files,
        )


class Curate(Workload):
    """``curate()`` plus the collect of its per-split stats, as the CLI
    subcommand runs it, as one call per CPU running concurrently in the
    session, each on its own seed-permuted copy of the documents.

    One call runs nearly every stage as a single task, so alone it keeps
    about one CPU busy, and on a shared host a lone busy thread is slower
    and noisier than one per CPU (NOTES.md). One call per CPU spreads the
    timed work over every CPU, as the copy workload's pool does."""

    name = "curate"
    tables = ("documents",)

    def __init__(self, *args):
        super().__init__(*args)
        self.streams = self.ops = self.tasks
        self.srcs = [os.path.join(self.work, f"src{k}") for k in range(self.streams)]

    @property
    def rows(self) -> int:
        return super().rows * self.streams

    def prepare(self) -> None:
        from smartbulkcopy_spark.queries import oracle_queries

        docs = [
            inputs.write_inputs(src, self.seed, self.tables, stream=k)["documents"]
            for k, src in enumerate(self.srcs)
        ]
        # Every stream holds the same rows, so one oracle answer serves all.
        self.oracle = checks.cached_oracle(
            self.con, self.cache_dir, "q61_curation_stats",
            oracle_queries()["q61_curation_stats"], docs[0],
        )
        self.src_bytes = sum(os.path.getsize(d) for d in docs)

    def op(self, spark, i: int, tracer=None):
        from smartbulkcopy_spark.pipeline.curate import curate

        span = tracer.span if tracer else no_span
        outs = [os.path.join(self.work, "out", str(i), str(k))
                for k in range(self.streams)]

        def one(k):
            with span("curate"):
                stats = curate(spark, self.srcs[k], outs[k])
            with span("curate.collect"):
                rows = stats.collect()
            return rows, outs[k]

        def call():
            with ThreadPoolExecutor(self.streams) as pool:
                return list(pool.map(one, range(self.streams)))

        return call

    def settle(self, out) -> Outcome:
        errors, failed, size, files = [], 0, 0, 0
        for k, (rows, out_dir) in enumerate(out):
            bad = checks.check_curate(
                self.con, out_dir, [tuple(r) for r in rows], self.oracle
            )
            errors += [f"stream {k}: {e}" for e in bad]
            failed += bool(bad)
            b, n = checks.tree_bytes(out_dir)
            size, files = size + b, files + n
        shutil.rmtree(os.path.dirname(out[0][1]), ignore_errors=True)
        return Outcome(self.ops, failed, errors,
                       write_amp=size / self.src_bytes, output_files=files)


WORKLOADS = {w.name: w for w in (CopyTables, Curate)}
