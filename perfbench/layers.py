"""Per-layer metrics of one traced iteration, from its spans and the
Spark jobs it ran. A layer that does not run in a workload reads 0.

Span names (set in ``spans.install`` and by the workloads):
catalog.list_tables, catalog.collect_all, planner.analyze,
retry.with_retry, copy_table, verify.check_copy, monitor.tick,
verified_pairs, curated_docs, eager, and the benchmark's own calls
executor.run, curate and curate.collect.
"""

from __future__ import annotations

from collections import defaultdict

from spans import descendants, self_seconds, span_of_group, sum_counters


def iteration_metrics(spans, jobs, eager_rows: int,
                      output_files: int) -> dict[str, float]:
    """Every per-layer metric of BENCHMARK.json except the run-level
    trace.run_p50_s."""
    named = defaultdict(list)
    for s in spans:
        named[s.name].append(s)
    own = defaultdict(list)
    for j in jobs:
        own[span_of_group(j["group"])].append(j)
    below = descendants(spans)
    selfs = self_seconds(spans)

    def dur(*names):
        return sum(s.seconds for n in names for s in named[n])

    def ctr(name, key):
        """Counter ``key`` over the jobs of every ``name`` span and its
        descendants."""
        return sum(
            sum_counters(j for i in below[s.id] for j in own[i])[key]
            for s in named[name]
        )

    m = {
        "catalog.s": dur("catalog.list_tables", "catalog.collect_all"),
        "catalog.tables": sum(
            s.info.get("tables", 0) for s in named["catalog.collect_all"]
        ),
        "planner.s": dur("planner.analyze"),
        "planner.tasks": sum(
            s.info.get("tasks", 0) for s in named["planner.analyze"]
        ),
        "executor.s": dur("executor.run"),
        "executor.self_s": sum(selfs[s.id] for s in named["executor.run"]),
        "retry.attempts": sum(s.info["attempts"] for s in named["retry.with_retry"]),
        "retry.backoff_s": sum(selfs[s.id] for s in named["retry.with_retry"]),
        "monitor.ticks": len(named["monitor.tick"]),
        "monitor.tick_s": dur("monitor.tick"),
        "copy_table.s": dur("copy_table"),
        "copy_table.jobs": ctr("copy_table", "jobs"),
        "copy_table.tasks": ctr("copy_table", "tasks"),
        "copy_table.task_s": ctr("copy_table", "task_s"),
        "copy_table.shuffle_bytes": ctr("copy_table", "shuffle_write_bytes"),
        "copy_table.spill_bytes": ctr("copy_table", "spill_bytes"),
        "copy_table.output_bytes": ctr("copy_table", "output_bytes"),
        "copy_table.output_files": output_files if named["copy_table"] else 0,
        "verify.s": dur("verify.check_copy"),
        "verify.jobs": ctr("verify.check_copy", "jobs"),
        "verify.task_s": ctr("verify.check_copy", "task_s"),
        "verify.input_rows": ctr("verify.check_copy", "input_rows"),
        "verified_pairs.s": dur("verified_pairs"),
        "verified_pairs.jobs": ctr("verified_pairs", "jobs"),
        "eager.calls": len(named["eager"]),
        "eager.s": dur("eager"),
        "eager.rows": eager_rows,
        "curated_docs.s": dur("curated_docs"),
    }
    m.update(_executor_pool(named))
    m.update(_curate_split(named, own))
    total = sum_counters(jobs)
    m.update({
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.task_s": total["task_s"],
        "spark.gc_s": total["gc_s"],
        "spark.shuffle_bytes": total["shuffle_write_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.peak_exec_mem_bytes": total["peak_exec_mem_bytes"],
    })
    return m


def _executor_pool(named) -> dict[str, float]:
    """Queue wait: from the end of planning until each table's copy
    starts. Busy tables: table-seconds in flight per second of the pool's
    wall, i.e. the mean number of tables being worked on."""
    if not named["planner.analyze"] or not named["retry.with_retry"]:
        return {"executor.queue_wait_s": 0.0, "executor.busy_tables": 0.0}
    pool_start = named["planner.analyze"][0].end
    retry_start = {r.id: r.start for r in named["retry.with_retry"]}
    start = {
        c.info["table"]: retry_start[c.parent]
        for c in named["copy_table"] if c.parent in retry_start
    }
    end = {c.info["table"]: c.end for c in named["verify.check_copy"]}
    busy = sum(end[t] - start[t] for t in end if t in start)
    wall = max(end.values(), default=pool_start) - pool_start
    return {
        "executor.queue_wait_s": sum(t - pool_start for t in start.values()),
        "executor.busy_tables": busy / wall if wall > 0 else 0.0,
    }


def _curate_split(named, own) -> dict[str, float]:
    """Split curate() at its curated_docs() call: before it, the verified
    pair set is built and materialized; after it, the export is written.
    Write jobs are curate's own jobs submitted after curated_docs()
    returned."""
    out = {"curate.pairs_s": 0.0, "curate.write_s": 0.0, "curate.write_jobs": 0,
           "curate.output_bytes": 0}
    for c in named["curate"]:
        docs = [d for d in named["curated_docs"] if d.parent == c.id]
        if not docs:
            continue
        out["curate.pairs_s"] += docs[0].start - c.start
        out["curate.write_s"] += c.end - docs[-1].end
        writes = [j for j in own[c.id] if j["submit_s"] >= docs[-1].end - 0.001]
        out["curate.write_jobs"] += len(writes)
        out["curate.output_bytes"] += sum(j["output_bytes"] for j in writes)
    return out
