"""Benchmark of the copy engine and the curation pipeline.

    python3 perfbench/run.py --workload copy_tables --seed 1 --seconds 20 --trace 0
    python3 -m pytest perfbench -q   # the benchmark's own tests

Run from the root of a checkout. One process: it generates the
workload's inputs from ``--seed``, starts a SparkSession on
``local[<cpus>]`` through the package's ``get_spark``, runs the
workload's untimed warm-up iterations, then times iterations of the
workload until they add up to ``--seconds`` seconds (at least two). Every iteration's output is checked
outside the timed window (``checks``). The last line of standard output
is one JSON object, ``{"correct", "attempted", "failed", "metrics"}``,
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, see ``layers``). The full record of the run, with the
spans of a traced run, is written to ``perfbench/work/results/``.

Exits 2 without a result when the package is not in the checkout.
"""

import time

T0 = time.perf_counter()  # start of set-up; interpreter start-up is not in it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared(key: str) -> dict[str, str]:
    """Metric name -> unit for ``key`` ("end_to_end" or "per_layer") of
    BENCHMARK.json, the one place the metrics are declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def host_sample() -> tuple[int, int, float]:
    """(total cpu ticks, steal ticks, 1-minute loadavg)."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0, load


def host_context(before, after) -> dict[str, float]:
    total = after[0] - before[0]
    return {
        "host.steal_frac": (after[1] - before[1]) / total if total > 0 else 0.0,
        "host.loadavg_start": before[2],
        "host.loadavg_end": after[2],
    }


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, app: str, cpus: int):
    from smartbulkcopy_spark.session import get_spark

    return get_spark(
        app_name=app,
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    """Runs one workload: warm-up, timed iterations, checks, traced layers."""

    def __init__(self, workload, spark, tracer):
        self.wl = workload
        self.spark = spark
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.write_amps: list[float] = []
        self.layer_rows: list[dict] = []
        self.last_job = -1
        self.settle_s = 0.0  # time spent outside the timed calls

    def iterate(self, i: int) -> float:
        """One iteration; returns its wall seconds. Everything after the
        timed call (counters, cache release, checks) is outside it."""
        from smartbulkcopy_spark.queries import release_caches

        tr = self.tracer
        call = self.wl.op(self.spark, i, tr)
        if tr:
            tr.iteration = i
        t = time.perf_counter()
        try:
            out, error = call(), None
        except Exception as exc:  # a failed operation is counted, not fatal
            out, error = None, f"{type(exc).__name__}: {exc}"
        wall = time.perf_counter() - t
        t_settle = time.perf_counter()
        if tr:
            jobs, self.last_job = self._jobs()
            rows = sum(df.count() for df in tr.frames.values())
            tr.frames.clear()
            _, self.last_job = self._jobs()  # skip the row-count jobs
        release_caches()
        self.spark.catalog.clearCache()
        if error:
            outcome = self.wl.failed_call(error)
        else:
            outcome = self.wl.settle(out)
        self.attempted += outcome.attempted
        self.failed += outcome.failed
        self.errors += [f"iteration {i}: {e}" for e in outcome.errors]
        if outcome.write_amp is not None:
            self.write_amps.append(outcome.write_amp)
        if tr and i >= 0:
            import layers

            spans = [s for s in tr.spans if s.iteration == i]
            self.layer_rows.append(layers.iteration_metrics(
                spans, jobs, rows, outcome.output_files))
        self.settle_s += time.perf_counter() - t_settle
        return wall

    def _jobs(self):
        import spans

        return spans.job_counters(self.spark, self.last_job)


def run(args, work: str) -> dict:
    sys.path.insert(0, ROOT)
    import checks
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    t_prep = time.perf_counter()
    con = checks.connect(threads=min(4, cpus))
    wl = WORKLOADS[args.workload](
        work, args.seed, con, os.path.join(HERE, "work", "cache"), cpus
    )
    wl.prepare()
    prep_s = time.perf_counter() - t_prep

    spark = start_spark(work, f"perfbench-{wl.name}", cpus)
    tracer = None
    try:
        if args.trace:
            import spans

            tracer = spans.Tracer(spark.sparkContext)
            spans.install(tracer)
        runner = Runner(wl, spark, tracer)
        for i in range(-wl.warmup, 0):
            runner.iterate(i)
        setup_s = time.perf_counter() - T0 - prep_s - runner.settle_s
        walls: list[float] = []
        # At least two iterations, so a run's median never rests on one
        # (a curate iteration can outlast the whole window on a slow host).
        while sum(walls) < args.seconds or len(walls) < 2:
            walls.append(runner.iterate(len(walls)))
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)
        con.close()
    return {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "input_prep_s": prep_s,
        "setup_s": setup_s,
        "walls_s": walls,
        "rows_per_iteration": wl.rows,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors,
        "write_amps": runner.write_amps,
        "layer_rows": runner.layer_rows,
        "spans": [vars(s) for s in tracer.spans] if tracer else [],
    }


def end_to_end(rec: dict) -> dict[str, float]:
    """ok_frac is 1 - fail_frac: a share that is never 0, so its spread
    relative to the median is defined. write_amp is destination bytes on
    disk per source byte."""
    walls = rec["walls_s"]
    return {
        "setup_s": rec["setup_s"],
        "run_p50_s": statistics.median(walls),
        "rows_per_s": rec["rows_per_iteration"] * len(walls) / sum(walls),
        "write_amp": statistics.median(rec["write_amps"] or [0.0]),
        "ok_frac": 1 - rec["failed"] / rec["attempted"],
    }


def summarize(rec: dict) -> dict[str, tuple[float, str]]:
    """The metrics of the result line: end-to-end, or per-layer if traced."""
    if not rec["trace"]:
        m = end_to_end(rec)
        return {k: (m[k], unit) for k, unit in declared("end_to_end").items()}
    rows = rec["layer_rows"]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m["trace.run_p50_s"] = statistics.median(rec["walls_s"])
    return {k: (m[k], unit) for k, unit in declared("per_layer").items()}


def report(rec: dict, metrics: dict) -> None:
    """Human-readable lines; the JSON result line follows them."""
    walls = rec["walls_s"]
    e2e = end_to_end(rec)
    print(f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']}"
          f" cpus={rec['cpus']} input_prep_s={rec['input_prep_s']:.3f}")
    print(f"  setup_s     {e2e['setup_s']:.4f} s")
    print(f"  run_p50_s   {e2e['run_p50_s']:.4f} s  (n={len(walls)},"
          f" min {min(walls):.4f}, max {max(walls):.4f})")
    print(f"  rows_per_s  {e2e['rows_per_s']:.1f} 1/s"
          f"  ({rec['rows_per_iteration']} input rows per iteration)")
    print(f"  write_amp   {e2e['write_amp']:.4f} ratio  (n={len(rec['write_amps'])})")
    print(f"  fail_frac   {1 - e2e['ok_frac']:.4f}"
          f"  ({rec['failed']}/{rec['attempted']} operations)")
    print("  host        " + ", ".join(f"{k}={v:.3f}" for k, v in rec["host"].items()))
    for e in rec["errors"][:20]:
        print(f"  FAILED {e}")
    if rec["trace"]:
        print_spans(rec)
        for k, (v, unit) in metrics.items():
            print(f"  {k:<28} {v:.6g} {unit}")


def print_spans(rec: dict) -> None:
    """Median per-iteration calls, inclusive and self seconds per span name."""
    from spans import Span, self_seconds

    spans = [Span(**s) for s in rec["spans"] if s["iteration"] >= 0]
    selfs = self_seconds(spans)
    n = len(rec["walls_s"])
    table: dict[str, list[list[float]]] = {}
    for i in range(n):
        per: dict[str, list[float]] = {}
        for s in spans:
            if s.iteration == i:
                row = per.setdefault(s.name, [0, 0.0, 0.0])
                row[0] += 1
                row[1] += s.seconds
                row[2] += selfs[s.id]
        for name, row in per.items():
            table.setdefault(name, []).append(row)
    print(f"  {'span':<24} {'calls':>6} {'incl_s':>9} {'self_s':>9}"
          "  (medians per iteration)")
    for name, rows in sorted(table.items()):
        med = [statistics.median(r[k] for r in rows) for k in range(3)]
        print(f"  {name:<24} {med[0]:>6g} {med[1]:>9.4f} {med[2]:>9.4f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "smartbulkcopy_spark", "__init__.py")):
        print("perfbench: the smartbulkcopy_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    host0 = host_sample()
    try:
        rec = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["host"] = host_context(host0, host_sample())
    metrics = summarize(rec)
    results = os.path.join(HERE, "work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({**rec, "metrics": metrics}, f)
    report(rec, metrics)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
