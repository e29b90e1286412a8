"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import re
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import inputs
import layers
import run
import spans
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the package, for its oracle SQL
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


# -- generator ------------------------------------------------------------


def test_generator_is_deterministic_per_seed(tmp_path):
    names = ["region", "orders", "events", "documents", "embeddings"]
    a = inputs.write_inputs(str(tmp_path / "a"), 7, names)
    b = inputs.write_inputs(str(tmp_path / "b"), 7, names)
    c = inputs.write_inputs(str(tmp_path / "c"), 8, names)
    d = inputs.write_inputs(str(tmp_path / "d"), 7, names, stream=1)
    for n in names:
        assert _bytes(a[n]) == _bytes(b[n])
        fixture = pq.read_table(inputs.fixture_path(n))
        ta, tc = pq.read_table(a[n]), pq.read_table(c[n])
        assert ta.schema == tc.schema == fixture.schema
        assert ta.num_rows == tc.num_rows == inputs.rows(n)
        # Every seed keeps the fixture's content; another seed reorders it.
        key = ta.column_names[0]
        assert ta.sort_by(key).equals(fixture.sort_by(key))
        assert tc.sort_by(key).equals(fixture.sort_by(key))
    assert _bytes(a["orders"]) != _bytes(c["orders"])
    # Another stream of the same seed is another order of the same rows.
    assert _bytes(a["documents"]) != _bytes(d["documents"])
    assert pq.read_table(d["documents"]).sort_by("doc_id").equals(
        pq.read_table(a["documents"]).sort_by("doc_id"))


def test_fixtures_hold_the_nine_non_lineitem_tables():
    assert sorted(os.listdir(inputs.FIXTURES)) == sorted(
        f"{n}.parquet" for n in inputs.TABLES)
    assert sum(inputs.rows(n) for n in inputs.TABLES) == 293_030


# -- span arithmetic ------------------------------------------------------


def _span(i, parent, start, end, name="s", iteration=0, **info):
    return spans.Span(i, name, parent, iteration, start, end, info)


def test_union_of_overlapping_intervals():
    assert spans.union_seconds([]) == 0
    assert spans.union_seconds([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert spans.union_seconds([(4, 5), (0, 10)]) == 10


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, None, 0, 10),
        _span(1, 0, 1, 4),   # overlaps its sibling 2 on [3, 4]
        _span(2, 0, 3, 6),
        _span(3, 0, 8, 12),  # runs past the parent: clipped at 10
        _span(4, 1, 1, 3),   # grandchild: counts against span 1 only
    ]
    self_s = spans.self_seconds(tree)
    assert self_s[0] == pytest.approx(10 - 5 - 2)
    assert self_s[1] == pytest.approx(3 - 2)
    assert self_s[2] == pytest.approx(3)
    assert self_s[3] == pytest.approx(4)
    assert self_s[4] == pytest.approx(2)
    assert spans.descendants(tree)[0] == {0, 1, 2, 3, 4}


class _FakeContext:
    """Thread-local properties, as SparkContext keeps them per thread."""

    def __init__(self):
        self._local = threading.local()

    def _props(self):
        if not hasattr(self._local, "p"):
            self._local.p = {}
        return self._local.p

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value

    def setJobGroup(self, group, description):
        self.setLocalProperty("spark.jobGroup.id", group)
        self.setLocalProperty("spark.job.description", description)


def test_spans_nest_and_restore_the_callers_job_group():
    sc = _FakeContext()
    tick = iter(range(100))
    tr = spans.Tracer(sc, clock=lambda: next(tick))
    seen = {}

    def inner():
        seen["inner"] = sc.getLocalProperty("spark.jobGroup.id")
        return 1

    traced = tr.wrap("inner", inner)
    sc.setJobGroup("caller", "d")
    with tr.main_span("outer") as outer:
        assert traced() == 1
        t = threading.Thread(target=traced)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        group = sc.getLocalProperty("spark.jobGroup.id")
        assert group == f"{spans.GROUP_PREFIX}{outer.id}"
    assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    assert seen["inner"].startswith(spans.GROUP_PREFIX)
    children = [s for s in tr.spans if s.name == "inner"]
    assert len(children) == 2 and all(s.parent == outer.id for s in children)


def test_patch_and_uninstall_restore_the_original():
    class Owner:
        def f(self, x):
            return x + 1

    orig = vars(Owner)["f"]
    tr = spans.Tracer(_FakeContext())
    tr.patch(Owner, "f", "f", after=lambda s, _a, out: s.info.update(out=out))
    assert Owner().f(1) == 2 and tr.spans[0].info == {"out": 2}
    tr.uninstall()
    assert vars(Owner)["f"] is orig


def test_layer_metrics_of_a_copy_iteration():
    tree = [
        _span(0, None, 0.0, 10.0, "executor.run"),
        _span(1, 0, 0.0, 0.5, "catalog.collect_all", tables=2),
        _span(2, 0, 0.5, 1.0, "planner.analyze", tasks=4),
        _span(3, 0, 1.0, 5.0, "retry.with_retry", attempts=1),
        _span(4, 3, 1.5, 4.5, "copy_table", table="a"),
        _span(5, 0, 5.0, 6.0, "verify.check_copy", table="a"),
        _span(6, 0, 3.0, 7.0, "retry.with_retry", attempts=2),
        _span(7, 6, 3.0, 7.0, "copy_table", table="b"),
        _span(8, 0, 7.0, 9.0, "verify.check_copy", table="b"),
    ]

    def job(i, group, **kw):
        rec = dict.fromkeys(spans.COUNTER_KEYS, 0)
        rec.update(id=i, group=group, submit_s=0.0, jobs=1, stages=1, **kw)
        return rec

    jobs = [
        job(0, f"{spans.GROUP_PREFIX}4", tasks=3, output_bytes=100),
        job(1, f"{spans.GROUP_PREFIX}3", tasks=1),
        job(2, f"{spans.GROUP_PREFIX}7", tasks=2, output_bytes=50),
        job(3, None, tasks=5),
    ]
    m = layers.iteration_metrics(tree, jobs, 0, 2)
    assert m["catalog.tables"] == 2 and m["planner.tasks"] == 4
    assert m["retry.attempts"] == 3
    assert m["retry.backoff_s"] == pytest.approx((4 - 3) + 0)
    assert m["executor.queue_wait_s"] == pytest.approx((1.0 - 1.0) + (3.0 - 1.0))
    # Table a busy 1..6, table b busy 3..9, pool open 1..9.
    assert m["executor.busy_tables"] == pytest.approx((5 + 6) / 8)
    assert m["executor.self_s"] == pytest.approx(10 - 9)
    assert m["copy_table.jobs"] == 2 and m["copy_table.output_bytes"] == 150
    assert m["spark.jobs"] == 4 and m["spark.tasks"] == 11
    assert m["eager.calls"] == 0 and m["copy_table.output_files"] == 2
    assert set(m) | {"trace.run_p50_s"} == set(run.declared("per_layer"))


# -- metric names and BENCHMARK.json -------------------------------------


def test_benchmark_json_names_units_and_counts():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    e2e, per_layer = bench["end_to_end"], bench["per_layer"]
    assert len(e2e) <= 16 and len(per_layer) <= 128
    names = [m["name"] for m in e2e + per_layer]
    assert len(names) == len(set(names))
    for m in e2e + per_layer:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    assert all(0 < m["bound"] <= 0.25 for m in e2e)
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in e2e)


# -- independent checks fail on corrupted outputs -------------------------


@pytest.fixture
def con():
    c = checks.connect(2)
    yield c
    c.close()


def _copy_as_spark_would(src, dst_dir, table, rows=None):
    """A destination directory holding one part file, built by the test."""
    tbl = pq.read_table(src)
    if rows is not None:
        tbl = tbl.take(pa.array(rows))
    os.makedirs(os.path.join(dst_dir, f"{table}.parquet"))
    pq.write_table(tbl, os.path.join(dst_dir, f"{table}.parquet", "part-00000.parquet"))


def test_copy_check_fails_on_corrupted_destination(tmp_path, con):
    names = ["region", "customer"]
    src = inputs.write_inputs(str(tmp_path / "src"), 1, names)
    expected = checks.source_fingerprints(con, str(tmp_path / "src"), names)
    good = str(tmp_path / "good")
    for n in names:
        _copy_as_spark_would(src[n], good, n)
    assert checks.check_copy(con, good, expected) == {}

    bad = str(tmp_path / "bad")
    # region: one row replaced by a copy of another; customer: one value.
    _copy_as_spark_would(src["region"], bad, "region", rows=[0, 1, 2, 3, 3])
    customer = pq.read_table(src["customer"])
    bal = customer["c_acctbal"].to_pylist()
    bal[0] += 0.01
    os.makedirs(os.path.join(bad, "customer.parquet"))
    pq.write_table(
        customer.set_column(3, "c_acctbal", pa.array(bal)),
        os.path.join(bad, "customer.parquet", "part-00000.parquet"),
    )
    assert set(checks.check_copy(con, bad, expected)) == {"region", "customer"}

    missing = str(tmp_path / "missing")
    _copy_as_spark_would(src["region"], missing, "region")
    assert set(checks.check_copy(con, missing, expected)) == {"customer"}


def _export(out_dir, stats):
    """A split-partitioned export whose per-split stats are ``stats``."""
    for split, n_docs, total in stats:
        part = os.path.join(out_dir, f"split={split}")
        os.makedirs(part)
        tokens = [total - (n_docs - 1)] + [1] * (n_docs - 1)
        pq.write_table(
            pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                      "n_tokens": pa.array(tokens, pa.int64())}),
            os.path.join(part, "part-00000.parquet"),
        )


def test_curate_check_against_the_oracle_fails_on_corruption(tmp_path, con):
    from smartbulkcopy_spark.queries import oracle_queries

    docs = pq.read_table(inputs.fixture_path("documents")).slice(0, 400)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(docs, path)
    sql = oracle_queries()["q61_curation_stats"]
    cache = str(tmp_path / "cache")
    oracle = checks.cached_oracle(con, cache, "q61", sql, path)
    assert oracle and checks.cached_oracle(con, cache, "q61", sql, path) == oracle
    assert len(os.listdir(tmp_path / "cache")) == 1

    good = str(tmp_path / "good")
    _export(good, oracle)
    assert checks.check_curate(con, good, oracle, oracle) == []

    short = str(tmp_path / "short")
    one_lost = [(s, n - (s == "train"), t - (s == "train")) for s, n, t in oracle]
    _export(short, one_lost)
    assert len(checks.check_curate(con, short, oracle, oracle)) == 1
    returned = [(s, n + 1, t) for s, n, t in oracle]
    assert len(checks.check_curate(con, good, returned, oracle)) == 1
    assert checks.check_curate(con, str(tmp_path / "absent"), oracle, oracle)

    # An iteration of concurrent calls counts each call's check on its own.
    wl = workloads.Curate(str(tmp_path), 1, con, cache, 2)
    wl.oracle, wl.src_bytes = oracle, 1
    out = tmp_path / "out" / "0"
    _export(str(out / "0"), oracle)
    _export(str(out / "1"), one_lost)
    got = wl.settle([(oracle, str(out / "0")), (oracle, str(out / "1"))])
    assert (got.attempted, got.failed) == (2, 1)
    assert [e.split(":")[0] for e in got.errors] == ["stream 1"]
    assert not out.exists()


def test_tree_bytes_counts_files(tmp_path):
    (tmp_path / "d").mkdir()
    (tmp_path / "d" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "d" / "_SUCCESS").write_bytes(b"")
    assert checks.tree_bytes(str(tmp_path)) == (10, 1)


def test_host_context_reads_proc():
    a = run.host_sample()
    ctx = run.host_context(a, run.host_sample())
    assert 0 <= ctx["host.steal_frac"] <= 1 and ctx["host.loadavg_start"] >= 0


def test_fingerprint_is_order_insensitive(con):
    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", None]})
    con.register("t", t)
    con.register("rev", t.take(pa.array([2, 0, 1])))
    con.register("other", t.take(pa.array([2, 0, 0])))
    assert checks.fingerprint(con, "t") == checks.fingerprint(con, "rev")
    assert checks.fingerprint(con, "t") != checks.fingerprint(con, "other")
