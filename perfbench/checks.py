"""Output checks that do not use the program under test.

Copies are compared with DuckDB: row count plus an order-insensitive
sum of per-row hashes over every column, source against destination.
Pipeline outputs are compared with the package's DuckDB oracle SQL run
on the generated input directory. Oracle answers do not depend on the
workload seed (the seed only reorders rows), so they are cached on disk
under a key made of the oracle SQL and the input's content fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    return con


def fingerprint(con, relation: str) -> tuple[list[str], int, int]:
    """(sorted column names, row count, sum of row hashes) of a parquet
    relation such as ``read_parquet('dir/*.parquet')``."""
    described = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted(r[0] for r in described)
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    count, total = con.execute(
        f"SELECT count(*), sum(hash({quoted})::HUGEINT) FROM {relation}"
    ).fetchone()
    return cols, int(count), int(total or 0)


def source_fingerprints(con, src_dir: str, tables) -> dict[str, tuple]:
    return {
        t: fingerprint(con, f"read_parquet('{os.path.join(src_dir, t)}.parquet')")
        for t in tables
    }


def check_copy(con, dst_dir: str, expected: dict[str, tuple]) -> dict[str, str]:
    """Compare each destination table ``<dst_dir>/<t>.parquet/`` with its
    source fingerprint; returns {table: reason} for every mismatch."""
    bad = {}
    for table, want in expected.items():
        rel = f"read_parquet('{os.path.join(dst_dir, table)}.parquet/*.parquet')"
        try:
            got = fingerprint(con, rel)
        except duckdb.Error as exc:
            bad[table] = f"unreadable destination: {exc}"
            continue
        if got != want:
            bad[table] = (
                f"destination (rows, hash) {got[1:]} != source {want[1:]},"
                f" same columns: {got[0] == want[0]}"
            )
    return bad


def cached_oracle(con, cache_dir: str, name: str, sql: str,
                  docs_path: str) -> list[tuple]:
    """Rows of oracle ``sql`` over the ``documents`` table at ``docs_path``."""
    _, count, total = fingerprint(con, f"read_parquet('{docs_path}')")
    key = hashlib.sha256(f"{sql}\0{count}\0{total}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    con.execute(
        "CREATE OR REPLACE VIEW documents AS"
        f" SELECT * FROM read_parquet('{docs_path}')"
    )
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rows, f)
    os.replace(tmp, path)
    return rows


def check_curate(con, out_dir: str, returned: list[tuple],
                 oracle: list[tuple]) -> list[str]:
    """The per-split stats curate returned, and the same stats read back
    from its split-partitioned export, must both equal the oracle."""
    errors = []
    if sorted(returned) != sorted(oracle):
        errors.append(f"returned stats {returned} != oracle {oracle}")
    try:
        exported = con.execute(
            "SELECT split, count(*), CAST(sum(n_tokens) AS BIGINT) FROM read_parquet("
            f"'{out_dir}/*/*.parquet', hive_partitioning = true) GROUP BY split"
        ).fetchall()
    except duckdb.Error as exc:
        return errors + [f"unreadable export: {exc}"]
    if sorted(exported) != sorted(oracle):
        errors.append(f"exported stats {sorted(exported)} != oracle {oracle}")
    return errors


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet part files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files
