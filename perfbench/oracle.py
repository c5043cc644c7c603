"""Result check against the DuckDB oracles, outside the timed region.

Cells are canonicalized with ``tools/check_oracles.normalize`` (imported,
not copied) and compared as order-insensitive multisets over columns
sorted by name, the same rules ``tools/check_oracles.py`` applies. The
oracle side is reduced to a digest of its multiset and cached.
"""

from __future__ import annotations

import collections
import hashlib
import json
import multiprocessing
import os

import pyarrow as pa


def _check_oracles():
    from tools import check_oracles

    return check_oracles


def connect(tables_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _spark_rows(table: pa.Table) -> list[tuple]:
    """Arrow result -> the tuples ``DataFrame.collect`` would give: UTC
    timestamps become naive datetimes (the run pins TZ=UTC)."""
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))
        # struct cells: collect() gives Rows (tuples), Arrow gives dicts
        cols.append([tuple(v.values()) if isinstance(v, dict) else v for v in col.to_pylist()])
    return list(zip(*cols)) if cols else []


def _digest(rows: collections.Counter) -> str:
    h = hashlib.sha256()
    for item in sorted(repr(kv) for kv in rows.items()):
        h.update(item.encode())
    return h.hexdigest()


def expected(con, oracle_sql: str, schema) -> dict:
    """The oracle's side of the comparison: its sorted columns, type drift
    against the Spark schema, the columns to compare as floats, and the
    row count and digest of its normalized value multiset."""
    import pandas as pd

    co = _check_oracles()
    ddf = con.execute(oracle_sql).df()
    drift = co.dtype_drift(_SchemaView(schema), ddf)
    float_coerce = []
    for f in schema.fields:
        if f.name not in ddf.columns:
            continue
        kind = co._SPARK_KIND.get(f.dataType.typeName())
        if kind == "iu" and ddf[f.name].dtype.kind == "f" and ddf[f.name].isna().any():
            try:
                ddf[f.name] = ddf[f.name].astype("Int64")
            except (TypeError, ValueError):
                float_coerce.append(f.name)
        if f.dataType.typeName() == "date" and ddf[f.name].dtype.kind == "M":
            ddf[f.name] = ddf[f.name].dt.date
    dcols = sorted(ddf.columns)
    order = [list(ddf.columns).index(c) for c in dcols]

    def _cell(v):
        if not hasattr(v, "__len__") and pd.isna(v) and not isinstance(v, float):
            return None
        return v

    rows = collections.Counter(
        tuple(co.normalize(_cell(r[i])) for i in order)
        for r in ddf.itertuples(index=False, name=None)
    )
    return {"cols": dcols, "drift": drift, "float_coerce": float_coerce,
            "rows": rows.total(), "digest": _digest(rows)}


class OracleCache:
    """Oracle results keyed by everything they depend on: the oracle SQL,
    the Spark result schema, the table generator and the comparison code.
    The analytics tables are fixed, so one checkout computes each oracle
    once; entries are JSON files written by atomic rename."""

    def __init__(self, cache_dir: str, con, tables_key: str):
        self.dir, self.con, self.tables_key = cache_dir, con, tables_key
        os.makedirs(cache_dir, exist_ok=True)

    def get(self, oracle_sql: str, schema) -> dict:
        key = hashlib.sha256(
            "\0".join((self.tables_key, _code_key(), oracle_sql, schema.simpleString())).encode()
        ).hexdigest()[:32]
        path = os.path.join(self.dir, f"{key}.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            pass
        want = expected(self.con, oracle_sql, schema)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, path)
        return want


def _code_key() -> str:
    h = hashlib.sha256()
    for f in (__file__, _check_oracles().__file__):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_digest(table: pa.Table, coerce: list) -> tuple[int, str]:
    """Row count and digest of a Spark result's normalized multiset, over
    columns sorted by name (run in a worker process)."""
    co = _check_oracles()
    scols = sorted(table.column_names)
    sorder = [table.column_names.index(c) for c in scols]
    coerce = set(coerce)
    rows = collections.Counter(
        tuple(co.normalize(float(r[i]) if scols[k] in coerce and r[i] is not None else r[i])
              for k, i in enumerate(sorder))
        for r in _spark_rows(table)
    )
    return rows.total(), _digest(rows)


def check_all(cache: OracleCache, results: dict, oracles: dict, workers: int) -> dict:
    """``{name: reason}`` for every result that does not match its oracle.
    A query without an oracle must return a non-empty result. The Spark
    sides are normalized in parallel in ``workers`` spawned processes."""
    bad, todo = {}, {}
    for name, (schema, table) in results.items():
        sql = oracles.get(name)
        if sql is None:
            if table.num_rows == 0:
                bad[name] = "empty result"
            continue
        want = cache.get(sql, schema)
        if want["drift"]:
            bad[name] = "type drift: " + "; ".join(want["drift"])
        elif sorted(table.column_names) != want["cols"]:
            bad[name] = f"columns {sorted(table.column_names)} != {want['cols']}"
        else:
            todo[name] = (table, want)
    if not todo:
        return bad
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(workers, len(todo))) as pool:
        jobs = {n: pool.apply_async(spark_digest, (t, w["float_coerce"])) for n, (t, w) in todo.items()}
        for name, job in jobs.items():
            rows, digest = job.get(timeout=120)
            want = todo[name][1]
            if rows != want["rows"]:
                bad[name] = f"rowcount {rows} != {want['rows']}"
            elif digest != want["digest"]:
                bad[name] = "values differ from the oracle (run tools/check_oracles.py for the rows)"
    return bad


class _SchemaView:
    """``dtype_drift`` reads ``sdf.schema``; a schema is all it needs."""

    def __init__(self, schema):
        self.schema = schema
