"""``driver_mix``: the library as the spark-graft contract drives it.

One pass runs ``__spark_entry__.queries()`` in a fixed order, first the
paper-surface fixture family, then lakehouse verbs that write and commit
tables (last, so their garbage does not land on the small queries).  The
tables the queries read (``lineitem``, ``orders``, ``documents``) are
generated from the seed with the shapes of the sf0.01 test tables.
After the pass, every oracle-backed query's rows are compared with
``oracle_sql()`` in DuckDB the way ``tests/drive_driver.py`` compares
them.
"""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import spans
from harness import Run, median, setup_time

FIXTURE = (
    "flag_regions", "elevation", "flag_regions_2d", "mine_fraction",
    "nearest_cell", "reserves_report", "reserves_sample", "breakdown_stats",
    "breakdown_quantiles", "breakdown_weighted_quantile",
    "breakdown_major_list", "null_sentinel_mask", "grid_cells",
    "grid_heatmap", "pivot_report", "grade_tonnage", "grade_shells",
    "proportional_volume", "rotated_grid", "reblock",
)
#: a Delta MERGE and the UPDATE that commits to Delta, Iceberg and Hudi;
#: both read their tables back
LAKEHOUSE = ("delta_merge", "lakehouse_update")
TABLES = ("lineitem", "orders", "documents")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_tables(sf_dir: str, seed: int) -> int:
    """``lineitem`` (60,000 rows), ``orders`` (15,000) and ``documents``
    (500) with the sf0.01 schemas and value ranges.  Returns the number
    of table cells (rows x columns) written."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    day0 = np.datetime64("1995-01-02", "us")
    days = lambda n, span: day0 + rng.integers(0, span, n).astype("timedelta64[D]")
    n = 60_000
    flags = rng.integers(0, 6, n)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, 15_000, n),
        "l_partkey": rng.integers(0, 2_000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(list("AANNRR"))[flags]),
        "l_linestatus": pa.array(np.array(list("FOFOFO"))[flags]),
        "l_shipdate": days(n, 2500),
    })
    n = 15_000
    orders = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 1_500, n),
        "o_orderstatus": pa.array(np.array(list("FOP"))[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, n), 2),
        "o_orderdate": days(n, 2400),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)]),
    })
    n = 500
    text = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(n)]
    documents = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    cells = 0
    for name, table in zip(TABLES, (lineitem, orders, documents)):
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        cells += table.num_rows * table.num_columns
    return cells


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            vals = [str(v) for v in s.tolist()]
        else:
            vals = [repr(round(v, 6)) if isinstance(v, float) else repr(v)
                    for v in s.tolist()]
        h.update("\x00".join(vals).encode())
    return h.hexdigest()


def compare(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Column-name-sorted, order-insensitive comparison with floats
    rounded to 6 places; ``None`` when equal."""
    s, o = _norm(got), _norm(expected)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs oracle {list(o.columns)}"
    if len(s) != len(o):
        return f"{len(s)} rows, oracle has {len(o)}"
    for df in (s, o):
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
    if _value_hash(s) != _value_hash(o):
        return "values differ"
    return None


def run(run: Run, seconds: float, names=FIXTURE + LAKEHOUSE) -> dict:
    """One benchmark run of the query mix (``names``, in order); returns
    the metrics."""
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    spark = run.start_spark()
    session_s = time.perf_counter() - t0
    sf_dir = run.data
    cells, gen_s = setup_time(lambda: write_tables(sf_dir, run.seed))
    t0 = time.perf_counter()
    entry.entry(spark).collect()  # the contract's own smoke call
    warm_s = time.perf_counter() - t0
    run.record.update(session_s=session_s, input_s=gen_s, warmup_s=warm_s)
    queries = entry.queries()

    passes, results = [], {}
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        t_pass = time.perf_counter()
        for name in names:
            family = "fixture" if name in FIXTURE else "lakehouse"
            rows = (_traced_query if run.traced else _timed_query)(
                run, queries[name], name, family, sf_dir)
            if rows is not None:
                results[name] = rows
        passes.append(time.perf_counter() - t_pass)
    wall = time.perf_counter() - start
    done = run.attempted - len(run.failures)
    if run.traced:
        # the fixture queries again: untraced, traced, untraced, so the
        # traced repeat sits between the two it is compared with
        fixture = [queries[n] for n in names if n in FIXTURE]
        plain = [_repeat(run, fixture, sf_dir, False)]
        traced = _repeat(run, fixture, sf_dir, True)
        plain.append(_repeat(run, fixture, sf_dir, False))
        overhead = traced / (sum(plain) / len(plain)) - 1.0

    _check(run, entry.oracle_sql(), results, sf_dir)
    run.close()
    run.record["pass_s"] = passes
    if run.traced:
        return _layer_metrics(run, overhead)
    return {
        "report_s_p50": (median(passes), "s"),
        "cells_per_s": (cells * len(passes) / sum(passes), "cells/s"),
        "queries_per_s": (done / wall, "1/s"),
        "setup_s": (session_s + gen_s + warm_s, "s"),
    }


def _timed_query(run: Run, fn, name: str, family: str, sf_dir: str):
    spark = run.spark
    t = time.perf_counter()
    out = run.attempt(name, lambda: fn(spark, sf_dir).toPandas())
    run.record.setdefault("query_s", {})[name] = time.perf_counter() - t
    return out


def _repeat(run: Run, fns, sf_dir: str, traced: bool) -> float:
    """Seconds to run ``fns`` once more, each under one span when
    ``traced``; failures were recorded by the pass."""
    spark, T = run.spark, run.tracer
    t0 = time.perf_counter()
    for fn in fns:
        try:
            if not traced:
                fn(spark, sf_dir).toPandas()
                continue
            with T.span("repeat", "repeat", "exec"):
                df = fn(spark, sf_dir)
                spans.plan_text(df)
                df.toPandas()
        except Exception:
            pass
    return time.perf_counter() - t0


def _traced_query(run: Run, fn, name: str, family: str, sf_dir: str):
    """Build, plan and execute one query under three spans."""
    T, spark = run.tracer, run.spark

    def one():
        with T.span(f"{name}.build", family, "build"):
            df = fn(spark, sf_dir)
        T.planned(df, f"{name}.plan", family)
        with T.span(f"{name}.exec", family, "exec"):
            return df.toPandas()

    out = run.attempt(name, one)
    if out is None:
        # a failed query's spans stay in the ledger; mark the failure
        T.spans[-1]["failed"] = True
    run.record.setdefault("plans", {})
    plan = next((s for s in reversed(T.spans) if s["kind"] == "plan"
                 and s["name"] == f"{name}.plan"), None)
    if plan is not None:
        run.record["plans"][name] = {k: plan[k] for k in ("plan_sha", *spans.PLAN_NODES)}
    return out


def _check(run: Run, oracles: dict, results: dict, sf_dir: str) -> None:
    """Compare every completed oracle-backed query with its oracle."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        checked = {}
        for name, got in results.items():
            if name not in oracles:
                checked[name] = "rows-only"
                continue
            try:
                expected = con.execute(oracles[name]).df()
            except duckdb.Error as e:
                run.mismatch(name, f"oracle error: {e}")
                checked[name] = "ORACLE_ERR"
                continue
            diff = compare(got, expected)
            checked[name] = "MATCH" if diff is None else diff
            if diff is not None:
                run.mismatch(name, diff)
        run.record["oracle"] = checked
    finally:
        con.close()


def _layer_metrics(run: Run, overhead: float) -> dict:
    ledger = [s for s in run.tracer.spans if s["layer"] != "repeat"]

    def total(layer, kind, key="dur"):
        return sum(s[key] for s in ledger
                   if s["layer"] == layer and (kind is None or s["kind"] == kind))

    lake_dur = total("lakehouse", None)
    lake_job = total("lakehouse", None, "job_s")
    return {
        "entry.fixture.build_s": (total("fixture", "build"), "s"),
        "entry.fixture.plan_s": (total("fixture", "plan"), "s"),
        "entry.fixture.exec_s": (total("fixture", "exec"), "s"),
        "entry.fixture.jobs": (total("fixture", None, "jobs"), "count"),
        "lakehouse.driver_s": (lake_dur - lake_job, "s"),
        "lakehouse.job_s": (lake_job, "s"),
        "lakehouse.sql_executions": (total("lakehouse", None, "sql_executions"), "count"),
        "lakehouse.jobs": (total("lakehouse", None, "jobs"), "count"),
        "catalyst.plan_s": (sum(s["dur"] for s in ledger if s["kind"] == "plan"), "s"),
        "spark.jobs": (sum(s["jobs"] for s in ledger), "count"),
        "spark.tasks": (sum(s["tasks"] for s in ledger), "count"),
        "spark.task_s": (sum(s["task_s"] for s in ledger), "s"),
        "spark.gc_s": (sum(s["gc_s"] for s in ledger), "s"),
        "spark.shuffle_bytes": (sum(s["shuffle_bytes"] for s in ledger), "bytes"),
        "trace.overhead_frac": (overhead, "ratio"),
    }
