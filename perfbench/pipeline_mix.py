"""pipeline-mix: the operator layer.

Six registry queries on seeded tables with one row group each, in a
seeded order on each pass.  They carry exchanges, per-iteration AQE
re-planning (fixed-point PageRank), the streaming state store (tumbling
window) and the Python-worker boundary (MinHash-LSH).  Index and pruning
changes should leave this workload unchanged.

A run warms up first, untimed: every query once, in the seeded order, on
small tables of the same schema, so each query's first planning, code
generation and the session's first job of each kind (Python workers,
Arrow collection, shuffle, stateful stream) do not land on whichever
query the order puts first.  Then whole passes run while they fit in the
window, at least one.  The first pass is checked against each query's
DuckDB oracle, later passes against the first.
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd

from perfbench import fixtures
from perfbench.harness import (
    Context, Control, JobCounter, Result, latency_metrics,
    median, ms, self_time_metrics, start_spark, stop_spark, trace_overhead_pct,
)

QUERIES = (
    "q91_minhash_lsh", "q147_copurchase_pairs", "q130_pagerank_fixedpoint",
    "q70_tumbling_window", "q117_sessionization", "q20_inner_join",
)
SETUP_REPS = {"full": 3, "smoke": 1}

PER_LAYER = (
    "session.get_spark_s", "queries.resolve_tables_ms", "pipeline_pass_s",
    *(f"op.{q}_s" for q in QUERIES),
    *(f"op.{q}.jobs" for q in QUERIES),
    *(f"op.{q}.stages" for q in QUERIES),
)


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive comparable form: columns by name, timestamps as
    integer microseconds, rows sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def same(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" and y.dtype.kind == "f":
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif not (x.astype(object) == y.astype(object)).all():
            return False
    return True


def oracle(sf_dir: str, name: str) -> pd.DataFrame:
    import duckdb

    from palletjack_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in fixtures.PIPE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.sql(REGISTRY[name].oracle).df()
    finally:
        con.close()


def run(ctx: Context) -> Result:
    from palletjack_spark import load_table
    from palletjack_spark.queries import REGISTRY

    tr = ctx.tracer
    shape = fixtures.PIPE_SHAPES[ctx.size]
    base = ctx.dir("fixtures")
    sf_dir, gen_tables = fixtures.cached(
        base, "pipe", {"seed": ctx.seed, "shape": shape},
        lambda d: fixtures.build_pipeline_tables(d, shape, ctx.seed))
    warm_dir, gen_warm = fixtures.cached(
        base, "pipe", {"seed": ctx.seed, "shape": fixtures.PIPE_SHAPES["smoke"]},
        lambda d: fixtures.build_pipeline_tables(d, fixtures.PIPE_SHAPES["smoke"], ctx.seed))
    small_path, full_path, gen_control = fixtures.control_files(base)
    ctl = Control(small_path, full_path)

    spark, session_s = start_spark(ctx)
    try:
        # set-up after the session: resolve the input tables (listing and
        # schema inference), the work every query's first scan needs
        resolves = []
        for _ in range(SETUP_REPS[ctx.size]):
            spark.__dict__.pop("_pj_table_memo", None)
            t0 = time.perf_counter()
            for t in fixtures.PIPE_TABLES:
                load_table(spark, sf_dir, t)
            resolves.append(time.perf_counter() - t0)
        # a wall clock: see Control
        setup_s = session_s + median(resolves)

        jobs = JobCounter(spark) if ctx.trace else None
        failed = 0

        def query(name: str, tables: str = sf_dir) -> pd.DataFrame:
            with tr.span("op.query"):
                with tr.span(f"queries.{name}"):
                    pdf = REGISTRY[name].fn(spark, tables).toPandas()
                return canonical(pdf)

        rng = np.random.default_rng([ctx.seed, 30])
        # warm-up, untimed: every query once on the small tables
        for name in rng.permutation(QUERIES):
            query(str(name), warm_dir)
        first: dict[str, pd.DataFrame] = {}
        ctl.sample("ops")
        records: list[dict] = []
        passes: list[float] = []
        deadline = time.perf_counter() + ctx.seconds
        while not passes or time.perf_counter() + passes[-1] <= deadline:
            pass_s = 0.0
            for name in rng.permutation(QUERIES):
                name = str(name)
                op_id = len(records)
                tr.begin_op(op_id, ctx.trace)
                snap = jobs.snapshot() if jobs else None
                t0 = time.perf_counter()
                try:
                    got = query(name)
                except Exception as e:  # a failing query is a failed op, not a crash
                    got = None
                    print(f"pipeline-mix {name} failed: {e!r}", file=sys.stderr)
                dt = time.perf_counter() - t0
                if got is None:
                    ok = False
                elif passes:
                    ok = name in first and same(got, first[name])
                else:
                    first[name] = got
                    ok = same(got, canonical(oracle(sf_dir, name)))
                if not ok:
                    print(f"pipeline-mix {name}: wrong answer or failure", file=sys.stderr)
                tr.begin_op(None, False)
                rec = {"id": op_id, "q": name, "s": dt, "pass": len(passes)}
                if jobs:
                    rec["jobs"], rec["stages"] = jobs.since(snap)
                failed += not ok
                pass_s += dt
                records.append(rec)
                ctl.sample("ops")
            passes.append(pass_s)
    finally:
        stop_spark(spark)

    lat = [r["s"] for r in records]
    first_pass = [r for r in records if r["pass"] == 0]
    counts = {}
    if ctx.trace:
        counts = {f"op.{r['q']}.jobs": r["jobs"] for r in first_pass}
        counts.update({f"op.{r['q']}.stages": r["stages"] for r in first_pass})
    metrics = {
        **latency_metrics(lat, sum(lat), len(lat)),
        **ctl.metrics(),
        "setup_s": setup_s,
        "raw.setup_s": setup_s,
        "fixture.gen_s": gen_tables + gen_warm + gen_control,
    }
    if ctx.trace:
        metrics.update({
            "session.get_spark_s": session_s,
            "queries.resolve_tables_ms": ms(median(resolves)),
            "pipeline_pass_s": median(passes),
            **{f"op.{q}_s": median(tr.durations(f"queries.{q}")) for q in QUERIES},
            **counts,
            "trace.overhead_pct": trace_overhead_pct(tr, sum(lat)),
            **self_time_metrics(tr),
        })
    return Result(metrics=metrics, attempted=len(records), failed=failed, counts=counts,
                  notes=records, control=ctl.factors)
