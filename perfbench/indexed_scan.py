"""indexed-scan: the index and scan layers, for reads and writes.

Two seeded tables.  A 32-file x 32-row-group table takes the driver-local
index path; its sorted key ``k`` prunes on min/max, while ``il``
interleaves across row groups so min/max keep every row group and only
dictionaries (and page bounds after them) prune.  A 1024-file catalog
with a persisted, bucketed sidecar takes the executor-side path.

Reads are ``smart_read(..., explain=True)`` calls from a point lookup to
a range over ~60% of the table, which ``smart_read`` sends to a plain
native scan; each answer is checked by count and checksum against
pyarrow truth.  One op in seven appends a file to the catalog, refreshes
the sidecar incrementally and must find the new file (read-your-write),
so a gain on reads that costs refreshes shows up.

Ops run in cycles of ``CYCLE``, in a fixed order so that the first-run
costs of each class (plan compilation in a fresh session) fall on the same
op whatever the seed; the seed draws the predicates' literals.  There is
no separate warm-up: a run's first cycle pays those costs, as a fresh
session does.  Every run completes at least one cycle.  Set-up (session, local build, catalog build, sidecar load)
runs once: the session starts once per process, and the first catalog
build pays the Python workers' start, as a user's first build does."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures
from perfbench.harness import (
    Context, Control, JobCounter, Result, latency_metrics,
    median, ms, pct, self_time_metrics, start_spark, stop_spark, trace_overhead_pct,
)

CYCLE = (
    "key_point", "il_point", "key_narrow", "key_wide", "cat_point",
    "cat_narrow", "append",
)
#: read class -> (table, predicate class)
READS = {
    "key_point": ("local", "point"),
    "il_point": ("local", "point"),
    "key_narrow": ("local", "narrow"),
    "key_wide": ("local", "wide"),
    "cat_point": ("catalog", "point"),
    "cat_narrow": ("catalog", "narrow"),
}
GROUPS = ("local", "catalog", "point", "narrow", "wide")
TIERS = ("stats", "dictionary", "bloom", "page")
NARROW_SHARE = 0.02
CATALOG_NARROW_SHARE = 0.005
WIDE_SHARE = 0.6
CATALOG_BUCKETS = 16
#: ids of appended catalog files start here, above every generated id
APPEND_BASE = 10**9

PER_LAYER = (
    "session.get_spark_s", "builder.build_ms", "builder.local_build_ms",
    "builder.load_ms", "builder.sidecar_bytes", "index_bytes_ratio",
    "scan_p50_ms", "scan_p90_ms",
    "smart.plan_ms", "scan.exec_ms", "smart.route_indexed_share",
    "scan.rg_kept_ratio", "scan.rg_kept", "scan.rg_total",
    *(f"scan.tier_kept.{t}" for t in TIERS),
    "spark.jobs_per_scan", "spark.stages_per_scan",
    *(f"{m}.{g}" for g in GROUPS for m in (
        "smart.plan_ms", "scan.exec_ms", "scan.rg_kept_ratio", "smart.route_indexed_share")),
    "builder.refresh_ms", "metadata_index.point_select_ms", "refresh_p50_ms",
    "spark.jobs_per_refresh", "spark.stages_per_refresh",
)


class Truth:
    """Ground truth from pyarrow over the generated files, appended
    catalog files included."""

    def __init__(self, local_dir: str, catalog_dir: str):
        t = pq.read_table(local_dir, columns=["k", "il"])
        self.k = t["k"].to_numpy()
        self.il = t["il"].to_numpy()
        self.ids = pq.read_table(catalog_dir, columns=["id"])["id"].to_numpy()

    def answer(self, table: str, pred) -> tuple:
        col, op, *vals = pred[0]
        data = {"k": self.k, "il": self.il, "id": self.ids}[col]
        mask = data == vals[0] if op == "=" else (data >= vals[0]) & (data <= vals[1])
        if table == "local":
            return int(mask.sum()), int(self.k[mask].sum()), int(self.il[mask].sum())
        return int(mask.sum()), int(self.ids[mask].sum())


def draw_predicate(cls: str, rng, truth: Truth) -> list[tuple]:
    nk = len(truth.k)
    if cls == "key_point":
        return [("k", "=", int(rng.integers(0, nk)))]
    if cls == "il_point":
        return [("il", "=", int(truth.il[int(rng.integers(0, nk))]))]
    if cls in ("key_narrow", "key_wide"):
        w = max(1, int(nk * (NARROW_SHARE if cls == "key_narrow" else WIDE_SHARE)))
        a = int(rng.integers(0, nk - w + 1))
        return [("k", "between", a, a + w - 1)]
    ids = truth.ids
    if cls == "cat_point":
        return [("id", "=", int(ids[int(rng.integers(0, len(ids)))]))]
    w = max(2, int(len(ids) * CATALOG_NARROW_SHARE))
    lo = int(ids[int(rng.integers(0, len(ids) - w + 1))])
    return [("id", "between", lo, lo + w - 1)]


def run(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from palletjack_spark import build_index, load_index
    from palletjack_spark.index import smart_read

    tr = ctx.tracer
    shape = fixtures.SCAN_SHAPES[ctx.size]
    base = ctx.dir("fixtures")
    key = {"seed": ctx.seed, "shape": shape}
    local_dir, gen_local = fixtures.cached(
        base, "scan-local", key, lambda d: fixtures.build_local_table(d, shape, ctx.seed))
    catalog_dir, gen_cat = fixtures.cached(
        base, "scan-catalog", key, lambda d: fixtures.build_catalog(d, shape, ctx.seed))
    small_path, full_path, gen_control = fixtures.control_files(base)
    # every run starts from the generated state: drop earlier appends
    for p in glob.glob(os.path.join(catalog_dir, "part-append-*.parquet")):
        os.remove(p)
    truth = Truth(local_dir, catalog_dir)
    side = os.path.join(ctx.work, "scan-sidecar")
    ctl = Control(small_path, full_path)

    spark, session_s = start_spark(ctx)
    try:
        t0 = time.perf_counter()
        lidx = build_index(spark, local_dir, use_cache=False)
        local_s = time.perf_counter() - t0
        shutil.rmtree(side, ignore_errors=True)
        t0 = time.perf_counter()
        build_index(spark, catalog_dir, index_dir=side, use_cache=False,
                    catalog_buckets=CATALOG_BUCKETS)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        cidx = load_index(spark, side)
        load_s = time.perf_counter() - t0
        # a wall clock: see Control
        setup_s = session_s + local_s + build_s + load_s
        side_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(side, "**", "*"), recursive=True)
            if os.path.isfile(p))
        data_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(catalog_dir, "*.parquet")))

        jobs = JobCounter(spark) if ctx.trace else None
        n_appended = 0

        def read_op(cls: str, pred) -> tuple[bool, dict]:
            table = READS[cls][0]
            idx, paths = (lidx, local_dir) if table == "local" else (cidx, catalog_dir)
            cols = ["k", "il"] if table == "local" else ["id", "v"]
            with tr.span("op.read"):
                with tr.span("smart.read"):
                    df, decision = smart_read(spark, paths, columns=cols, predicate=pred,
                                              index=idx, explain=True)
                aggs = [F.count("*")] + [F.sum(c) for c in (("k", "il") if table == "local" else ("id",))]
                with tr.span("scan.exec"):
                    row = df.agg(*aggs).first()
                got = tuple(int(v or 0) for v in row)
                return got == truth.answer(table, pred), decision

        def append_op(rng) -> bool:
            nonlocal cidx, n_appended
            r = shape["catalog_rows"]
            ids = np.arange(APPEND_BASE + n_appended * r, APPEND_BASE + (n_appended + 1) * r)
            path = os.path.join(catalog_dir, f"part-append-{n_appended:04d}.parquet")
            n_appended += 1
            with tr.span("op.append"):
                pq.write_table(fixtures.catalog_table(ids, rng), path)
                with tr.span("builder.refresh"):
                    cidx = build_index(spark, catalog_dir, index_dir=side, incremental=True,
                                       use_cache=False)
                with tr.span("metadata_index.point_select"):
                    found = cidx.prune(files=[path]).count()
            truth.ids = np.concatenate([truth.ids, ids])
            return found == 1

        rng = np.random.default_rng([ctx.seed, 20])
        records: list[dict] = []
        failed = 0
        deadline = time.perf_counter() + ctx.seconds
        cycle = 0
        cycle_s = 0.0
        ctl.sample("ops")
        # whole cycles that fit in the window, at least one
        while cycle == 0 or time.perf_counter() + cycle_s <= deadline:
            c0 = time.perf_counter()
            for cls in CYCLE:
                op_id = len(records)
                tr.begin_op(op_id, ctx.trace)
                snap = jobs.snapshot() if jobs else None
                rec = {"id": op_id, "cls": cls, "cycle": cycle}
                t0 = time.perf_counter()
                try:
                    if cls == "append":
                        ok = append_op(rng)
                    else:
                        ok, rec["decision"] = read_op(cls, draw_predicate(cls, rng, truth))
                except Exception as e:  # a failing call is a failed op, not a crash
                    ok = False
                    print(f"indexed-scan {cls} failed: {e!r}", file=sys.stderr)
                rec["s"] = time.perf_counter() - t0
                tr.begin_op(None, False)
                if jobs:
                    rec["jobs"], rec["stages"] = jobs.since(snap)
                failed += not ok
                records.append(rec)
                ctl.sample("ops")
            cycle += 1
            cycle_s = time.perf_counter() - c0
    finally:
        for p in glob.glob(os.path.join(catalog_dir, "part-append-*.parquet")):
            os.remove(p)
        stop_spark(spark)

    reads = [r for r in records if r["cls"] != "append" and "decision" in r]
    appends = [r for r in records if r["cls"] == "append"]
    first = [r for r in records if r["cycle"] == 0]
    first_reads = [r for r in first if r["cls"] != "append" and "decision" in r]
    first_appends = [r for r in first if r["cls"] == "append"]
    busy = sum(r["s"] for r in records)

    def kept_ratio(rs) -> float:
        total = sum(r["decision"]["total"] or 0 for r in rs)
        return sum(r["decision"]["kept"] or 0 for r in rs) / total if total else 0.0

    def indexed_share(rs) -> float:
        return sum(r["decision"]["route"] == "indexed" for r in rs) / len(rs) if rs else 0.0

    counts = {
        "builder.sidecar_bytes": side_bytes,
        "scan.rg_kept": sum(r["decision"]["kept"] or 0 for r in first_reads),
        "scan.rg_total": sum(r["decision"]["total"] or 0 for r in first_reads),
        **{f"scan.tier_kept.{t}": sum(r["decision"]["tier_kept"].get(t, 0) for r in first_reads)
           for t in TIERS},
        "routes": [r["decision"]["route"] for r in first_reads],
    }
    if ctx.trace:
        counts.update({
            "spark.jobs": [r["jobs"] for r in first],
            "spark.stages": [r["stages"] for r in first],
        })
    # reads and appends alike, so a gain on reads that costs refreshes shows
    metrics = {
        **latency_metrics([r["s"] for r in records], busy, len(records)),
        **ctl.metrics(),
        "setup_s": setup_s,
        "raw.setup_s": setup_s,
        "fixture.gen_s": gen_local + gen_cat + gen_control,
    }
    if ctx.trace:
        def span_ms(name, rs=None):
            return ms(median(tr.durations(name, None if rs is None else {r["id"] for r in rs})))

        def per_op(key, rs):
            return sum(r[key] for r in rs) / len(rs) if rs else 0.0

        metrics.update({
            "session.get_spark_s": session_s,
            "builder.build_ms": ms(build_s),
            "builder.local_build_ms": ms(local_s),
            "builder.load_ms": ms(load_s),
            "builder.sidecar_bytes": side_bytes,
            "index_bytes_ratio": side_bytes / data_bytes,
            "smart.plan_ms": span_ms("smart.read"),
            "scan.exec_ms": span_ms("scan.exec"),
            "smart.route_indexed_share": indexed_share(reads),
            "scan.rg_kept_ratio": kept_ratio(reads),
            "scan.rg_kept": counts["scan.rg_kept"],
            "scan.rg_total": counts["scan.rg_total"],
            **{f"scan.tier_kept.{t}": counts[f"scan.tier_kept.{t}"] for t in TIERS},
            "spark.jobs_per_scan": per_op("jobs", first_reads),
            "spark.stages_per_scan": per_op("stages", first_reads),
            "scan_p50_ms": ms(median([r["s"] for r in reads])),
            "scan_p90_ms": ms(pct([r["s"] for r in reads], 90)),
            "builder.refresh_ms": span_ms("builder.refresh"),
            "metadata_index.point_select_ms": span_ms("metadata_index.point_select"),
            "refresh_p50_ms": ms(median([r["s"] for r in appends])),
            "spark.jobs_per_refresh": per_op("jobs", first_appends),
            "spark.stages_per_refresh": per_op("stages", first_appends),
            "trace.overhead_pct": trace_overhead_pct(tr, busy),
            **self_time_metrics(tr),
        })
        for g in GROUPS:
            rs = [r for r in reads if g in READS[r["cls"]]]
            metrics.update({
                f"smart.plan_ms.{g}": span_ms("smart.read", rs),
                f"scan.exec_ms.{g}": span_ms("scan.exec", rs),
                f"scan.rg_kept_ratio.{g}": kept_ratio(rs),
                f"smart.route_indexed_share.{g}": indexed_share(rs),
            })
    notes = [{k: v for k, v in r.items() if k != "id"} for r in records]
    return Result(metrics=metrics, attempted=len(records), failed=failed, counts=counts,
                  notes=notes, control=ctl.factors)
