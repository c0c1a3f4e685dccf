"""meta-lookup: the paper's own operation, with no Spark.

24 reference-shaped files (200 row groups x 400 float32 columns), each
with a PJS1 sidecar.  Files are picked with a Zipf skew; an op is either
``read_metadata`` for one row group x 1, 4 or 16 columns followed by
``ParquetReader.open(metadata=...)`` and a read, or a ``read_schema``.
24 files exceed ``footer_splice``'s 16-entry footer, span and blob
caches, so both cache hits and misses show."""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures
from perfbench.harness import (
    CONTROL_PERIOD_S, Context, Control, Result, latency_metrics, median, ms, pct,
    peak_rss_mb,
    self_time_metrics, trace_overhead_pct,
)

#: the traffic mix is an assumption, not a measurement of real callers:
#: Zipf exponent of file popularity, share of ``read_schema`` ops, and
#: column widths drawn uniformly.  Together they set the footer caches'
#: hit rate, reported as ``meta.repeat16_share``
ZIPF_S = 1.0
SCHEMA_SHARE = 0.15
NCOLS = (1, 4, 16)
PATTERN_SEED = 7177
#: share of lookups checked value-for-value against an unpruned read
CHECK_SHARE = 1 / 128
#: recency window of the repeat-share workload property (the size of the
#: program's footer caches)
RECENT = 16
SETUP_REPS = 7
WARMUP_OPS = 64

PER_LAYER = (
    "footer_splice.read_metadata_ms",
    "footer_splice.read_metadata_p99_ms",
    "footer_splice.read_schema_ms",
    "reader.open_read_ms",
    "footer_splice.generate_ms",
    "footer_splice.sidecar_bytes",
    "index_bytes_ratio",
    "meta.repeat16_share",
    "lookup_p99_ms",
)


class OpStream:
    """Seeded lookup requests: (file, kind, row group, column indices,
    checked).  The temporal pattern (the popularity rank each request
    hits, its kind and its width) comes from one fixed seed, so every run
    meets the same cache hit and miss sequence; the run's seed picks the
    file behind each rank, the row group and the columns."""

    def __init__(self, seed: int, shape: dict):
        self.pattern = np.random.default_rng(PATTERN_SEED)
        self.rng = np.random.default_rng([seed, 10])
        n = shape["files"]
        p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.rank_to_file = self.rng.permutation(n)
        self.shape = shape

    def take(self, n: int) -> list[tuple]:
        pat, rng, s = self.pattern, self.rng, self.shape
        files = self.rank_to_file[pat.choice(len(self.p), n, p=self.p)]
        kinds = pat.random(n) < SCHEMA_SHARE
        widths = pat.choice(NCOLS, n)
        rgs = rng.integers(0, s["row_groups"], n)
        checks = rng.random(n) < CHECK_SHARE
        out = []
        for i in range(n):
            cols = tuple(sorted(int(c) for c in rng.choice(s["columns"], int(widths[i]), replace=False)))
            kind = "schema" if kinds[i] else "metadata"
            out.append((int(files[i]), kind, int(rgs[i]), cols, bool(checks[i])))
        return out


def repeat_share(files: list[int], window: int = RECENT) -> float:
    """Share of requests whose file is among the ``window`` most recently
    used distinct files: the workload property a footer cache feeds on."""
    recent: list[int] = []
    hits = 0
    for f in files:
        if f in recent:
            hits += 1
            recent.remove(f)
        recent.append(f)
        if len(recent) > window:
            recent.pop(0)
    return hits / len(files) if files else 0.0


def _sidecar(d: str, i: int) -> str:
    return os.path.join(d, f"f{i:03d}.pjs1")


def run(ctx: Context) -> Result:
    from palletjack_spark import generate_metadata_index, read_metadata, read_schema

    tr = ctx.tracer
    shape = fixtures.META_SHAPES[ctx.size]
    base = ctx.dir("fixtures")
    data_dir, gen_data = fixtures.cached(
        base, "meta", {"shape": shape, "data_seed": fixtures.META_DATA_SEED},
        lambda d: fixtures.build_meta_files(d, shape),
    )
    files = [os.path.join(data_dir, fixtures.meta_file_name(i)) for i in range(shape["files"])]
    small_path, full_path, gen_control = fixtures.control_files(base)
    ctl = Control(small_path, full_path)

    # set-up: index a file (generate its sidecar).  It runs first, before
    # anything in this process has read a footer, on distinct files, so no
    # footer cache is warm; the median over reps is setup_s
    pick = np.random.default_rng([ctx.seed, 11]).permutation(len(files))[:SETUP_REPS]
    scratch = ctx.dir("meta-setup")
    gen_times = []
    ctl.sample("setup")
    for j in pick:
        t0 = time.perf_counter()
        generate_metadata_index(files[j], os.path.join(scratch, "setup.pjs1"))
        gen_times.append(time.perf_counter() - t0)
        ctl.sample("setup")
    raw_setup_s = median(gen_times)

    # sidecars for the lookup loop come from the program itself, keyed by
    # its source so a changed program rebuilds them
    side_dir, gen_side = fixtures.cached(
        base, "meta-sidecars",
        {"data": os.path.basename(data_dir),
         "program": fixtures.source_hash(os.path.join(ctx.root, "palletjack_spark"))},
        lambda d: [generate_metadata_index(f, _sidecar(d, i)) for i, f in enumerate(files)],
    )
    expected_names = [f"column_{c}" for c in range(shape["columns"])]
    stream = OpStream(ctx.seed, shape)

    def lookup(op) -> tuple[bool, object]:
        f, kind, rg, cols, _check = op
        with tr.span("op.lookup"):
            want = [expected_names[c] for c in cols]
            if kind == "schema":
                with tr.span("footer_splice.read_schema"):
                    schema = read_schema(_sidecar(side_dir, f), column_indices=cols)
                return schema.names == want, None
            with tr.span("footer_splice.read_metadata"):
                md = read_metadata(_sidecar(side_dir, f), row_groups=[rg], column_indices=cols)
            with tr.span("reader.open_read"):
                reader = pq.ParquetReader()
                reader.open(files[f], metadata=md)
                table = reader.read_all()
                reader.close()
            return table.num_rows == 1 and table.column_names == want, table

    # warm-up: one lookup per file fills the footer caches to capacity, so
    # memory has grown to its steady state however many ops the window
    # then holds; then a short stream warms the rest
    for f in range(len(files)):
        lookup((f, "metadata", 0, (0,), False))
    for op in OpStream(ctx.seed + 1_000_003, shape).take(WARMUP_OPS):
        lookup(op)

    latencies: list[float] = []
    done: list[tuple] = []
    samples: list[tuple] = []
    failed = 0
    deadline = time.perf_counter() + ctx.seconds
    next_control = 0.0
    batch: list[tuple] = []
    while time.perf_counter() < deadline:
        if time.perf_counter() >= next_control:
            ctl.sample("ops")
            next_control = time.perf_counter() + CONTROL_PERIOD_S
        if not batch:
            batch = stream.take(256)[::-1]
        op = batch.pop()
        tr.begin_op(len(done), ctx.trace)
        t0 = time.perf_counter()
        try:
            ok, table = lookup(op)
        except Exception as e:  # a failing call is a failed op, not a crash
            ok, table = False, None
            print(f"meta-lookup op failed: {e!r}", file=sys.stderr)
        dt = time.perf_counter() - t0
        tr.begin_op(None, False)
        latencies.append(dt)
        failed += not ok
        done.append(op)
        if op[4] and table is not None:
            samples.append((op, table))
    ctl.sample("ops")
    busy = sum(latencies)
    # before the value check, whose unpruned footer parses are the
    # benchmark's own memory and vary in number with the seed and the op
    # count; the control's full-footer parses add a constant ~30 MB
    rss_mb = peak_rss_mb()

    # value check of the seeded sample against an unpruned read
    # (one file open at a time: a parsed reference-shaped footer is large)
    for f in sorted({op[0] for op, _t in samples}):
        pf = pq.ParquetFile(files[f])
        for (_f, _kind, rg, cols, _c), table in (s for s in samples if s[0][0] == f):
            truth = pf.read_row_group(rg, columns=[expected_names[c] for c in cols])
            failed += not table.equals(truth)
        pf.close()

    side_bytes = sum(os.path.getsize(_sidecar(side_dir, i)) for i in range(len(files)))
    data_bytes = sum(os.path.getsize(f) for f in files)
    counts = {
        "footer_splice.sidecar_bytes": side_bytes,
        "meta.repeat16_share": repeat_share([op[0] for op in OpStream(ctx.seed, shape).take(2000)]),
        "meta.sampled_checks": sum(op[4] for op in OpStream(ctx.seed, shape).take(2000)),
    }
    metrics = {
        **latency_metrics(latencies, busy, len(latencies), ctl.speed("ops")),
        **ctl.metrics(),
        "setup_s": raw_setup_s / ctl.speed("setup"),
        "raw.setup_s": raw_setup_s,
        "peak_rss_mb": rss_mb,
        "fixture.gen_s": gen_data + gen_side + gen_control,
    }
    if ctx.trace:
        metrics.update({
            "footer_splice.read_metadata_ms": ms(median(tr.durations("footer_splice.read_metadata"))),
            "footer_splice.read_metadata_p99_ms": ms(pct(tr.durations("footer_splice.read_metadata"), 99)),
            "footer_splice.read_schema_ms": ms(median(tr.durations("footer_splice.read_schema"))),
            "reader.open_read_ms": ms(median(tr.durations("reader.open_read"))),
            "footer_splice.generate_ms": ms(raw_setup_s),
            "footer_splice.sidecar_bytes": side_bytes,
            "index_bytes_ratio": side_bytes / data_bytes,
            "meta.repeat16_share": repeat_share([op[0] for op in done]),
            "lookup_p99_ms": ms(pct(latencies, 99)),
            "trace.overhead_pct": trace_overhead_pct(tr, busy),
            **self_time_metrics(tr),
        })
    return Result(metrics=metrics, attempted=len(latencies), failed=failed, counts=counts,
                  control=ctl.factors)
