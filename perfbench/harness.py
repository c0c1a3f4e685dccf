"""Machinery shared by the workloads: the run context, the span tracer,
latency statistics, Spark session start/stop and job counting, memory and
the host-speed control."""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

#: layers that get a self-time metric; a span's layer is its name up to the
#: first dot.  ``op`` is the benchmark's own time inside an op (drawing the
#: request, checking the answer).
SELF_TIME_LAYERS = (
    "op", "footer_splice", "reader", "builder", "metadata_index", "smart",
    "scan", "queries",
)


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    size: str
    root: str
    work: str
    nproc: int
    tracer: "Tracer" = field(default=None)

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p


@dataclass
class Result:
    """What a workload hands back: every metric it produced, the op
    tallies, and the host-independent counts the self-test compares."""

    metrics: dict
    attempted: int
    failed: int
    counts: dict
    notes: list = field(default_factory=list)
    #: the host-speed control's factors per phase, in order
    control: dict = field(default_factory=dict)


class _NullSpan:
    __slots__ = ()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class _Span:
    __slots__ = ("tracer", "i")

    def __init__(self, tracer: "Tracer", i: int):
        self.tracer = tracer
        self.i = i

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.i)
        return False


class Tracer:
    """One span per call into the program: ``[name, start, end, parent,
    op]``, kept in memory and written out at the end.  When recording is
    off, ``span`` returns a shared no-op context."""

    def __init__(self):
        self.spans: list[list] = []
        self.active = False
        self._stack: list[int] = []
        self._op = None

    def begin_op(self, op_id, traced: bool) -> None:
        self._op = op_id
        self.active = traced

    def span(self, name: str):
        if not self.active:
            return _NULL
        i = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self._op])
        self._stack.append(i)
        return _Span(self, i)

    def _close(self, i: int) -> None:
        self.spans[i][2] = time.perf_counter()
        self._stack.pop()

    def durations(self, name: str, ops=None) -> list[float]:
        """Seconds spent in every span called ``name`` (of ``ops`` only,
        when given)."""
        return [
            e - s for n, s, e, _p, op in self.spans
            if n == name and (ops is None or op in ops)
        ]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer that no child span covers."""
        child = [0.0] * len(self.spans)
        for n, s, e, p, _op in self.spans:
            if p >= 0:
                child[p] += e - s
        out: dict[str, float] = {}
        for i, (n, s, e, _p, _op) in enumerate(self.spans):
            layer = n.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - child[i]
        return out

    def traced_ops(self) -> set:
        return {op for *_x, op in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": op}
                    for n, s, e, p, op in self.spans
                ],
                f,
            )


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for no samples (a layer the
    workload did not call)."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in values))


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def ms(seconds: float) -> float:
    return seconds * 1000.0


def latency_metrics(latencies_s: list[float], busy_s: float, n_ops: int,
                    speed: float = 1.0) -> dict:
    """Latency and throughput of a workload's ops.  The geometric mean is
    the end-to-end latency: the Spark workloads run a handful of
    heterogeneous ops per run, where a median or p90 is set by one or two
    of them, while every op weighs the same in the geometric mean.  It is
    divided by the host's ``speed`` factor when given (see ``Control``).
    The wall-clock figures are reported per layer."""
    raw = ms(geomean(latencies_s))
    return {
        "op_geomean_ms": raw / speed,
        "raw.op_geomean_ms": raw,
        "op_p50_ms": ms(median(latencies_s)),
        "op_p90_ms": ms(pct(latencies_s, 90)),
        "ops_per_s": n_ops / busy_s if busy_s > 0 else 0.0,
    }


def self_time_metrics(tracer: Tracer) -> dict:
    n = len(tracer.traced_ops()) or 1
    st = tracer.self_times()
    return {f"self.{layer}_ms": ms(st.get(layer, 0.0)) / n for layer in SELF_TIME_LAYERS}


def trace_overhead_pct(tracer: Tracer, traced_busy_s: float, n: int = 20_000) -> float:
    """What tracing adds to the traced ops' time, in percent: the spans
    recorded times the measured extra cost of a recorded span over a no-op
    one, over the traced ops' busy time.  A whole-run comparison of a
    traced and an untraced run would drown this in run-to-run noise."""
    def cost(active: bool) -> float:
        probe = Tracer()
        probe.begin_op(0, active)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    extra = max(0.0, cost(True) - cost(False))
    return 100.0 * len(tracer.spans) * extra / traced_busy_s if traced_busy_s > 0 else 0.0


#: the control's kernels, each run CONTROL_REPS times per sample (the
#: fastest counts), with each kernel's time in ms on the 4-core host the
#: benchmark was written on: a clock divided by the speed factor reads as
#: if the host had run at that speed
CONTROL_REFERENCE_MS = {"arrow": 1.85, "python": 1.95, "memory": 0.67}
CONTROL_REPS = 3
#: a loop of short ops samples the control at most this often
CONTROL_PERIOD_S = 0.1
#: the full-footer parse, which only records host speed, at most this often
FULL_FOOTER_PERIOD_S = 1.0


class Control:
    """Host-speed control.  The shared host's speed drifts by 10-30% within
    a minute and swings by up to 2x, so meta-lookup divides its clocks by
    the host's speed measured while they ran.  A sample runs three small
    kernels that run no code of the program: a pyarrow footer parse and
    one-row-group read of a small file (the pyarrow half of a lookup), an
    interpreter loop, and a 4 MB memory copy.  A sample's speed factor is
    the geometric mean of the kernels' times over their reference times;
    a phase's factor is the median over its samples, since single samples
    spike (up to 3x) where the median of a few seconds' samples tracks the
    host: on a 150 s lookup loop cut into 3 s windows, each kernel's window
    median correlated 0.82-0.88 with the lookups' window geometric mean.

    The Spark workloads sample it between their calls too, but report wall
    clocks: there a sample also meets the JVM's own background work (the
    factor read 1.1-1.5 right after a warm-up and swung between 0.7 and
    1.1 from one query to the next within a run).  Over two sets of ten
    runs, dividing by it spread their latencies as wide as the wall clocks
    or wider, and their set-up times wider.

    Besides, ``control.full_footer_ms`` times a pure-pyarrow parse of a
    full reference-shaped footer now and then, to record how fast the host
    was; it is not part of the factor."""

    def __init__(self, small_path: str, full_path: str):
        self.small_path = small_path
        self.full_path = full_path
        self._buf = np.ones(4_000_000, dtype=np.uint8)
        self.factors: dict[str, list[float]] = {"setup": [], "ops": []}
        self.full_s: list[float] = []
        self._next_full = 0.0
        # the first runs of a kernel pay one-time costs (imports, first
        # page faults); they would skew the first sample
        for kernel in (self._arrow, self._python, self._memory):
            kernel()
            kernel()

    def _arrow(self) -> None:
        md = pq.read_metadata(self.small_path)
        reader = pq.ParquetReader()
        reader.open(self.small_path, metadata=md)
        reader.read_all()
        reader.close()

    @staticmethod
    def _python() -> None:
        x = 0
        for i in range(30_000):
            x += i * i % 7

    def _memory(self) -> None:
        self._buf.copy()

    def sample(self, phase: str) -> None:
        """Measure the host's speed now."""
        log_sum = 0.0
        for name, kernel in (("arrow", self._arrow), ("python", self._python),
                             ("memory", self._memory)):
            best = math.inf
            for _ in range(CONTROL_REPS):
                t0 = time.perf_counter()
                kernel()
                best = min(best, time.perf_counter() - t0)
            log_sum += math.log(ms(best) / CONTROL_REFERENCE_MS[name])
        self.factors[phase].append(math.exp(log_sum / len(CONTROL_REFERENCE_MS)))
        if time.perf_counter() >= self._next_full:
            t0 = time.perf_counter()
            pq.read_metadata(self.full_path)
            self.full_s.append(time.perf_counter() - t0)
            self._next_full = time.perf_counter() + FULL_FOOTER_PERIOD_S

    def speed(self, phase: str) -> float:
        """A phase's speed factor: 1 on the reference host, 1.2 on a host
        20% slower."""
        return median(self.factors[phase])

    def metrics(self) -> dict:
        return {
            "host.speed": self.speed("ops"),
            "control.full_footer_ms": ms(median(self.full_s)),
        }


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the largest child that
    has been waited for (the Spark JVM, once stopped)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) / 1024.0


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------

def start_spark(ctx: Context):
    """``get_spark`` at ``local[nproc]`` with every scratch path inside the
    checkout.  Returns (session, seconds)."""
    from palletjack_spark import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.dir('tmp')}",
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{ctx.workload}", cpus=ctx.nproc, extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobCounter:
    """Spark jobs and stages started between two snapshots, read from the
    DAG scheduler's id counters.  With one client in a closed loop nothing
    else submits jobs, so the difference is the op's own work, including
    the micro-batch jobs a streaming query runs under its own job group
    (which a per-op job group would miss)."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def snapshot(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def since(self, snap: tuple[int, int]) -> tuple[int, int]:
        j, s = self.snapshot()
        return j - snap[0], s - snap[1]
