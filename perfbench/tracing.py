"""Layer spans recorded around the engine's public functions, from
outside the package.

Entering a ``Tracer`` replaces each function named in ``LAYERS`` with a
wrapper, in the module namespace its callers look it up in, for the
duration of a ``with`` block. The wrapper:

1. opens a span (name, start, end, parent, flow, run id) and runs the
   real call under its own Spark job group -- this is the call time,
   planning plus any eager jobs;
2. forces the returned DataFrame into the ``noop`` sink under a second
   job group -- the forced time, which recomputes the call's inputs;
3. records the span's input spans: the DataFrame-returning spans under
   the same parent whose outputs were not consumed yet, taken when the
   call receives a DataFrame, plus its own unconsumed children.

A span's self time is its forced time minus the forced time of its
inputs (``self_times``). When every output is consumed exactly once
the self times of a registry flow add up to the flow's forced time;
the trace reports both sums, so work shared by two consumers shows as
a gap. A CLI flow returns no DataFrame: its forced time is its wall
time less the tracer's own work in its layers (``trace_s``), it has no
inputs, and the gap to its layers' self times is the time no layer
accounts for (planning, the output write, driver-side Python).
"""

from __future__ import annotations

import importlib
import time
from dataclasses import dataclass, field

from perfbench import sparkstats, workloads

P = "gnip_trend_detection_spark."

# (module, attribute, layer). A function is wrapped in every module
# that binds it under that name at call time.
LAYERS = (
    ("queries", "load_table", "sources"),
    ("queries", "counts_from_events", "sources"),
    ("sources.csv", "load_counts_csv", "sources"),
    ("sources.jsonl", "load_documents_jsonl", "sources"),
    ("queries", "rebin", "rebin"),
    ("pipeline", "rebin", "rebin"),
    ("queries", "poisson_lc", "models.poisson_lc"),
    ("pipeline", "poisson_lc", "models.poisson_lc"),
    ("queries", "detect_threshold", "detect"),
    ("extras.dedup", "minhash_signatures", "extras.minhash_signatures"),
    ("extras.dedup", "lsh_candidate_pairs", "extras.lsh_candidate_pairs"),
    ("extras.dedup", "duplicate_clusters", "extras.duplicate_clusters"),
)
# layers whose output rows are counted (one extra job, not timed)
COUNT_ROWS = ("sources", "rebin", "detect")


@dataclass
class Span:
    id: int
    name: str
    flow: str
    parent: int | None
    start: float
    end: float = 0.0
    call_s: float = 0.0
    forced_s: float = 0.0
    # the tracer's own time in this span, outside the wrapped call
    trace_s: float = 0.0
    inputs: list[int] = field(default_factory=list)
    call: dict = field(default_factory=dict)
    force: dict = field(default_factory=dict)
    exchanges: int = 0
    rows: int | None = None
    pairs: tuple[int, int] | None = None
    returns_df: bool = False


def self_times(spans) -> dict[int, float]:
    """Span id -> forced time minus the forced time of its inputs."""
    forced = {s.id: s.forced_s for s in spans}
    return {s.id: s.forced_s - sum(forced[i] for i in s.inputs) for s in spans}


def self_counter(span: Span, by_id: dict[int, Span], key: str) -> float:
    """A Spark counter of the span's call and forced action, minus the
    same counter of its inputs' forced actions."""
    own = span.call.get(key, 0) + span.force.get(key, 0)
    return own - sum(by_id[i].force.get(key, 0) for i in span.inputs)


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark, run_id: str, tag: str):
        self.spark = spark
        self.run_id = run_id
        self._prefix = f"trace/{run_id}/{tag}"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: dict[int | None, list[int]] = {}
        self._patched: list[tuple[object, str, object]] = []

    # -- job groups -----------------------------------------------------
    def _group(self, span: Span, phase: str) -> str:
        g = f"{self._prefix}/{span.id}/{phase}"
        self.spark.sparkContext.setJobGroup(g, f"{span.flow}:{span.name}:{phase}")
        return g

    def _restore_group(self) -> None:
        sc = self.spark.sparkContext
        if self._stack:
            sc.setJobGroup(f"{self._prefix}/{self._stack[-1].id}/call",
                           self._stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- spans ----------------------------------------------------------
    def _open(self, name: str, flow: str, takes_df: bool) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, flow, parent, time.time())
        if takes_df:
            span.inputs = self._pending.pop(parent, [])
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self, span: Span, out) -> None:
        self._stack.pop()
        span.inputs += self._pending.pop(span.id, [])
        g_call = f"{self._prefix}/{span.id}/call"
        span.call = sparkstats.group_stats(self.spark, [g_call])
        if _is_df(out):
            g_force = self._group(span, "force")
            t = time.time()
            _force(out)
            span.forced_s = time.time() - t
            span.force = sparkstats.group_stats(self.spark, [g_force])
            span.exchanges = sparkstats.exchanges(out)
            span.returns_df = True
            self._group(span, "count")
            layer = span.name.split(".")[0]
            if layer in COUNT_ROWS:
                span.rows = out.count()
            if span.name == "extras.lsh_candidate_pairs":
                from pyspark.sql import functions as F

                r = out.agg(F.count("*"), F.sum((F.col("jaccard") >= workloads.DEDUP_THRESHOLD).cast("long"))).first()
                span.pairs = (int(r[1] or 0), int(r[0]))
            self._pending.setdefault(span.parent, []).append(span.id)
        span.end = time.time()
        self._restore_group()

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kw):
            flow = tracer._stack[0].flow if tracer._stack else "-"
            takes_df = any(_is_df(a) for a in (*args, *kw.values()))
            span = tracer._open(name, flow, takes_df)
            tracer._group(span, "call")
            t = time.time()
            try:
                out = fn(*args, **kw)
            except BaseException:
                tracer._stack.pop()
                tracer._restore_group()
                raise
            t_out = time.time()
            span.call_s = t_out - t
            tracer._close(span, out)
            span.trace_s = (t - span.start) + (span.end - t_out)
            return out

        traced.__wrapped__ = fn
        return traced

    def flow(self, flow: str, layer: str, run):
        """Trace one flow: ``run()`` returns a DataFrame (forced here) or
        None for a CLI flow, whose forced time is its wall time less the
        tracer's own work in the layers it called."""
        span = self._open(layer, flow, takes_df=False)
        self._group(span, "call")
        t = time.time()
        try:
            out = run()
        except BaseException:
            self._stack.clear()
            self._pending.clear()
            self._restore_group()
            raise
        span.call_s = time.time() - t
        if out is None:
            # the layers' outputs are consumed inside the CLI, not inputs
            self._pending.pop(span.id, None)
            span.forced_s = span.call_s - sum(s.trace_s for s in self.spans[span.id + 1:])
        self._close(span, out)
        self._pending.pop(None, None)
        return span

    # -- installation ---------------------------------------------------
    def __enter__(self):
        for mod_name, attr, layer in LAYERS:
            mod = importlib.import_module(P + mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(orig, layer))
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False
