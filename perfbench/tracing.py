"""Traced runs: spans around each layer's public functions.

``Tracer.patched`` replaces, for the duration of a ``with`` block, each
public function of the layer table below with a wrapper that opens a
span, tags the Spark jobs it submits with ``setJobGroup(<layer>)``,
and materializes a returned DataFrame once (cache + count) so the
layer's own jobs run inside its span instead of in a later consumer.
The product code then runs unchanged, in the CLI's own order, from the
benchmark's call into ``__main__.run`` or a registry entry. Nothing in
the package is edited; the attributes are restored on exit.

Spans are kept in memory and written out with the run's result.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time

PKG = "mgl870_tp02_project_01_hadoopmapreducelogs_spark"

#: layer -> (module, public functions). The layers are the package
#: modules; ``functions.preprocess`` is the parse/mask projection that
#: ``sources.logs.parse_lines`` builds from it.
LAYER_FUNCS: dict[str, tuple[str, list[str]]] = {
    "sources.logs": ("sources.logs", ["read_log_dir"]),
    "functions.preprocess": ("sources.logs", ["parse_lines"]),
    "operators.mining": ("operators.mining", ["mine_exact", "match_lines"]),
    "operators.drain": ("operators.drain", ["fit_distributed", "match_distributed"]),
    "operators.matrix": ("operators.matrix", ["pipeline", "occurrences_long", "event_counts",
                                              "failure_events", "summary_matrix"]),
    "sources.sinks": ("sources.sinks", ["write_csv", "write_catalog", "read_catalog",
                                        "accumulate_catalog"]),
    "streaming.mining_stream": ("streaming.mining_stream", ["read_log_stream", "parse_stream",
                                                            "mine_templates_stream",
                                                            "write_catalog_stream"]),
}
LAYERS = ["session", *LAYER_FUNCS, "queries.textops"]
#: the span that encloses everything the benchmark does itself
ROOT = "bench"


class Tracer:
    """Span recorder for one traced run (one ``run_id``)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.extras: dict[str, float] = {}
        self._stack: list[int] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        rec = {"id": len(self.spans), "name": f"{layer}.{name}", "layer": layer,
               "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(layer, rec["name"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            if parent is not None:
                self._set_group(parent["layer"], parent["name"])

    def _set_group(self, layer: str, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(layer, name)

    def first(self, key: str, value: float) -> None:
        """Keep the first value seen for an extra metric."""
        self.extras.setdefault(key, float(value))

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if name == "fit_distributed":
                _fit_input_rows(self, args[0])
            with self.span(layer, name):
                return materialize(self, name, fn(*args, **kwargs))

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Swap every function of ``LAYER_FUNCS`` for its traced wrapper."""
        saved = []
        try:
            for layer, (mod_name, names) in LAYER_FUNCS.items():
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for name in names:
                    fn = getattr(mod, name)
                    saved.append((mod, name, fn))
                    setattr(mod, name, self.wrap(layer, name, fn))
            yield self
        finally:
            for mod, name, fn in reversed(saved):
                setattr(mod, name, fn)


def _fit_input_rows(tracer: Tracer, parsed) -> None:
    """Distinct non-null masked messages the Drain fit consumes, counted
    before its span opens so the job is charged to no layer."""
    from pyspark.sql import functions as F

    tracer.first("operators.drain.fit_input_rows",
                 parsed.filter(F.col("masked").isNotNull()).select("masked").distinct().count())


def materialize(tracer: Tracer, name: str, result):
    """Run a returned batch DataFrame (or each one in a tuple) once,
    cached, inside the caller's span; record the extra row counts the
    layer table names. Streaming queries are awaited instead."""
    from pyspark.sql import DataFrame, Observation
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQuery

    if isinstance(result, tuple):
        return tuple(materialize(tracer, name, r) for r in result)
    if isinstance(result, StreamingQuery):
        result.awaitTermination()
        return result
    if not isinstance(result, DataFrame) or result.isStreaming:
        return result
    observed = {
        "parse_lines": ("functions.preprocess.null_ts_rows", F.col("ts").isNull()),
        "match_lines": ("operators.mining.unmatched_rows", F.col("cluster_id").isNull()),
    }.get(name)
    obs = None
    if observed is not None:
        obs = Observation(f"{name}_{len(tracer.spans)}")
        result = result.observe(obs, F.sum(F.when(observed[1], 1).otherwise(0)).alias("n"))
    result = result.cache()
    n = result.count()
    if obs is not None:
        tracer.first(observed[0], obs.get["n"] or 0)
    key = {"read_log_dir": "sources.logs.rows_out", "mine_exact": "operators.mining.templates",
           "fit_distributed": "operators.drain.templates"}.get(name)
    if key:
        tracer.first(key, n)
    return result


class StreamProgress:
    """A ``StreamingQueryListener`` that keeps, per micro-batch with
    input, its duration, input rows, state rows and state commit time."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[dict] = []
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows <= 0:
                    return
                ops = p.stateOperators or []
                with outer._cv:
                    outer.batches.append({
                        "id": str(p.id), "batch": p.batchId, "input_rows": p.numInputRows,
                        "duration_ms": p.durationMs.get("triggerExecution", 0),
                        "state_rows": sum(o.numRowsTotal for o in ops),
                        "commit_ms": sum(o.commitTimeMs for o in ops),
                    })
                    outer._cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def wait_batches(self, n: int, timeout: float = 30.0) -> bool:
        """Wait until ``n`` batches with input have reported progress
        (listener events arrive asynchronously, after the query ends)."""
        with self._cv:
            return self._cv.wait_for(lambda: len(self.batches) >= n, timeout)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
