"""Spans around the calls into each layer of the package, tagged into Spark.

A span opens a Spark job group named after itself, so every job started
while it is the innermost open span carries its id in the event log. Spans
stay in memory; ``layer_metrics`` joins them with the parsed event log when
the run ends.

Spark plans are lazy: a layer that only builds a DataFrame runs no job, and
the scan and transforms it planned are billed to the span whose action (a
write, count or collect) ran them.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

from eventlog import EventLog, union_ms

LAYERS = (
    "sources.readers",
    "sources.sinks",
    "operators.quality",
    "plans.dims",
    "plans.volatility",
    "plans.report",
    "plans.pipeline",
    "harness",
    "operators.dedup",
)

LAYER_FIELDS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_run_s", "s"),
    ("task_cpu_s", "s"),
    ("task_wait_s", "s"),
    ("gc_s", "s"),
    ("input_bytes", "B"),
    ("output_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)

EXTRA_METRICS = (
    ("session.start_s", "s"),
    ("sources.readers.rows_scanned_per_row_kept", "ratio"),
    ("sources.sinks.files_written", "count"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.pairs_per_candidate", "ratio"),
    ("trace.overhead_ratio", "ratio"),
)

# package function -> layer, for the names the pipeline module calls
PIPELINE_CALLS = {
    "read_ohlcv_csv": "sources.readers",
    "overwrite_parquet": "sources.sinks",
    "overwrite_partitions": "sources.sinks",
    "append_if_absent": "sources.sinks",
    "quality_summary": "operators.quality",
    "expect_passed": "operators.quality",
    "build_dim_instrumento": "plans.dims",
    "build_dim_tempo": "plans.dims",
    "build_fact": "plans.volatility",
    "_incremental_fact": "plans.volatility",
    "weekly_volatility": "plans.volatility",
    "top_avg_volatility": "plans.volatility",
}

SINK_CALLS = ("overwrite_parquet", "overwrite_partitions", "append_if_absent")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = 0

    def _tag(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], f"{span['layer']}/{span['call']}")

    @contextlib.contextmanager
    def span(self, layer: str, call: str, target: str | None = None):
        sid = len(self.spans) + 1
        rec = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "layer": layer,
            "call": call,
            "target": target,
            "group": f"perfbench.{sid}",
            "start": time.time(),
            "end": None,
            "error": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            target = None
            if name in SINK_CALLS:
                path = kwargs.get("path") or next(
                    (a for a in args if isinstance(a, str)), None
                )
                target = os.path.basename(str(path).rstrip("/")) if path else None
            with self.span(layer, name, target):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer):
    """Wrap the package calls the benchmark's layers are made of; return a
    function that restores the originals."""
    from airflow_etl_finance_market_spark.plans import pipeline, report

    saved = []

    def patch(module, name, layer):
        original = getattr(module, name)
        saved.append((module, name, original))
        setattr(module, name, tracer.wrap(layer, name, original))

    for name, layer in PIPELINE_CALLS.items():
        patch(pipeline, name, layer)
    patch(report, "write_report", "plans.report")

    def restore():
        for module, name, original in reversed(saved):
            setattr(module, name, original)

    return restore


def layer_metrics(spans: list[dict], log: EventLog, n_ops: int) -> dict[str, float]:
    """Per-layer totals over the traced operations, divided by ``n_ops``.

    ``wall_s`` is each span's self time (its duration minus its child
    spans); ``driver_s`` is that self time minus the union of the Spark job
    intervals tagged with the span.
    """
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        wall = driver = 0.0
        for s in mine:
            self_s = max(0.0, s["end"] - s["start"] - children.get(s["id"], 0.0))
            jobs = log.jobs_in({s["group"]})
            busy = union_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms]) / 1000
            wall += self_s
            driver += max(0.0, self_s - busy)
        groups = {s["group"] for s in mine}
        jobs = log.jobs_in(groups)
        t = log.task_totals(groups)
        values = {
            "wall_s": wall,
            "driver_s": driver,
            "jobs": len(jobs),
            "tasks": t.tasks,
            "task_run_s": t.run_ms / 1000,
            "task_cpu_s": t.cpu_ns / 1e9,
            "task_wait_s": t.wait_ms / 1000,
            "gc_s": t.gc_ms / 1000,
            "input_bytes": t.input_bytes,
            "output_bytes": t.output_bytes,
            "shuffle_write_bytes": t.shuffle_write_bytes,
            "spill_bytes": t.spill_bytes,
        }
        for k, v in values.items():
            out[f"{layer}.{k}"] = v / max(1, n_ops)
    sink_jobs = log.jobs_in({s["group"] for s in spans if s["layer"] == "sources.sinks"})
    out["sources.sinks.files_written"] = (
        log.driver_metric(sink_jobs, "number of written files") / max(1, n_ops)
    )
    return out


def scanned_rows(spans: list[dict], log: EventLog, target: str) -> int:
    """Input records read by the jobs of the sink calls writing ``target``."""
    groups = {s["group"] for s in spans if s["layer"] == "sources.sinks" and s["target"] == target}
    return log.task_totals(groups).input_records
