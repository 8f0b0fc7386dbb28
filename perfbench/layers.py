"""Spans around the engine's layer entry points, and the per-layer metrics
computed from them.

The spans are added from outside the engine: :func:`instrumented` wraps
each layer's public function for the duration of a traced pass and puts
the original back afterwards. No engine module is edited.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import ExitStack, contextmanager

from spans import Span, Tracer, descendants, inclusive, union_length
from workloads import CORPUS_GRAPH, STAGES


def _patch(stack: ExitStack, owner, attr: str, make_wrapper) -> None:
    original = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(original)(make_wrapper(original)))
    stack.callback(setattr, owner, attr, original)


@contextmanager
def instrumented(tracer: Tracer):
    """Wrap each layer's public entry point in a span:

    - ``plans.pipeline.Stage.run``: ``stage.<name>``, one per stage;
    - ``operators.cleaning.is_empty``, as ``plans.pipeline`` calls it:
      ``cleaning.is_empty``;
    - ``operators.dq.DQSuite.run``: ``dq.run``, recording the violations;
    - ``sources.json_source.scan_json_pages``: ``json_source.scan_json_pages``;
    - ``sources.parquet_source.write_partitioned``: ``parquet_source.write``,
      recording the files and partitions it wrote.

    ``plans.gastos.build_pipeline`` binds ``write_partitioned`` when it is
    called, so pipelines must be built inside this context.
    """
    from etl_pipeline_api_spark.operators import dq
    from etl_pipeline_api_spark.plans import pipeline
    from etl_pipeline_api_spark.sources import json_source, parquet_source

    def stage_run(original):
        def run(self, spark):
            with tracer.span(f"stage.{self.name}"):
                return original(self, spark)
        return run

    def spanned(name):
        def make(original):
            def call(*args, **kwargs):
                with tracer.span(name):
                    return original(*args, **kwargs)
            return call
        return make

    def dq_run(original):
        def run(self, df):
            with tracer.span("dq.run") as s:
                out = original(self, df)
                s.attrs["violations"] = sum(out.values())
                return out
        return run

    def write(original):
        def call(df, path, *args, **kwargs):
            with tracer.span("parquet_source.write") as s:
                original(df, path, *args, **kwargs)
            t0 = time.perf_counter()
            s.attrs.update(written_since(path, s.start))
            tracer.cost += time.perf_counter() - t0
        return call

    with ExitStack() as stack:
        _patch(stack, pipeline.Stage, "run", stage_run)
        _patch(stack, pipeline, "is_empty", spanned("cleaning.is_empty"))
        _patch(stack, dq.DQSuite, "run", dq_run)
        _patch(stack, json_source, "scan_json_pages", spanned("json_source.scan_json_pages"))
        _patch(stack, parquet_source, "write_partitioned", write)
        yield


def written_since(path: str, since: float) -> dict[str, int]:
    """Data files under ``path`` modified since ``since`` (epoch seconds),
    and how many partition directories hold them."""
    files, parts = 0, set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            if os.stat(os.path.join(root, n)).st_mtime >= since - 1.0:
                files += 1
                parts.add(os.path.relpath(root, path))
    return {"files_written": files, "partitions_written": len(parts)}


def cached_bytes(spark) -> int:
    """Memory and disk bytes of every RDD block still stored."""
    return sum(r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def metric_units() -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit."""
    units = {"session.start_s": "s"}
    for st in STAGES:
        units.update({f"stage.{st}.s": "s", f"stage.{st}.jobs": "count",
                      f"stage.{st}.executor_s": "s", f"stage.{st}.input_bytes": "bytes",
                      f"stage.{st}.output_bytes": "bytes"})
    for st in STAGES:
        units.update({f"reload.stage.{st}.s": "s", f"reload.stage.{st}.input_bytes": "bytes",
                      f"reload.stage.{st}.output_bytes": "bytes"})
    units.update({
        "json_source.scan_amplification": "ratio", "json_source.rows": "count",
        "cleaning.is_empty.s": "s", "cleaning.is_empty.jobs": "count",
        "dq.run.s": "s", "dq.run.jobs": "count", "dq.violations": "count",
        "parquet_source.write.s": "s", "parquet_source.files_written": "count",
        "parquet_source.bytes_written": "bytes", "parquet_source.partitions_written": "count",
        "reload.silver.partitions_written": "count",
    })
    for q in CORPUS_GRAPH:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.force_s": "s", f"query.{q}.jobs": "count"})
    units.update({"queries.build_s": "s", "queries.force_s": "s", "queries.build_jobs": "count",
                  "corpus.memo_hits": "count", "corpus.memo_misses": "count"})
    for k, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("job_active_s", "s"),
                 ("driver_idle_s", "s"), ("input_bytes", "bytes"),
                 ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("cached_bytes_after", "bytes")):
        units[f"spark.{k}"] = u
    units.update({"load_rows_per_s": "records/s", "reload_s": "s",
                  "storage_bytes_per_raw_byte": "ratio", "error_rate": "fraction",
                  "trace.pass_s": "s", "trace.overhead_s": "s"})
    return units


def _children(spans: list[Span], parent: Span) -> list[Span]:
    return [s for s in spans if s.parent == parent.id]


def _under(spans: list[Span], parent: Span, name: str, prefix: bool = False) -> list[Span]:
    """Spans below ``parent`` called ``name`` (or starting with it)."""
    return [s for s in descendants(spans, parent) if s is not parent
            and (s.name.startswith(name) if prefix else s.name == name)]


def pass_metrics(spans: list[Span], root: Span, facts: dict, raw_bytes: int) -> dict[str, float]:
    """Per-layer readings of one traced pass rooted at the ``pass`` span."""
    m: dict[str, float] = {}
    ops = _children(spans, root)  # the timed operations; checks run in ``root`` itself
    for op in ops:
        if op.name not in ("medallion.load", "medallion.reload"):
            continue
        prefix = "reload." if op.name == "medallion.reload" else ""
        for stage in _under(spans, op, "stage.", prefix=True):
            c = inclusive(spans, stage)
            key = prefix + stage.name
            m.update({f"{key}.s": stage.duration, f"{key}.input_bytes": c["input_bytes"],
                      f"{key}.output_bytes": c["output_bytes"]})
            if prefix:
                if stage.name == "stage.silver":
                    m["reload.silver.partitions_written"] = sum(
                        w.attrs.get("partitions_written", 0) for w in _under(spans, stage, "parquet_source.write"))
                continue
            m.update({f"{key}.jobs": c["jobs"], f"{key}.executor_s": c["executor_run_s"]})
            if stage.name == "stage.bronze":
                m["json_source.scan_amplification"] = c["input_bytes"] / raw_bytes
                m["json_source.rows"] = c["output_records"]
        if prefix:
            continue
        for name in ("cleaning.is_empty", "dq.run"):
            found = _under(spans, op, name)
            m[f"{name}.s"] = sum(s.duration for s in found)
            m[f"{name}.jobs"] = sum(inclusive(spans, s)["jobs"] for s in found)
        m["dq.violations"] = sum(s.attrs.get("violations", 0) for s in _under(spans, op, "dq.run"))
        writes = _under(spans, op, "parquet_source.write")
        m["parquet_source.write.s"] = sum(s.duration for s in writes)
        m["parquet_source.bytes_written"] = sum(inclusive(spans, s)["output_bytes"] for s in writes)
        for k in ("files_written", "partitions_written"):
            m[f"parquet_source.{k}"] = sum(s.attrs.get(k, 0) for s in writes)

    build_s = force_s = build_jobs = 0.0
    for s in ops:
        parts = s.name.split(".")
        if parts[0] != "query":
            continue
        q, kind = parts[1], parts[2]
        jobs = inclusive(spans, s)["jobs"]
        m[f"query.{q}.{kind}_s"] = s.duration
        m[f"query.{q}.jobs"] = m.get(f"query.{q}.jobs", 0.0) + jobs
        if kind == "build":
            build_s, build_jobs = build_s + s.duration, build_jobs + jobs
        else:
            force_s += s.duration
    m.update({"queries.build_s": build_s, "queries.force_s": force_s, "queries.build_jobs": build_jobs})
    m["corpus.memo_hits"] = facts.get("memo_hits", 0)
    m["corpus.memo_misses"] = facts.get("memo_misses", 0)

    total = dict.fromkeys(("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
                           "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
    intervals, wall = [], 0.0
    for op in ops:
        c = inclusive(spans, op)
        for k in total:
            total[k] += c[k]
        wall += op.duration
        for s in descendants(spans, op):
            intervals += [(max(a, op.start), min(b, op.end)) for a, b in s.job_intervals]
    active = union_length(intervals)
    m.update({f"spark.{k}": v for k, v in total.items()})
    m["spark.job_active_s"] = active
    m["spark.driver_idle_s"] = wall - active
    m["spark.cached_bytes_after"] = facts.get("cached_bytes_after", 0)
    for k in ("load_rows_per_s", "reload_s", "storage_bytes_per_raw_byte"):
        m[k] = facts.get(k, 0)
    return m


def per_layer(tracer: Tracer, facts: dict, raw_bytes: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the first traced pass; a layer the workload does
    not reach reads 0."""
    root = next(s for s in tracer.spans if s.name == "pass")
    m = pass_metrics(tracer.spans, root, facts, raw_bytes)
    return {name: (m.get(name, 0.0), unit) for name, unit in metric_units().items()}
