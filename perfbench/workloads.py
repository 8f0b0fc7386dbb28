"""The two workloads. Each exposes ``prepare`` (its own set-up: the
medallion input, or the corpus/graph oracle digests) and ``run_pass`` (one
timed pass over its operations; the outputs are checked after the clock
stops).

With a :class:`spans.Tracer` attached, ``run_pass`` opens a ``pass`` span
with one child span per timed operation; the checks run under ``pass``
itself, outside every operation. ``layers.instrumented`` adds the spans
around the engine's layer entry points.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
import gen_medallion

CORPUS_GRAPH = [
    "op-corpus-curate-full", "op-pagerank", "op-graph-bfs", "op-quality-classifier",
]
STAGES = ("bronze", "silver", "gold")
LAKE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")


@dataclass
class PassResult:
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    facts: dict[str, float] = field(default_factory=dict)  # workload-level readings


def _span(tracer):
    return tracer.span if tracer else (lambda _name: nullcontext())


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _dirs, names in os.walk(path) for n in names
    )


class Medallion:
    """Full raw → bronze → silver → gold load into an empty lake, then the
    re-landing of one month's pages into that lake. The timed pass is the
    session's first, as in a scheduled batch load. A warm-up pass was tried:
    the warm pass spread as much from run to run as the cold one."""

    warm_up_passes, timed_passes = 0, 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.raw = os.path.join(work, "raw")
        self.reload_raw = os.path.join(work, "reload")
        self.lake = os.path.join(work, "lake")
        self.expected: gen_medallion.Expected | None = None

    def prepare(self) -> None:
        for d in (self.raw, self.reload_raw):
            shutil.rmtree(d, ignore_errors=True)
        self.expected = gen_medallion.generate(self.raw, self.reload_raw, self.seed)

    def _load(self, raw: str) -> tuple[float, int, str | None]:
        """Run the pipeline from ``raw``; return (seconds, stages completed, error)."""
        from etl_pipeline_api_spark.plans.gastos import build_pipeline
        from etl_pipeline_api_spark.plans.pipeline import StageError

        t0 = time.perf_counter()
        try:
            build_pipeline(raw, *(os.path.join(self.lake, s) for s in STAGES)).run(self.spark)
        except StageError as e:
            return time.perf_counter() - t0, STAGES.index(e.stage), f"stage {e.stage}: {e.cause!r}"
        return time.perf_counter() - t0, len(STAGES), None

    def _gold(self) -> list[dict]:
        return [r.asDict() for r in self.spark.read.parquet(os.path.join(self.lake, "gold")).collect()]

    def run_pass(self, tracer=None) -> PassResult:
        span = _span(tracer)
        with span("pass"):
            return self._pass(span)

    def _pass(self, span) -> PassResult:
        exp = self.expected
        shutil.rmtree(self.lake, ignore_errors=True)
        with span("medallion.load"):
            load_s, load_done, load_err = self._load(self.raw)
        res = PassResult(load_s, attempted=2 * len(STAGES))
        res.facts["load_rows_per_s"] = exp.records / load_s
        gold_before: list[dict] = []
        if load_err:
            res.failed += len(STAGES) - load_done
            res.problems.append(f"load: {load_err}")
        else:
            silver = self.spark.read.parquet(os.path.join(self.lake, "silver"))
            counts = {(r["ano"], r["mes"]): r["count"] for r in silver.groupBy("ano", "mes").count().collect()}
            bad_silver = checks.count_problems("silver", counts, exp.silver_rows)
            gold_before = self._gold()
            bad_gold = checks.gold_problems(gold_before, exp.gold)
            res.failed += bool(bad_silver) + bool(bad_gold)
            res.problems += bad_silver[:3] + bad_gold[:3]
            res.facts["storage_bytes_per_raw_byte"] = sum(
                dir_bytes(os.path.join(self.lake, s)) for s in STAGES) / exp.raw_bytes

        with span("medallion.reload"):
            reload_s, reload_done, reload_err = self._load(self.reload_raw)
        res.seconds += reload_s
        res.facts["reload_s"] = reload_s
        if reload_err:
            res.failed += len(STAGES) - reload_done
            res.problems.append(f"reload: {reload_err}")
        elif gold_before:
            changed = checks.same_rows(gold_before, self._gold())
            res.failed += bool(changed)
            res.problems += [f"after reload, {p}" for p in changed[:3]]
        return res


class CorpusGraph:
    """One pass over the corpus/graph queries in a seeded order. Each query
    is built with ``QUERIES[name](spark, LAKE)`` and forced by collecting
    its result to the driver; the result's digest must equal its DuckDB
    oracle's. The curate prefix memo (``plans.corpus``) is emptied before
    every pass, so each pass pays the full curation cost. One untimed
    warm-up pass runs first, as in a long-lived analytics session: a cold
    pass's time depends on which query runs first and pays its JIT
    compilation. Two warm passes are timed: a warm pass's time still moves
    by about 10% from one pass to the next in the same session."""

    warm_up_passes, timed_passes = 1, 2

    def __init__(self, spark, build_dir: str, seed: int):
        import __spark_entry__

        self.spark, self.build_dir = spark, build_dir
        self.rng = random.Random(seed)
        self.registry = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        self.oracles = {n: oracles[n] for n in CORPUS_GRAPH}
        self.digests: dict[str, str] = {}

    def prepare(self) -> None:
        self.digests = oracle_digests(self.build_dir, LAKE, self.oracles)

    @staticmethod
    def _corpus():
        from etl_pipeline_api_spark.plans import corpus

        return corpus

    def evict_curate_memo(self) -> None:
        """Empty the memo through the module's own eviction path: pop each
        entry and release its checkpoint blocks. Without the memo there is
        nothing to evict."""
        corpus = self._corpus()
        memo = getattr(corpus, "_PREFIX_MEMO", None)
        release = getattr(corpus, "_release_checkpoint_blocks", None)
        if memo is None or release is None:
            return
        while memo:
            release(memo.pop(next(iter(memo)))[1])

    def _memo_stats(self) -> dict[str, int]:
        return dict(getattr(self._corpus(), "MEMO_STATS", None) or {"hits": 0, "misses": 0})

    def run_pass(self, tracer=None) -> PassResult:
        self.evict_curate_memo()
        span = _span(tracer)
        with span("pass"):
            return self._pass(span)

    def _pass(self, span) -> PassResult:
        memo0 = self._memo_stats()
        order = list(CORPUS_GRAPH)
        self.rng.shuffle(order)
        res = PassResult(0.0, attempted=len(order))
        results = {}
        for n in order:
            t0 = time.perf_counter()
            try:
                with span(f"query.{n}.build"):
                    df = self.registry[n](self.spark, LAKE)
                with span(f"query.{n}.force"):
                    results[n] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
                res.failed += 1
                res.problems.append(f"{n}: {type(e).__name__}: {str(e)[:200]}")
            finally:
                res.seconds += time.perf_counter() - t0
        memo1 = self._memo_stats()
        res.facts["memo_hits"] = memo1["hits"] - memo0["hits"]
        res.facts["memo_misses"] = memo1["misses"] - memo0["misses"]
        for n, pdf in results.items():
            try:
                got = checks.digest(pdf)
            except Exception as e:  # noqa: BLE001 - an uncanonicalizable result fails its check
                got = f"error {type(e).__name__}: {e}"
            if got != self.digests[n]:
                res.failed += 1
                res.problems.append(f"{n}: result digest {got[:16]} != oracle {self.digests[n][:16]}")
        if res.facts["memo_hits"] > 0:
            res.failed = res.attempted
            res.problems.append(f"curate prefix memo hit {res.facts['memo_hits']} times after its eviction")
        return res


def oracle_digests(build_dir: str, lake_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """The digest of each oracle's DuckDB result over the lake's tables.
    They are computed once per checkout and cached under ``build_dir``; the
    cache file's name hashes the tables' bytes and the oracle SQL, so a
    change to either recomputes them."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(lake_dir)):
        with open(os.path.join(lake_dir, f), "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    for n in sorted(oracles):
        h.update(f"{n}\0{oracles[n]}\0".encode())
    path = os.path.join(build_dir, f"oracle-digests-{h.hexdigest()[:16]}.json")
    if not os.path.exists(path):
        digests = checks.oracle_digests(lake_dir, oracles)
        os.makedirs(build_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(digests, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic: a concurrent run writes the same digests
    with open(path) as fh:
        return json.load(fh)
