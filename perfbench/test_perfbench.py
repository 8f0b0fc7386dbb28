"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen_medallion  # noqa: E402
import sweep  # noqa: E402
from spans import Span, self_times, union_length  # noqa: E402


def _gen(tmp_path, name: str, seed: int) -> gen_medallion.Expected:
    return gen_medallion.generate(
        str(tmp_path / name / "raw"), str(tmp_path / name / "reload"), seed,
        n_pages=6, page_records=200)


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors) and match == names


def test_medallion_generator_is_deterministic(tmp_path):
    e1, e2, e3 = _gen(tmp_path, "a", 7), _gen(tmp_path, "b", 7), _gen(tmp_path, "c", 8)
    for sub in ("raw", "reload"):
        assert _same_tree(tmp_path / "a" / sub, tmp_path / "b" / sub)
    assert not _same_tree(tmp_path / "a" / "raw", tmp_path / "c" / "raw")
    assert e1 == e2 and e1 != e3


def _coerce(valor) -> float:
    try:
        return float(valor)
    except (TypeError, ValueError):
        return 0.0


def test_medallion_expectations_match_the_pages(tmp_path):
    """Re-derive gold totals and silver counts from the written bytes."""
    exp = _gen(tmp_path, "a", 3)
    raw = tmp_path / "a" / "raw"
    gold: dict = {}
    silver: dict = {}
    shapes = set()
    corrupt = 0
    for f in sorted(os.listdir(raw)):
        try:
            doc = json.loads((raw / f).read_text())
        except json.JSONDecodeError:
            corrupt += 1
            continue
        shapes.add(type(doc).__name__)
        for r in doc if isinstance(doc, list) else doc["results"]:
            assert r["nome_orgao"].strip() and r["nome_favorecido"].strip()
            assert 1 <= r["mes"] <= 12 and _coerce(r["valor"]) >= 0  # the DQ gate holds
            key = (r["ano"], r["mes"], r["nome_orgao"].strip().upper())
            gold[key] = gold.get(key, 0.0) + _coerce(r["valor"])
            silver[key[:2]] = silver.get(key[:2], 0) + 1
    assert corrupt == 1 and shapes == {"list", "dict"}
    assert silver == exp.silver_rows and sum(silver.values()) == exp.records
    assert not checks.gold_problems(
        [{"ano": a, "mes": m, "nome_orgao": o, "total_gasto": v} for (a, m, o), v in gold.items()],
        exp.gold)
    reloaded = 0
    for f in os.listdir(tmp_path / "a" / "reload"):
        doc = json.loads((tmp_path / "a" / "reload" / f).read_text())
        for r in doc if isinstance(doc, list) else doc["results"]:
            assert (r["ano"], r["mes"]) == exp.reload_month
            reloaded += 1
    assert reloaded == exp.silver_rows[exp.reload_month]


def test_gold_check_rejects_one_altered_total(tmp_path):
    exp = _gen(tmp_path, "a", 5)
    rows = [{"ano": a, "mes": m, "nome_orgao": o, "total_gasto": v} for (a, m, o), v in exp.gold.items()]
    assert checks.gold_problems(rows, exp.gold) == []
    rows[17] = dict(rows[17], total_gasto=rows[17]["total_gasto"] + 0.01)
    assert len(checks.gold_problems(rows, exp.gold)) == 1
    assert checks.gold_problems(rows[1:], exp.gold)  # a missing group fails too
    assert checks.same_rows(rows, rows) == []


def test_query_digest_rejects_a_wrong_result():
    pdf = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0]})
    assert checks.digest(pdf) == checks.digest(pdf.iloc[::-1][["v", "k"]])  # order-insensitive
    assert checks.digest(pdf) != checks.digest(pdf.assign(v=[0.5, 1.25, 2.5]))
    assert checks.digest(pdf) != checks.digest(pdf.iloc[:2])
    assert checks.digest(pdf) != checks.digest(pdf.rename(columns={"v": "w"}))


def test_span_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "pass", "r", None, 0.0, 10.0),
        Span(1, "a", "r", 0, 1.0, 4.0),
        Span(2, "b", "r", 0, 3.0, 6.0),   # overlaps a: children cover 1..6
        Span(3, "c", "r", 1, 1.5, 2.0),
        Span(4, "d", "r", 0, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(3.0) and own[3] == pytest.approx(0.5)
    assert union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)
    assert union_length([(0, 10)], 2, 4) == pytest.approx(2.0)


def test_lake_holds_every_table_and_column_the_oracles_read():
    import __spark_entry__
    from workloads import CORPUS_GRAPH, LAKE

    oracles = __spark_entry__.oracle_sql()
    con = checks.connect(LAKE)
    try:
        for n in CORPUS_GRAPH:
            assert con.sql(oracles[n]).columns  # binds every table and column, runs nothing
    finally:
        con.close()


def test_sweep_summary_percentile_and_spread():
    s = sweep.summarize([float(v) for v in range(20, 0, -1)])
    assert s["runs"] == 20 and s["median"] == 10.5
    assert s["p50"] == 10.0  # the highest value with ten runs above it
    assert sorted(sweep.summarize([1.0] * 10)) == ["median", "runs", "spread"]  # no percentile
    q1, _, q3 = statistics.quantiles(range(1, 21), n=4)
    assert s["spread"] == pytest.approx((q3 - q1) / 10.5)
