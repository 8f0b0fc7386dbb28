"""Seeded raw gastos pages for the medallion workload.

``generate(raw_dir, reload_dir, seed)`` writes ``N_PAGES`` pretty-printed
JSON pages of ``PAGE_RECORDS`` records each, alternating the two raw
envelope shapes the bronze scan accepts (a bare array, and the API
envelope ``{count, next, previous, results}``), plus one corrupt file.
It also writes one month's records again, re-paged, into ``reload_dir``:
the re-extract the reload step lands into an existing lake.

Values are dirty but coercible, and no record violates the silver DQ gate:

- ``valor`` is a decimal string, null, or a non-numeric string (coerced to 0);
- ``data_pagamento`` is ISO, day-first (unparseable as ISO), or null;
- name columns are padded with spaces and mixed-case.

The returned :class:`Expected` holds what a correct pipeline must publish:
gold totals per ``(ano, mes, nome_orgao)`` and silver row counts per
``(ano, mes)``. The same seed gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

N_PAGES = 48
PAGE_RECORDS = 1000
YEARS = range(2011, 2018)  # 7 years x 12 months = 84 ano/mes partitions

ORGAOS = [
    "Ministerio da Saude", "Ministerio da Educacao", "Ministerio da Defesa",
    "Ministerio da Fazenda", "Ministerio da Justica", "Ministerio das Cidades",
    "Ministerio do Trabalho", "Ministerio da Cultura", "Ministerio do Turismo",
    "Ministerio da Agricultura", "Ministerio de Minas e Energia",
    "Ministerio do Meio Ambiente", "Ministerio da Previdencia Social",
    "Ministerio das Comunicacoes", "Ministerio dos Transportes",
    "Ministerio da Integracao Nacional", "Ministerio do Esporte",
    "Ministerio da Ciencia e Tecnologia", "Ministerio das Relacoes Exteriores",
    "Ministerio do Desenvolvimento Social", "Presidencia da Republica",
    "Advocacia Geral da Uniao", "Controladoria Geral da Uniao",
    "Ministerio da Pesca e Aquicultura",
]
FAVORECIDOS = [f"Empresa {w} Ltda" for w in (
    "Alfa", "Beta", "Gama", "Delta", "Epsilon", "Zeta", "Eta", "Teta", "Iota",
    "Kapa", "Lambda", "Mi", "Ni", "Csi", "Omicron", "Pi", "Ro", "Sigma", "Tau",
    "Ipsilon", "Fi", "Qui", "Psi", "Omega",
)] + [f"Municipio de Cidade {i}" for i in range(40)]
ACOES = [f"Acao orcamentaria {i}" for i in range(60)]
PROGRAMAS = [f"Programa de governo {i}" for i in range(30)]
FUNCOES = ["Saude", "Educacao", "Defesa nacional", "Administracao", "Cultura",
           "Transporte", "Previdencia social", "Assistencia social"]
GRUPOS = ["Outras despesas correntes", "Investimentos", "Pessoal e encargos sociais",
          "Juros e encargos da divida", "Inversoes financeiras"]
BAD_VALOR = ["N/D", "sem valor", "12,50", ""]

# The record fields the pipeline reads, in the declared raw schema's order
# (plans.gastos.GASTOS_RECORD); the scan leaves the other declared fields null.
FIELDS = (
    "codigo_orgao", "data_pagamento", "nome_acao", "nome_favorecido",
    "nome_funcao", "nome_grupo_despesa", "nome_orgao", "nome_programa",
    "valor", "ano", "mes",
)


@dataclass
class Expected:
    """What a correct pipeline publishes for the generated raw pages."""

    gold: dict[tuple[int, int, str], float] = field(default_factory=dict)
    silver_rows: dict[tuple[int, int], int] = field(default_factory=dict)
    raw_bytes: int = 0
    records: int = 0
    reload_month: tuple[int, int] = (0, 0)


def _quoted(values) -> np.ndarray:
    return np.array(['"%s"' % v for v in values], dtype=object)


def _dirty(rng: np.random.Generator, names: list[str], n: int) -> tuple[np.ndarray, np.ndarray]:
    """Pick ``n`` names, each in one of 4 casings with 0-2 spaces of padding on
    either side; return (JSON literals, the upper/trimmed names silver keeps)."""
    variants = np.array([
        '"%s%s%s"' % (" " * left, styled, " " * right)
        for name in names
        for styled in (name, name.upper(), name.lower(), name.title())
        for left in range(3)
        for right in range(3)
    ], dtype=object).reshape(len(names), 4 * 3 * 3)
    idx = rng.integers(0, len(names), n)
    raw = variants[idx, rng.integers(0, variants.shape[1], n)]
    return raw, np.array([s.upper() for s in names], dtype=object)[idx]


def _records(rng: np.random.Generator, n: int) -> tuple[dict[str, np.ndarray], np.ndarray, np.ndarray, np.ndarray]:
    """Columns of JSON literals for ``n`` records; also each record's
    (ano, mes), coerced ``valor`` and cleaned ``nome_orgao``."""
    ano = rng.integers(YEARS.start, YEARS.stop, n)
    mes = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    cols: dict[str, np.ndarray] = {
        "codigo_orgao": rng.integers(10000, 99999, n).astype(str).astype(object),
        "ano": ano.astype(str).astype(object),
        "mes": mes.astype(str).astype(object),
    }

    ymd = list(zip(ano.tolist(), mes.tolist(), day.tolist()))
    kind = rng.random(n)
    dates = np.array([
        f'"{y}-{m:02d}-{d:02d}"' if k < 0.85 else f'"{d:02d}/{m:02d}/{y}"' if k < 0.95 else "null"
        for (y, m, d), k in zip(ymd, kind.tolist())
    ], dtype=object)
    cols["data_pagamento"] = dates

    cents = rng.integers(1, 5_000_000, n)
    valor_txt = [f"{c // 100}.{c % 100:02d}" for c in cents.tolist()]
    kind = rng.random(n)
    bad = rng.integers(0, len(BAD_VALOR), n)
    is_null = kind >= 0.95
    is_bad = (kind >= 0.90) & ~is_null
    valor = _quoted(valor_txt)
    valor[is_null] = "null"
    valor[is_bad] = _quoted(np.array(BAD_VALOR, dtype=object)[bad[is_bad]])
    cols["valor"] = valor
    coerced = cents / 100.0
    coerced[is_null | is_bad] = 0.0

    cols["nome_orgao"], orgao_key = _dirty(rng, ORGAOS, n)
    for f, names in (
        ("nome_favorecido", FAVORECIDOS), ("nome_acao", ACOES),
        ("nome_programa", PROGRAMAS), ("nome_funcao", FUNCOES),
        ("nome_grupo_despesa", GRUPOS),
    ):
        cols[f], _ = _dirty(rng, names, n)
    return cols, np.stack([ano, mes], axis=1), coerced, orgao_key


def _record_template(indent: int) -> str:
    pad = " " * indent
    inner = pad + "  "
    body = ",\n".join(f'{inner}"{f}": %s' for f in FIELDS)
    return f"{pad}{{\n{body}\n{pad}}}"


_BARE = _record_template(2)
_ENVELOPED = _record_template(4)


def _page_text(cols: dict[str, np.ndarray], rows: np.ndarray, envelope: bool, page_no: int, n_pages: int) -> str:
    table = [cols[f][rows].tolist() for f in FIELDS]
    tpl = _ENVELOPED if envelope else _BARE
    recs = ",\n".join(tpl % vals for vals in zip(*table))
    if not envelope:
        return "[\n" + recs + "\n]\n"
    nxt = f'"https://api.portaldatransparencia.gov.br/gastos?page={page_no + 1}"' if page_no < n_pages else "null"
    prev = f'"https://api.portaldatransparencia.gov.br/gastos?page={page_no - 1}"' if page_no > 1 else "null"
    return (
        "{\n"
        f'  "count": {len(rows)},\n'
        f'  "next": {nxt},\n'
        f'  "previous": {prev},\n'
        '  "results": [\n' + recs + "\n  ]\n}\n"
    )


def _write_pages(out_dir: str, cols: dict[str, np.ndarray], rows: np.ndarray, page_records: int) -> int:
    os.makedirs(out_dir, exist_ok=True)
    pages = [rows[i:i + page_records] for i in range(0, len(rows), page_records)]
    total = 0
    for p, page_rows in enumerate(pages, start=1):
        data = _page_text(cols, page_rows, envelope=(p % 2 == 0), page_no=p, n_pages=len(pages)).encode()
        with open(os.path.join(out_dir, f"page_{p:04d}.json"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total


def generate(raw_dir: str, reload_dir: str, seed: int,
             n_pages: int = N_PAGES, page_records: int = PAGE_RECORDS) -> Expected:
    """Write the raw pages, the corrupt file and the one-month reload pages."""
    rng = np.random.default_rng(seed)
    n = n_pages * page_records
    cols, keys, coerced, orgao_key = _records(rng, n)
    exp = Expected(records=n)
    for (a, m), v, k in zip(keys.tolist(), coerced.tolist(), orgao_key.tolist()):
        exp.gold[(a, m, k)] = exp.gold.get((a, m, k), 0.0) + v
        exp.silver_rows[(a, m)] = exp.silver_rows.get((a, m), 0) + 1

    exp.raw_bytes = _write_pages(raw_dir, cols, np.arange(n), page_records)
    # One truncated page: the scan must isolate it, not fail or count it.
    corrupt = _page_text(cols, np.arange(3), envelope=False, page_no=1, n_pages=1)
    corrupt = corrupt[: len(corrupt) // 2].encode()
    with open(os.path.join(raw_dir, "page_corrupt.json"), "wb") as fh:
        fh.write(corrupt)
    exp.raw_bytes += len(corrupt)

    months = sorted(exp.silver_rows)
    exp.reload_month = months[int(rng.integers(0, len(months)))]
    month_rows = np.flatnonzero((keys[:, 0] == exp.reload_month[0]) & (keys[:, 1] == exp.reload_month[1]))
    _write_pages(reload_dir, cols, month_rows, page_records)
    return exp
