"""Seeded inputs for the ``pipeline_anp`` workload, with ground truth.

``write_anp_csv`` writes a pt-BR ANP fuel-price CSV carrying every
FIXTURES.md section-2 hazard, ``write_configs`` the run and series
configs, and ``StubFetch`` serves the BCB/SGS series and the IBGE
state list, so ``run_pipeline`` runs offline on inputs of a fixed
size.

The generator keeps the clean rows it encoded (the typed key and the
exact price in cents). From them ``Truth`` derives what the pipeline
must produce for any seed: the silver ANP row count, every
``gold_anp_monthly`` average and the summary's ANP top-3 lines, so
no golden file is needed.
"""

from __future__ import annotations

import csv
import json
import os
import re
from dataclasses import dataclass
from datetime import date, timedelta
from fractions import Fraction

import numpy as np

# (IBGE id, sigla, nome, regiao) for the 27 federative units.
UFS = [
    (11, "RO", "Rondônia", "Norte"),
    (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"),
    (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"),
    (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"),
    (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"),
    (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"),
    (25, "PB", "Paraíba", "Nordeste"),
    (26, "PE", "Pernambuco", "Nordeste"),
    (27, "AL", "Alagoas", "Nordeste"),
    (28, "SE", "Sergipe", "Nordeste"),
    (29, "BA", "Bahia", "Nordeste"),
    (31, "MG", "Minas Gerais", "Sudeste"),
    (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"),
    (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"),
    (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"),
    (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"),
    (52, "GO", "Goiás", "Centro-Oeste"),
    (53, "DF", "Distrito Federal", "Centro-Oeste"),
]
# "XX" is absent from the IBGE dimension: its rows survive silver and
# the left join leaves their region null.
SIGLAS = [u[1] for u in UFS] + ["XX"]
PRODUCTS = [
    "GASOLINA",
    "GASOLINA ADITIVADA",
    "ETANOL",
    "DIESEL",
    "DIESEL S10",
    "GNV",
]
BASE_CENTS = [600, 640, 420, 590, 610, 480]
BANDEIRAS = ["BRANCA", "IPIRANGA", "RAIZEN", "VIBRA", "ALESAT"]

# accented headers with spaces, plus unmapped extra columns
HEADER = [
    "Região - Sigla",
    "Estado - Sigla",
    "Município",
    "Produto",
    "Data da Coleta",
    "Valor de Venda",
    "Valor de Compra",
    "Unidade de Medida",
    "Bandeira",
]

START = date(2024, 1, 1)
DAYS = 731  # 2024-01-01 .. 2025-12-31
END = START + timedelta(days=DAYS - 1)

BCB_SERIES = [
    (11, "selic_sgs_11", "true", 1075),
    (12, "cdi_sgs_12", "TRUE", 1065),
    (1, "dolar_sgs_1", "yes", 525),
    (433, "ipca_sgs_433", "0", 40),  # disabled: never fetched
]

# Rows that silver must drop, one hazard each: invalid dates, zero,
# negative and non-numeric prices.
BAD_DATES = ["31/02/2025", "2025-13-45", "", "n/d"]
BAD_PRICES = ["0", "-6,59", "-1.5", "abc", ""]
HAZARD_SHARE = 0.05


def _uf_variant(sig: str, k: int) -> str:
    """Mixed case and stray spaces, e.g. `` sp `` (silver upper+trims)."""
    return (sig, f" {sig.lower()} ", sig.lower(), f"{sig} ")[k]


def _price_text(cents: int, k: int) -> str:
    """One price in one of the mixed formats of the ANP column:
    ``6,59`` (decimal comma), ``6.59`` (decimal point), ``6`` (whole)
    and ``1.234,56`` (thousands point and decimal comma)."""
    whole, frac = divmod(cents, 100)
    if whole >= 1000:
        return f"{whole // 1000}.{whole % 1000:03d},{frac:02d}"
    if frac == 0 and k == 2:
        return str(whole)
    if k == 1:
        return f"{whole}.{frac:02d}"
    return f"{whole},{frac:02d}"


@dataclass
class Truth:
    """The clean rows' expected silver and gold content."""

    rows: int  # data rows in the CSV
    bytes: int  # CSV size
    silver_rows: int  # distinct (date, uf, product) among clean rows
    # (uf, product, "YYYY-MM-01") -> exact mean of the per-key minimum
    gold: dict[tuple[str, str, str], Fraction]

    def summary_anp_lines(self) -> list[tuple[str, str, Fraction]]:
        """The summary's top-3 month-over-month movers in the latest
        month, as ``(uf, product, delta)`` sorted like the summary."""
        by_key: dict[tuple[str, str], list[tuple[str, Fraction]]] = {}
        for (uf, prod, month), avg in self.gold.items():
            by_key.setdefault((uf, prod), []).append((month, avg))
        latest = max(m for (_, _, m) in self.gold)
        movers = []
        for (uf, prod), series in by_key.items():
            series.sort()
            for (pm, pv), (m, v) in zip(series, series[1:]):
                if m == latest:
                    movers.append((uf, prod, v - pv))
        movers.sort(key=lambda t: (-t[2], t[0], t[1]))
        return movers


def write_anp_csv(path: str, n_rows: int, seed: int) -> Truth:
    """Write ``n_rows`` ANP data rows to ``path`` and return the truth.

    About ``HAZARD_SHARE`` of the rows carry a hazard that silver must
    drop; the rest are clean, and most clean keys repeat with
    different prices, so the dedup keeps the minimum of each key.
    """
    rng = np.random.default_rng(seed)
    day = rng.integers(0, DAYS, n_rows)
    uf = rng.integers(0, len(SIGLAS), n_rows)
    prod = rng.integers(0, len(PRODUCTS), n_rows)
    trend = (day * 60) // DAYS  # prices drift up over the two years
    cents = (
        np.asarray(BASE_CENTS)[prod] + trend + rng.integers(-40, 41, n_rows)
    )
    whole = rng.random(n_rows) < 0.02
    cents[whole] = (cents[whole] // 100) * 100
    thousands = rng.random(n_rows) < 0.001
    cents[thousands] += 100_000 + rng.integers(0, 50_000, thousands.sum())
    fmt = rng.integers(0, 3, n_rows)
    ufv = rng.integers(0, 4, n_rows)
    hazard = rng.random(n_rows) < HAZARD_SHARE
    bad_kind = rng.integers(0, len(BAD_DATES) + len(BAD_PRICES), n_rows)
    city = rng.integers(0, 500, n_rows)
    band = rng.integers(0, len(BANDEIRAS), n_rows)
    dates = [
        (START + timedelta(days=d)).strftime("%d/%m/%Y") for d in range(DAYS)
    ]

    lines = []
    for sig_i, d_i, prod_i, c, f_i, v_i, bad, k, city_i, band_i in zip(
        uf.tolist(), day.tolist(), prod.tolist(), cents.tolist(),
        fmt.tolist(), ufv.tolist(), hazard.tolist(), bad_kind.tolist(),
        city.tolist(), band.tolist(),
    ):
        sig = SIGLAS[sig_i]
        d = dates[d_i]
        p = _price_text(c, f_i)
        if bad:
            if k < len(BAD_DATES):
                d = BAD_DATES[k]
            else:
                p = BAD_PRICES[k - len(BAD_DATES)]
        lines.append(
            f"{sig[0]};{_uf_variant(sig, v_i)};MUNICIPIO {city_i};"
            f"{PRODUCTS[prod_i]};{d};{p};{p};R$ / litro;"
            f"{BANDEIRAS[band_i]}\n"
        )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(";".join(HEADER) + "\n")
        f.writelines(lines)

    clean = ~hazard
    key = (day * len(SIGLAS) + uf) * len(PRODUCTS) + prod
    n_keys = DAYS * len(SIGLAS) * len(PRODUCTS)
    kmin = np.full(n_keys, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(kmin, key[clean], cents[clean])
    present = np.flatnonzero(kmin != np.iinfo(np.int64).max)
    k_day, rest = np.divmod(present, len(SIGLAS) * len(PRODUCTS))
    k_uf, k_prod = np.divmod(rest, len(PRODUCTS))
    months = [
        (START + timedelta(days=int(d))).strftime("%Y-%m-01")
        for d in range(DAYS)
    ]
    sums: dict[tuple[str, str, str], list[int]] = {}
    for d, u, p, c in zip(k_day, k_uf, k_prod, kmin[present]):
        acc = sums.setdefault((SIGLAS[u], PRODUCTS[p], months[d]), [0, 0])
        acc[0] += int(c)
        acc[1] += 1
    gold = {k: Fraction(s, 100 * n) for k, (s, n) in sums.items()}
    return Truth(
        rows=n_rows,
        bytes=os.path.getsize(path),
        silver_rows=len(present),
        gold=gold,
    )


def _bcb_payload(sid: int, level_cents: int, seed: int) -> list[dict]:
    """Daily pt-BR values over the configured range, with a malformed
    date and a duplicated date."""
    rng = np.random.default_rng([seed, sid])
    steps = rng.integers(-3, 4, DAYS).cumsum()
    out = []
    for i in range(DAYS):
        d = START + timedelta(days=i)
        v = level_cents + int(steps[i])
        out.append(
            {"data": d.strftime("%d/%m/%Y"), "valor": f"{v // 100},{v % 100:02d}"}
        )
    out.append({"data": "31/02/2025", "valor": "1,00"})
    out.append(dict(out[10]))
    return out


class StubFetch:
    """Offline stand-in for the BCB and IBGE HTTP calls."""

    def __init__(self, seed: int):
        self.payloads = {
            sid: _bcb_payload(sid, level, seed)
            for sid, _, _, level in BCB_SERIES
        }
        self.ibge = [
            {"id": i, "sigla": s, "nome": n, "regiao": {"nome": r}}
            for i, s, n, r in UFS
        ]

    def __call__(self, url: str) -> list[dict]:
        if "ibge.gov.br" in url:
            return self.ibge
        m = re.search(r"bcdata\.sgs\.(\d+)/", url)
        if m is None:
            raise ValueError(f"unexpected URL {url}")
        return self.payloads[int(m.group(1))]


def write_configs(inputs_dir: str, anp_path: str) -> tuple[str, str]:
    """Run and series configs; returns their paths."""
    os.makedirs(inputs_dir, exist_ok=True)
    run_cfg = os.path.join(inputs_dir, "run_config.json")
    with open(run_cfg, "w", encoding="utf-8") as f:
        json.dump(
            {
                "start_date": START.isoformat(),
                "end_date": END.isoformat(),
                "anp_bronze_file": anp_path,
            },
            f,
        )
    series_cfg = os.path.join(inputs_dir, "bcb_series.csv")
    with open(series_cfg, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["series_id", "series_name", "enabled"])
        for sid, name, flag, _ in BCB_SERIES:
            w.writerow([sid, name, flag])
    return run_cfg, series_cfg


_MOVER = re.compile(
    r"^- (\S+) / (.+): variação média ([+-]\d+\.\d\d) \(vs mês anterior\)\.$"
)


def check_outputs(
    truth: Truth,
    silver_rows: int,
    gold_rows: list[tuple[str, str, str, float]],
    summary: str,
) -> list[str]:
    """Compare one pipeline run's outputs with the truth; returns the
    list of mismatches (empty when correct)."""
    errors = []
    if silver_rows != truth.silver_rows:
        errors.append(
            f"silver_anp rows {silver_rows} != expected {truth.silver_rows}"
        )
    got = {(u, p, m): v for u, p, m, v in gold_rows}
    if set(got) != set(truth.gold):
        errors.append(
            f"gold_anp_monthly keys differ: {len(got)} vs {len(truth.gold)}"
        )
    else:
        bad = [
            k
            for k, v in truth.gold.items()
            if abs(got[k] - float(v)) > 1e-9 * max(1.0, float(v))
        ]
        if bad:
            errors.append(f"gold_anp_monthly values differ at {bad[:3]}")

    movers = truth.summary_anp_lines()
    latest = max(m for (_, _, m) in truth.gold)
    want_head = f"ANP - Destaques de {latest}:"
    lines = summary.splitlines()
    if want_head not in lines:
        errors.append(f"summary lacks {want_head!r}")
        return errors
    listed = [_MOVER.match(s) for s in lines[lines.index(want_head) + 1 :]]
    listed = [m.groups() for m in listed if m]
    if len(listed) != min(3, len(movers)):
        errors.append(f"summary lists {len(listed)} movers, want 3")
        return errors
    exact = {(u, p): d for u, p, d in movers}
    third = movers[len(listed) - 1][2]
    for uf, prod, text in listed:
        d = exact.get((uf, prod))
        # a listed mover must be in the true top 3 (ties at the third
        # place allowed) and print its delta rounded to cents
        if d is None or d < third or abs(float(text) - float(d)) > 0.0051:
            errors.append(f"summary mover {uf}/{prod} {text} is wrong")
    return errors
