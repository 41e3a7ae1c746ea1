"""The seeded ANP generator: determinism, hazards, and ground truth
checked against an independent re-parse of the CSV it wrote."""

import csv
import hashlib
import re
from datetime import date
from fractions import Fraction

import anp
import numpy as np
import pytest
from stream_wl import GAP_S, LATENESS_S, expected_sessions

N = 4000


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    path = tmp_path_factory.mktemp("anp") / "anp.csv"
    return path, anp.write_anp_csv(str(path), N, seed=5)


def _digest(path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_same_input_other_seed_other_input(written, tmp_path):
    path, truth = written
    again = anp.write_anp_csv(str(tmp_path / "a.csv"), N, seed=5)
    other = anp.write_anp_csv(str(tmp_path / "b.csv"), N, seed=6)
    assert _digest(tmp_path / "a.csv") == _digest(path)
    assert again == truth
    assert _digest(tmp_path / "b.csv") != _digest(path)
    assert truth.rows == N and truth.bytes == path.stat().st_size


def test_csv_carries_every_fixture_hazard(written):
    path, _ = written
    with open(path, encoding="utf-8") as f:
        rows = list(csv.reader(f, delimiter=";"))
    header, body = rows[0], rows[1:]
    assert "Estado - Sigla" in header and "Município" in header
    assert "Valor de Compra" in header  # an extra, unmapped price column
    col = {h: i for i, h in enumerate(header)}
    ufs = {r[col["Estado - Sigla"]] for r in body}
    prices = [r[col["Valor de Venda"]] for r in body]
    dates = {r[col["Data da Coleta"]] for r in body}
    assert any(u != u.strip() for u in ufs) and any(u.islower() for u in ufs)
    assert "XX" in {u.strip().upper() for u in ufs}
    assert any(re.fullmatch(r"\d+,\d\d", p) for p in prices)
    assert any(re.fullmatch(r"\d+\.\d\d", p) for p in prices)
    assert any(re.fullmatch(r"\d+", p) and p != "0" for p in prices)
    assert any(re.fullmatch(r"\d+\.\d{3},\d\d", p) for p in prices)
    assert {"0", "-6,59", "abc", ""} <= set(prices)
    assert {"31/02/2025", "2025-13-45", ""} <= dates
    keys = [
        (r[col["Data da Coleta"]], r[col["Estado - Sigla"]].strip().upper(), r[col["Produto"]])
        for r in body
    ]
    assert len(set(keys)) < len(keys)  # duplicate keys for the dedup


def _parse_price(text: str):
    """The silver price rule: a comma means pt-BR, else a plain cast."""
    try:
        if "," in text:
            return Fraction(text.replace(".", "").replace(",", "."))
        return Fraction(text)
    except (ValueError, ZeroDivisionError):
        return None


def _parse_date(text: str):
    m = re.fullmatch(r"(\d\d)/(\d\d)/(\d{4})", text)
    if not m:
        return None
    try:
        return date(int(m[3]), int(m[2]), int(m[1]))
    except ValueError:
        return None


def test_truth_matches_an_independent_parse(written):
    path, truth = written
    best: dict[tuple, Fraction] = {}
    with open(path, encoding="utf-8") as f:
        reader = csv.DictReader(f, delimiter=";")
        for r in reader:
            d = _parse_date(r["Data da Coleta"])
            p = _parse_price(r["Valor de Venda"])
            if d is None or p is None or p <= 0:
                continue
            key = (d, r["Estado - Sigla"].strip().upper(), r["Produto"].strip())
            best[key] = min(best.get(key, p), p)
    assert truth.silver_rows == len(best)
    sums: dict[tuple, list] = {}
    for (d, uf, prod), p in best.items():
        acc = sums.setdefault((uf, prod, d.strftime("%Y-%m-01")), [0, 0])
        acc[0] += p
        acc[1] += 1
    assert truth.gold == {k: s / n for k, (s, n) in sums.items()}


def _summary(movers, latest):
    lines = ["BCB/SGS - sem dados para o período.", f"ANP - Destaques de {latest}:"]
    lines += [
        f"- {uf} / {prod}: variação média {float(d):+.2f} (vs mês anterior)."
        for uf, prod, d in movers[:3]
    ]
    return "\n".join(lines)


def test_check_outputs_accepts_the_truth_and_flags_each_defect(written):
    _, truth = written
    gold = [(u, p, m, float(v)) for (u, p, m), v in truth.gold.items()]
    latest = max(m for (_, _, m) in truth.gold)
    summary = _summary(truth.summary_anp_lines(), latest)
    assert anp.check_outputs(truth, truth.silver_rows, gold, summary) == []

    assert anp.check_outputs(truth, truth.silver_rows + 1, gold, summary)
    bad_gold = [gold[0][:3] + (gold[0][3] + 0.01,)] + gold[1:]
    assert anp.check_outputs(truth, truth.silver_rows, bad_gold, summary)
    assert anp.check_outputs(truth, truth.silver_rows, gold[1:], summary)
    wrong = _summary(truth.summary_anp_lines()[3:], latest)
    assert anp.check_outputs(truth, truth.silver_rows, gold, wrong)


def test_stub_fetch_serves_every_enabled_series_and_the_states():
    fetch = anp.StubFetch(seed=1)
    assert len(fetch("https://servicodados.ibge.gov.br/api/v1/x")) == 27
    rows = fetch("https://api.bcb.gov.br/dados/serie/bcdata.sgs.11/dados?x")
    assert len(rows) == anp.DAYS + 2  # a malformed and a duplicated date
    assert rows[0] == {"data": "01/01/2024", "valor": rows[0]["valor"]}


def test_expected_sessions_counts_sessions_the_watermark_closed():
    gap, late = GAP_S * 10**6, LATENESS_S * 10**6
    user = np.array([1, 1, 1, 2, 2])
    # user 1: events exactly one gap apart share a session, a later one
    # opens a second; user 2 has two sessions, and the one ending at the
    # last event is still open when the input ends
    t_end = 10 * gap + late
    ts = np.array([0, gap, 3 * gap, 5 * gap, t_end])
    assert expected_sessions(user, ts) == 3
