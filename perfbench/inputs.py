"""Seeded inputs for the ``ingest`` workload.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Two kinds of input are made:

- daily offline pages for both sources, templated from the captured
  fixture pages under ``tests/fixtures/sources`` with seeded amounts,
  draw numbers and dates. Each day is one ``run_pipeline`` call;
- a SOURCE_PAYLOAD parquet of many runs times two sources plus a
  prior-state parquet, for ``run_pipeline_bulk``.

A *publish* run has two sources that agree on a new draw, a *skip* run
repeats content already in the state, and a *quarantine* run has one
category on which the sources disagree by more than the 10 % deviation
cap.

The publish/skip mix follows the program's traffic: its cron runs once
a day, and the draw it reports comes three times a week (the fixture
pages show draw 5322 on Tuesday 2025-09-16 and draw 5418 on Tuesday
2026-04-28: 96 draws in 32 weeks), so three daily runs in seven see new
amounts and four repeat the last ones. The daily pass times runs of
both kinds and ``WEEK_RUNS`` weighs the kinds 3 and 4; the bulk runs
hold the same share. No quarantine rate is recorded anywhere, so
quarantines are there for path coverage only: one checked, untimed
daily run per pass, and 1 % of the bulk runs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
import re
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = (
    "Loto Clásico",
    "Recargado",
    "Revancha",
    "Desquite",
    "Jubilazo $1.000.000",
)
#: One pass of daily runs, in order; state carries across all of them.
DAY_PLAN = ("publish", "skip", "publish", "skip", "quarantine")
#: How many of a week's seven daily cron runs each kind of timed day
#: stands for; the quarantine day is a checked coverage run, left out of
#: the timing.
WEEK_RUNS = {"publish": 3, "skip": 4}
#: Bulk decision mix as run counts out of every 700 runs: the week's
#: 3-in-7 publish share, with 1 % quarantine for coverage.
BULK_MIX = {"publish": 297, "skip": 396, "quarantine": 7}
BULK_RUNS = 14_000
#: Labels the openloto page lists with a zero amount when it has no such
#: game (see tests/fixtures/sources/openloto/expected.json); consensus
#: keeps them, so every expected record carries them as zeros.
ZERO_CATEGORIES = ("Jubilazo $500.000", "Jubilazo 50 años $1.000.000",
                   "Jubilazo 50 años $500.000")
OPENLOTO_URL = "https://www.openloto.cl/pozo-del-loto.html"
POLLA_URL = "https://www.polla.cl/es/"

_WEEKDAYS = ("lunes", "martes", "miércoles", "jueves", "viernes", "sábado", "domingo")
_MONTHS = ("enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
           "agosto", "septiembre", "octubre", "noviembre", "diciembre")
FIXTURES = Path("tests") / "fixtures" / "sources"
_OPENLOTO_LABELS = {
    "Loto Clásico": "Loto Cl&aacute;sico",
    "Recargado": "Recargado",
    "Revancha": "Revancha",
    "Desquite": "Desquite",
    "Jubilazo $1.000.000": "Jubilazo $1.000.000",
}
_POLLA_IMAGES = {
    "Loto Clásico": "loto_logo",
    "Recargado": "recargado",
    "Revancha": "revancha",
    "Desquite": "desquite",
    "Jubilazo $1.000.000": "jubilazo",
}
_BASE_DATE = dt.date(2026, 1, 6)  # a Tuesday
#: Days from a pass's first draw to each draw in it (Tuesday, Thursday,
#: Sunday), one for each non-skip day of DAY_PLAN.
_DRAW_DAYS = (0, 2, 5)


@dataclass(frozen=True)
class Day:
    """One daily run: the two page paths and what the pipeline must decide."""

    status: str
    openloto: Path
    polla: Path
    sorteo: int
    amounts: dict[str, int]


@dataclass(frozen=True)
class Bulk:
    """The bulk backfill input and the per-status run counts it must yield."""

    payload: Path
    state: Path
    runs: int
    expected: dict[str, int]


def rng(seed: int, *salt: object) -> random.Random:
    """A generator keyed by the seed and a salt, independent of call order."""
    key = ":".join(str(s) for s in (seed, *salt))
    return random.Random(int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big"))


def _money(millions: int) -> str:
    """An amount in millions as the sources print it: ``$1.200``."""
    return "$" + f"{millions:,}".replace(",", ".")


def _sub_once(pattern: str, repl, text: str) -> str:
    """Replace the single match of ``pattern``; fail if the template moved."""
    out, n = re.subn(pattern, repl if callable(repl) else (lambda _m: repl), text,
                     flags=re.S)
    if n != 1:
        raise ValueError(f"template pattern {pattern!r} matched {n} times, expected 1")
    return out


def render_openloto(template: str, sorteo: int, fecha: dt.date,
                    amounts: dict[str, int]) -> str:
    html = _sub_once(r"Sorteo N° \d+", f"Sorteo N° {sorteo}", template)
    when = (f"{_WEEKDAYS[fecha.weekday()]} {fecha.day} de "
            f"{_MONTHS[fecha.month - 1]} de {fecha.year}")
    html = _sub_once(r"Sorteo: \w+ \d+ de \w+ de \d{4}", f"Sorteo: {when}", html)
    for cat, label in _OPENLOTO_LABELS.items():
        cell = f"<td>{label}</td><td>"
        html = _sub_once(re.escape(cell) + r"\$[\d.]+", cell + _money(amounts[cat]), html)
    cell = "<td>Total estimado</td><td>"
    return _sub_once(re.escape(cell) + r"\$[\d.]+",
                     cell + _money(sum(amounts.values())), html)


def render_polla(template: str, sorteo: int, fecha: dt.date,
                 amounts: dict[str, int]) -> str:
    # the fixture's sixth game has no openloto counterpart; drop it so
    # both sources report the same categories
    html = _sub_once(r"\s*<li class=\"sub-game\"><img src=\"/img/jubilazo-50\.svg\"/>.*?</li>",
                     "", template)
    html = _sub_once(r"Sorteo : \d+ Fecha : \w+ \d+, \d{4}",
                     f"Sorteo : {sorteo} Fecha : {_MONTHS[fecha.month - 1]} "
                     f"{fecha.day}, {fecha.year}", html)
    html = _sub_once(r"(POZO TOTAL ESTIMADO</span>\s*<span class=\"prize\">)\$[\d.]+",
                     lambda m: m.group(1) + _money(sum(amounts.values())), html)
    for cat, img in _POLLA_IMAGES.items():
        html = _sub_once(
            "(" + re.escape(f'<img src="/img/{img}.svg"/>') + r"(?:<span>[^<]*</span>)?"
            + re.escape('<span class="prize">') + r")\$[\d.]+",
            lambda m, cat=cat: m.group(1) + _money(amounts[cat]), html)
    return html


def _amounts(r: random.Random) -> dict[str, int]:
    """Seeded amounts in millions; ten or more, so a 20 % change moves
    at least two millions."""
    return {cat: r.randrange(10, 4000) for cat in CATEGORIES}


def _disagree(amounts: dict[str, int], r: random.Random) -> dict[str, int]:
    """The same amounts with one category 20-50 % higher."""
    out = dict(amounts)
    cat = r.choice(CATEGORIES)
    out[cat] = amounts[cat] + max(2, amounts[cat] * r.randrange(20, 51) // 100)
    return out


def daily_pass(root: Path, out_dir: Path, seed: int, pass_no: int) -> list[Day]:
    """Write the pages of one pass of ``DAY_PLAN`` and return its days.

    Every non-skip day is the next draw, a skip day repeats the pages of
    the day before it unchanged, and the quarantine day's sources
    disagree. Expected amounts are the consensus: where two sources
    disagree the higher-priority source (openloto) wins.
    """
    t_open = (root / FIXTURES / "openloto" / "page.html").read_text(encoding="utf-8")
    t_polla = (root / FIXTURES / "polla" / "page.html").read_text(encoding="utf-8")
    r = rng(seed, "daily", pass_no)
    draws = iter(enumerate(_DRAW_DAYS))
    out_dir.mkdir(parents=True, exist_ok=True)
    days: list[Day] = []
    pages: tuple[Path, Path] | None = None
    for i, status in enumerate(DAY_PLAN):
        if status == "skip":
            assert pages is not None, "a skip day repeats the day before it"
        else:
            n, offset = next(draws)
            sorteo = 6000 + len(_DRAW_DAYS) * pass_no + n
            fecha = _BASE_DATE + dt.timedelta(days=7 * pass_no + offset)
            agreed = _amounts(r)
            polla_amounts = _disagree(agreed, r) if status == "quarantine" else agreed
            p_open = out_dir / f"p{pass_no}d{i}_openloto.html"
            p_polla = out_dir / f"p{pass_no}d{i}_polla.html"
            p_open.write_text(render_openloto(t_open, sorteo, fecha, agreed), encoding="utf-8")
            p_polla.write_text(render_polla(t_polla, sorteo, fecha, polla_amounts),
                               encoding="utf-8")
            pages = (p_open, p_polla)
        expected = {c: v * 1_000_000 for c, v in agreed.items()}
        expected.update(dict.fromkeys(ZERO_CATEGORIES, 0))
        days.append(Day(status, pages[0], pages[1], sorteo, expected))
    return days


_MONTOS = pa.map_(pa.string(), pa.int64())


def bulk_inputs(out_dir: Path, seed: int, runs: int = BULK_RUNS) -> Bulk:
    """Write the SOURCE_PAYLOAD parquet of ``runs`` runs times two sources
    and the prior-state parquet that turns the skip runs into skips."""
    r = rng(seed, "bulk")
    per_block = sum(BULK_MIX.values())
    if runs % per_block:
        raise ValueError(f"runs must be a multiple of {per_block}")
    statuses = [s for s, n in BULK_MIX.items() for _ in range(n)] * (runs // per_block)
    r.shuffle(statuses)
    fetched0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    cols: dict[str, list] = {k: [] for k in (
        "run_id", "source_name", "source_priority", "fuente", "fetched_at", "sha256",
        "estimado", "user_agent", "sorteo", "fecha", "montos")}
    state: dict[str, list] = {k: [] for k in ("sorteo", "fecha", "primary_sha256",
                                              "pozos_proximo")}
    for i, status in enumerate(statuses):
        sorteo = 100_000 + i
        fecha = _BASE_DATE + dt.timedelta(days=i % 3650)
        agreed = {c: v * 1_000_000 for c, v in _amounts(r).items()}
        polla = ({c: v * 1_000_000 for c, v in
                  _disagree({c: v // 1_000_000 for c, v in agreed.items()}, r).items()}
                 if status == "quarantine" else agreed)
        for prio, (src, url, montos) in enumerate(
                (("openloto", OPENLOTO_URL, agreed), ("polla", POLLA_URL, polla))):
            cols["run_id"].append(f"run-{seed}-{i:07d}")
            cols["source_name"].append(src)
            cols["source_priority"].append(prio)
            cols["fuente"].append(url)
            cols["fetched_at"].append(fetched0 + dt.timedelta(seconds=i))
            cols["sha256"].append(hashlib.sha256(f"{seed}:{i}:{src}".encode()).hexdigest())
            cols["estimado"].append(True)
            cols["user_agent"].append("perfbench")
            cols["sorteo"].append(sorteo)
            cols["fecha"].append(fecha)
            cols["montos"].append(list(montos.items()))
        if status == "skip":
            state["sorteo"].append(sorteo)
            state["fecha"].append(fecha)
            state["primary_sha256"].append(None)
            state["pozos_proximo"].append(list(agreed.items()))
    payload_schema = pa.schema([
        ("run_id", pa.string()), ("source_name", pa.string()),
        ("source_priority", pa.int32()), ("fuente", pa.string()),
        ("fetched_at", pa.timestamp("us", tz="UTC")), ("sha256", pa.string()),
        ("estimado", pa.bool_()), ("user_agent", pa.string()),
        ("sorteo", pa.int64()), ("fecha", pa.date32()), ("montos", _MONTOS),
    ])
    state_schema = pa.schema([
        ("sorteo", pa.int64()), ("fecha", pa.date32()),
        ("primary_sha256", pa.string()), ("pozos_proximo", _MONTOS),
    ])
    out_dir.mkdir(parents=True, exist_ok=True)
    payload = out_dir / "payload.parquet"
    state_path = out_dir / "state.parquet"
    pq.write_table(pa.table(cols, schema=payload_schema), payload)
    pq.write_table(pa.table(state, schema=state_schema), state_path)
    expected = {s: statuses.count(s) for s in BULK_MIX}
    return Bulk(payload, state_path, runs, expected)


def week_weights(statuses: list[str]) -> list[float]:
    """For timed days of these statuses, the runs of a week each stands
    for: a kind's ``WEEK_RUNS`` shared among its days."""
    return [WEEK_RUNS[s] / statuses.count(s) for s in statuses]
