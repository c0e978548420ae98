"""Seeded match-score CSV feed for the ``etl_ingest`` workload.

The feed has the reference's own shape: one CSV per entity with the
Bundesliga column list (``dq.expectations.BUNDESLIGA_COLUMNS``, ``day``
included), every value written as text, empty fields for NULL.  The
generator also returns the truth the benchmark checks against:

- rows per entity (what staging must count);
- the violations the DQ suite must report: NULLs injected into the six
  not-null columns and out-of-set ``round`` / ``day`` values;
- a second wave for the streaming upsert: a full re-delivery of some
  dates with revised attendance, plus dates the first wave did not have.

Only the CSV files reach the engine; the truth stays in this process.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

COLUMNS = [
    "value", "data_id", "round", "day", "date", "time", "home",
    "xg_home", "score", "xg_away", "away", "attendance", "venue", "referee",
]
NOT_NULL = ("date", "venue", "score", "attendance", "home", "away")
ROUNDS = [
    "Regular Season",
    "German 1/2 Relegation/Promotion Play-offs",
    "German 1/2 Relegation/Promotion Playoffs",
]
WEEKDAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]  # date.weekday() order
BAD_ROUND = "Friendly"
BAD_DAY = "Weekend"
NULL_RATE = 0.004
BAD_RATE = 0.003
SCORE_SEP = "–"  # en dash, as in the reference's score column ("2–1")


@dataclass
class Feed:
    """The generated files and what the engine should make of them."""

    wave1: dict[str, str]  # entity -> CSV path
    wave2: dict[str, str]  # entity -> CSV path (streaming delta)
    rows: dict[str, list[dict[str, str | None]]]  # entity -> wave-1 rows
    rows2: dict[str, list[dict[str, str | None]]]  # entity -> wave-2 rows
    nulls: dict[str, dict[str, int]] = field(default_factory=dict)
    bad_round: dict[str, int] = field(default_factory=dict)
    bad_day: dict[str, int] = field(default_factory=dict)


def _row_token(parts: list[str | None]) -> str:
    raw = "|".join("" if p is None else p for p in parts)
    return hashlib.blake2b(raw.encode(), digest_size=6).hexdigest()


def _match_rows(
    rng: random.Random,
    entity: str,
    dates: list[dt.date],
    per_date: int,
    first_id: int,
    inject: bool,
) -> list[dict[str, str | None]]:
    teams = [f"{entity.split('_')[0].title()} Club {i:02d}" for i in range(40)]
    venues = {t: f"{t} Arena" for t in teams}
    referees = [f"Referee {i:02d}" for i in range(25)]
    out: list[dict[str, str | None]] = []
    data_id = first_id
    for d in dates:
        for _ in range(per_date):
            home, away = rng.sample(teams, 2)
            hg, ag = rng.choices(range(6), weights=(25, 33, 22, 11, 6, 3), k=2)
            row: dict[str, str | None] = {
                "data_id": str(data_id),
                "round": ROUNDS[0] if rng.random() < 0.97 else rng.choice(ROUNDS[1:]),
                "day": WEEKDAYS[d.weekday()],
                "date": d.isoformat(),
                "time": f"{rng.choice((13, 15, 17, 18, 20))}:{rng.choice(('00', '30'))}",
                "home": home,
                "xg_home": f"{rng.uniform(0.1, 3.5):.1f}",
                "score": f"{hg}{SCORE_SEP}{ag}",
                "xg_away": f"{rng.uniform(0.1, 3.0):.1f}",
                "away": away,
                "attendance": str(rng.randint(3_000, 81_365)),
                "venue": venues[home],
                "referee": rng.choice(referees),
            }
            if inject:
                for col in NOT_NULL:
                    if rng.random() < NULL_RATE:
                        row[col] = None
                if rng.random() < BAD_RATE:
                    row["round"] = BAD_ROUND
                if rng.random() < BAD_RATE:
                    row["day"] = BAD_DAY
            row["value"] = _row_token([row[c] for c in COLUMNS[1:]])
            out.append(row)
            data_id += 1
    return out


def _write_csv(path: str, rows: list[dict[str, str | None]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(COLUMNS)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in COLUMNS])


def generate(
    root: str,
    seed: int,
    entities: tuple[str, ...],
    dates_per_entity: int,
    rows_per_date: int,
    redelivered_dates: int,
    new_dates: int,
) -> Feed:
    """Write wave-1 and wave-2 CSVs under ``root`` and return the truth.

    Wave 2 re-delivers every row of ``redelivered_dates`` wave-1 dates
    (same ids, new attendance), so a date-partition overwrite is exactly
    last-write-wins per row, and adds ``new_dates`` later dates.
    """
    rng = random.Random(seed)
    start = dt.date(2021, 8, 6) + dt.timedelta(days=rng.randrange(365))
    os.makedirs(os.path.join(root, "wave1"), exist_ok=True)
    os.makedirs(os.path.join(root, "wave2"), exist_ok=True)
    feed = Feed({}, {}, {}, {})
    for ent in entities:
        # match days: a few per week, so dates spread over months and
        # the content partitioning writes many year/month/day directories
        dates, d = [], start
        while len(dates) < dates_per_entity + new_dates:
            d += dt.timedelta(days=rng.choice((1, 2, 3, 4)))
            dates.append(d)
        old, fresh = dates[:dates_per_entity], dates[dates_per_entity:]
        rows = _match_rows(rng, ent, old, rows_per_date, 0, inject=True)
        feed.rows[ent] = rows
        feed.nulls[ent] = {c: sum(r[c] is None for r in rows) for c in NOT_NULL}
        feed.bad_round[ent] = sum(r["round"] == BAD_ROUND for r in rows)
        feed.bad_day[ent] = sum(r["day"] == BAD_DAY for r in rows)

        redo = {x.isoformat() for x in rng.sample(old, redelivered_dates)}
        delta = []
        for r in rows:
            if r["date"] in redo:
                r2 = dict(r)
                r2["attendance"] = str(rng.randint(3_000, 81_365))
                r2["value"] = _row_token([r2[c] for c in COLUMNS[1:]])
                delta.append(r2)
        delta += _match_rows(rng, ent, fresh, rows_per_date, len(rows), inject=False)
        feed.rows2[ent] = delta

        feed.wave1[ent] = os.path.join(root, "wave1", f"{ent}.csv")
        feed.wave2[ent] = os.path.join(root, "wave2", f"{ent}_delta.csv")
        _write_csv(feed.wave1[ent], rows)
        _write_csv(feed.wave2[ent], delta)
    return feed


def upsert_truth(
    wave1: list[dict[str, str | None]], wave2: list[dict[str, str | None]]
) -> list[dict[str, str | None]]:
    """Rows an upsert store keyed by date partition must hold after both
    waves: wave 2 replaces whole dates, so the truth is wave 1 minus the
    dates wave 2 carries, plus all of wave 2."""
    redone = {r["date"] for r in wave2}
    return [r for r in wave1 if r["date"] not in redone] + list(wave2)
