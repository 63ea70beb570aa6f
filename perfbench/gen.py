"""Seeded, single-threaded input generators for the workloads.

Everything here is plain Python (plus pyarrow for landing files): the
program under test receives only what these functions produce, and the
same seed always produces the same bytes.

- ``flight_feed``: a BTS-shaped feed with exactly one row per
  (year, month, carrier, airport) cell, Pareto-skewed airport coverage
  per carrier, and a planted share of dirty bodies of the kinds the
  silver repair path handles.
- ``land_backlog``: the feed cut into envelope Parquet files in a drop
  dir, the way producers land a backlog for the file-source stream.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

PAYLOAD_FIELDS = (
    "year", "month", "carrier", "carrier_name", "airport", "airport_name",
    "arr_flights", "arr_del15", "carrier_ct", "weather_ct", "nas_ct",
    "security_ct", "late_aircraft_ct", "arr_cancelled", "arr_diverted",
    "arr_delay", "carrier_delay",
)
# Columns whose generated values are whole numbers ("134.00"): their
# sums are exact in double arithmetic, so checks compare them exactly.
INTEGRAL_FIELDS = ("arr_flights", "arr_del15", "arr_cancelled",
                   "arr_diverted", "arr_delay", "carrier_delay")
CAUSE_FIELDS = ("carrier_ct", "weather_ct", "nas_ct", "security_ct",
                "late_aircraft_ct")
METRIC_FIELDS = PAYLOAD_FIELDS[6:]

# Dirty-body kinds, after the silver repair contract: trailing garbage
# is trimmed and kept; a non-numeric metric parses and casts to NULL
# (kept); the other four never parse and are dropped at the null-drop.
DIRTY_KEPT = ("trailing_garbage", "non_numeric")
DIRTY_DROPPED = ("truncated_prefix", "missing_close", "not_json",
                 "null_body")
DIRTY_KINDS = DIRTY_KEPT + DIRTY_DROPPED


@dataclass
class FlightFeed:
    """Generated feed: ``rows`` are the clean payload dicts (strings),
    ``bodies`` the envelope bodies in feed order (``None`` for a null
    body), ``dirty`` maps a row index to its dirty kind."""
    rows: list[dict[str, str]]
    bodies: list[bytes | None]
    dirty: dict[int, str]
    params: dict = field(default_factory=dict)

    @property
    def clean_idx(self) -> list[int]:
        return [i for i in range(len(self.rows)) if i not in self.dirty]

    @property
    def n_dropped(self) -> int:
        return sum(k in DIRTY_DROPPED for k in self.dirty.values())

    @property
    def input_bytes(self) -> int:
        return sum(len(b) for b in self.bodies if b is not None)

    def kept_rows(self) -> list[dict[str, str | None]]:
        """The rows silver must keep, with the values it must hold."""
        out = []
        for i, r in enumerate(self.rows):
            kind = self.dirty.get(i)
            if kind is None or kind == "trailing_garbage":
                out.append(r)
            elif kind == "non_numeric":
                out.append({**r, "arr_flights": None})
        return out


def _code(i: int, width: int) -> str:
    """Deterministic uppercase code: 0 -> 'AA', 1 -> 'AB', ..."""
    s = ""
    for _ in range(width):
        s = chr(ord("A") + i % 26) + s
        i //= 26
    return s


def body_of(row: dict[str, str]) -> bytes:
    """Compact JSON, the byte layout ``to_json(struct(*))`` produces."""
    return json.dumps(row, separators=(",", ":")).encode("utf-8")


def _dirty_body(row: dict[str, str], kind: str) -> bytes | None:
    full = body_of(row)
    if kind == "trailing_garbage":
        return full + b"\xff\xfeGARBAGE"
    if kind == "non_numeric":
        return body_of({**row, "arr_flights": "not_a_number"})
    if kind == "truncated_prefix":
        return full[:40]
    if kind == "missing_close":
        return full[:-1]
    if kind == "not_json":
        return b"plain text, no json here"
    return None


def flight_feed(seed: int, rows: int, carriers: int, airports: int,
                months: int, dirty_share: float, pareto_alpha: float,
                start_year: int = 2021) -> FlightFeed:
    """One row per (year, month, carrier, airport) cell.

    Carrier ``c`` serves ``k_c`` airports with ``k_c`` proportional to
    a Pareto(``pareto_alpha``) draw, rescaled so that the feed has
    exactly ``rows`` rows (``rows`` must be a multiple of ``months``);
    popular airports are picked first more often (Zipf weights)."""
    if rows % months:
        raise ValueError("rows must be a multiple of months")
    per_month = rows // months
    if not carriers <= per_month <= carriers * airports:
        raise ValueError("rows out of range for carriers x airports")
    rng = random.Random(seed)
    weights = [rng.paretovariate(pareto_alpha) for _ in range(carriers)]
    total = sum(weights)
    counts = [max(1, min(airports, int(per_month * w / total)))
              for w in weights]
    # hand out (or take back) the rounding remainder, largest first
    order = sorted(range(carriers), key=lambda c: -weights[c])
    while sum(counts) != per_month:
        step = 1 if sum(counts) < per_month else -1
        for c in order:
            if sum(counts) == per_month:
                break
            if 1 <= counts[c] + step <= airports:
                counts[c] += step

    # weighted sampling without replacement (Efraimidis-Spirakis keys
    # u ** (1 / w) with Zipf weights w = 1 / (rank + 1))
    served = []
    for c in range(carriers):
        keys = sorted(range(airports),
                      key=lambda a: -rng.random() ** (a + 1))
        served.append(sorted(keys[:counts[c]]))

    out: list[dict[str, str]] = []
    for m in range(months):
        year, month = start_year + m // 12, m % 12 + 1
        for c in range(carriers):
            for a in served[c]:
                flights = rng.randint(0, 500)
                del15 = rng.randint(0, flights) if flights else 0
                cts = [rng.randint(0, 100 * del15) / 100 for _ in range(5)]
                out.append({
                    "year": str(year), "month": str(month),
                    "carrier": _code(c, 2),
                    "carrier_name": f"Carrier {_code(c, 2)} Inc.",
                    "airport": _code(a, 3),
                    "airport_name": f"City {_code(a, 3)}, ST",
                    "arr_flights": f"{flights}.00",
                    "arr_del15": f"{del15}.00",
                    **{k: f"{v:.2f}" for k, v in zip(CAUSE_FIELDS, cts)},
                    "arr_cancelled": f"{rng.randint(0, 10)}.00",
                    "arr_diverted": f"{rng.randint(0, 5)}.00",
                    "arr_delay": f"{rng.randint(0, 30000)}.00",
                    "carrier_delay": f"{rng.randint(0, 10000)}.00",
                })
    n_dirty = round(dirty_share * rows)
    dirty_at = sorted(rng.sample(range(rows), n_dirty))
    # every kind at least once when there is room, then round-robin
    dirty = {i: DIRTY_KINDS[j % len(DIRTY_KINDS)]
             for j, i in enumerate(dirty_at)}
    bodies = [_dirty_body(r, dirty[i]) if i in dirty else body_of(r)
              for i, r in enumerate(out)]
    params = {"seed": seed, "rows": rows, "carriers": carriers,
              "airports": airports, "months": months,
              "dirty_share": dirty_share, "dirty_rows": n_dirty,
              "dropped_rows": sum(k in DIRTY_DROPPED
                                  for k in dirty.values()),
              "pareto_alpha": pareto_alpha,
              "carrier_airports": counts}
    return FlightFeed(out, bodies, dirty, params)


def expected_sums(rows: list[dict[str, str | None]]) -> dict[str, float]:
    """Python sums of every metric over ``rows`` (NULLs skipped), the
    reference totals the gold checks compare with."""
    sums = {}
    for f in METRIC_FIELDS:
        if f in INTEGRAL_FIELDS:
            sums[f] = float(sum(int(r[f][:-3]) for r in rows
                                if r[f] is not None))
        else:
            sums[f] = sum(float(r[f]) for r in rows if r[f] is not None)
    return sums


ENVELOPE_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def envelope_table(bodies: list[bytes | None], first_offset: int = 0):
    """Bodies -> a pyarrow table with the envelope-at-rest schema
    (``streaming.ingest.ENVELOPE_SCHEMA``)."""
    import pyarrow as pa
    n = len(bodies)
    offsets = list(range(first_offset, first_offset + n))
    return pa.table({
        "body": pa.array(bodies, pa.binary()),
        "partition": pa.array([str(o % 32) for o in offsets], pa.string()),
        "offset": pa.array(offsets, pa.int64()),
        "enqueued_at": pa.array(
            [ENVELOPE_EPOCH + dt.timedelta(seconds=o) for o in offsets],
            pa.timestamp("us", tz="UTC")),
    })


def land_backlog(feed: FlightFeed, drop_dir: str, files: int) -> dict:
    """Cut the feed's bodies into ``files`` envelope Parquet files in
    ``drop_dir`` (named so that lexical order is feed order)."""
    import pyarrow.parquet as pq
    os.makedirs(drop_dir, exist_ok=True)
    n = len(feed.bodies)
    per = -(-n // files)
    nbytes = 0
    for f in range(files):
        part = feed.bodies[f * per:(f + 1) * per]
        path = os.path.join(drop_dir, f"part-{f:05d}.parquet")
        pq.write_table(envelope_table(part, f * per), path)
        nbytes += os.path.getsize(path)
    return {"backlog_files": files, "backlog_bytes": nbytes,
            "rows_per_file": per}
