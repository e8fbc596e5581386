"""Seeded, vectorised generator for hourly raw flight drops and the two
flight dimensions.

A drop is one hour of radar positions shaped like ``schemas.FLIGHTS_RAW``
with the reference's awkward cases: about 10% of rows re-send an id with a
strictly later ``time`` (silver keeps the latest), about 3% of rows name an
airport or airline that is missing from the dimensions (the inner gold
joins drop them), and some airports carry junk countries (continent
"Unknown"). Because the generator knows which row wins each id, it returns
the exact silver and gold row counts the pipeline must report.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_AIRLINES = 400
N_AIRPORTS = 1500
DUP_SHARE = 0.10
MISS_SHARE = 0.01  # per code column: origin, destination, airline
EPOCH0 = 1713398400  # 2024-04-18 00:00:00 UTC, the first drop's hour

_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
_AIRCRAFT = np.array(
    ["A20N", "A21N", "A320", "A321", "A332", "A359", "AT76", "B38M",
     "B738", "B744", "B763", "B772", "B77W", "B789", "CRJ9", "E190", "E195"]
)
_COUNTRIES = np.array(
    ["France", "Germany", "Spain", "Italy", "United States", "Canada",
     "Brazil", "Argentina", "China", "Japan", "India", "Australia",
     "Nigeria", "Egypt", "Kenya", "Mexico", "Norway", "Chile"]
)


def _unique_codes(rng: np.random.Generator, n: int, length: int) -> np.ndarray:
    """n distinct uppercase codes of the given length, in random order."""
    codes = np.empty(0, dtype=f"<U{length}")
    while len(codes) < n:
        draw = rng.choice(_LETTERS, size=(2 * n, length))
        fresh = np.unique(np.array(["".join(r) for r in draw]))
        codes = np.unique(np.concatenate([codes, fresh]))
    return rng.permutation(codes)[:n]


@dataclass(frozen=True)
class Dimensions:
    airlines: list[tuple]  # (Name, ICAO)
    airports: list[tuple]  # (name, iata, latitude, longitude, country)
    icao: np.ndarray
    iata: np.ndarray


def dimensions(seed: int) -> Dimensions:
    """Airline and airport dimension rows, as the API clients return them."""
    rng = np.random.default_rng([seed, 0])
    icao = _unique_codes(rng, N_AIRLINES, 3)
    iata = _unique_codes(rng, N_AIRPORTS, 3)
    lat = rng.uniform(-60, 70, N_AIRPORTS).astype(np.float32)
    lon = rng.uniform(-180, 180, N_AIRPORTS).astype(np.float32)
    country = _COUNTRIES[rng.integers(0, len(_COUNTRIES), N_AIRPORTS)].astype(object)
    country[::41] = "Atlantis"  # junk country: continent lookup misses
    airlines = [(f"Airline {c}", str(c)) for c in icao]
    airports = [
        (f"Airport {c}", str(c), float(a), float(o), str(k))
        for c, a, o, k in zip(iata, lat, lon, country)
    ]
    return Dimensions(airlines, airports, icao, iata)


@dataclass(frozen=True)
class Drop:
    path: str
    raw_rows: int
    silver_rows: int
    gold_rows: int


def write_drop(seed: int, hour: int, rows: int, dims: Dimensions, path: str) -> Drop:
    """Write one hour of raw flights (``rows`` rows in total, re-sends
    included) to ``path`` as parquet and return its expected counts."""
    rng = np.random.default_rng([seed, 1, hour])
    n_dup = int(rows * DUP_SHARE)
    n = rows - n_dup
    start = EPOCH0 + 3600 * hour

    # ids unique within the drop and across drops: hour in the high bits
    ids = (np.int64(hour) << 32) | rng.choice(1 << 31, size=n, replace=False)
    t = start + rng.integers(0, 3000, n)
    src = rng.choice(n, size=n_dup, replace=False)
    ids = np.concatenate([ids, ids[src]])
    t = np.concatenate([t, t[src] + rng.integers(1, 600, n_dup)])  # later re-send
    total = n + n_dup

    def codes(pool: np.ndarray, miss: str) -> tuple[np.ndarray, np.ndarray]:
        idx = rng.integers(0, len(pool), total)
        hit = rng.random(total) >= MISS_SHARE
        return np.where(hit, pool[idx], miss), hit

    # miss codes carry a digit, so they can never name a generated code
    origin, origin_hit = codes(dims.iata, "XX1")
    dest, dest_hit = codes(dims.iata, "XX2")
    airline, airline_hit = codes(dims.icao, "ZZ9")

    order = rng.permutation(total)  # re-sends land anywhere in the file
    table = pa.table(
        {
            "id": np.char.mod("%012x", ids)[order],
            "aircraft_code": _AIRCRAFT[rng.integers(0, len(_AIRCRAFT), total)],
            "time": pa.array(t[order], pa.int32()),
            "latitude": rng.uniform(-60, 70, total).astype(np.float32),
            "longitude": rng.uniform(-180, 180, total).astype(np.float32),
            "origin_airport_iata": origin[order],
            "destination_airport_iata": dest[order],
            "number": np.char.mod("FL%04d", rng.integers(0, 10000, total)),
            "on_ground": pa.array(rng.integers(0, 2, total), pa.int32()),
            "airline_icao": airline[order],
        }
    )
    pq.write_table(table, path)

    # the latest row per id wins silver; it reaches gold when all three
    # of its codes hit the dimensions (the re-sends are the last n_dup rows)
    hit = origin_hit & dest_hit & airline_hit
    winner_hit = hit[:n].copy()
    winner_hit[src] = hit[n:]
    return Drop(path, total, n, int(winner_hit.sum()))
