"""Seeded input generator: folders of TEBIS wide-CSV files.

Everything here is a pure function of its ``seed`` argument, so two
runs with the same seed feed the engine byte-identical files.

TEBIS shape (FIXTURES.md §1): latin-1, ``;``-separated; row 1 is an
empty cell followed by ``external_id : name`` headers; row 2 is a units
row (``Zeitstempel;°C;bar;...``, some cells empty); rows 3+ are an
epoch-seconds timestamp and decimal-comma values, some empty and about
0.5% non-numeric.  Some external ids contain ``:`` so the last-colon
header split is exercised.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from pathlib import Path

UNITS = ["°C", "bar", "h", "mA", "G", "m³/h", "%", "kW", ""]
NAME_WORDS = ["Temperatur", "Druck", "Kühlwasser", "Durchfluß", "Zähler",
              "Motorstrom", "Ölstand", "Lüfter", "Pumpe", "Ventil"]
BAD_VALUES = ["n/a", "#WERT!", "--", "ERR", "1,2,3", "?"]

NULL_RATE = 0.02
BAD_RATE = 0.005
ID_COLON_RATE = 0.3
NEW_SERIES_RATE = 0.03

# Epoch-second origin of every generated folder (2019-02-13, the
# reference fixtures' era); files occupy disjoint time slots after it.
BASE_TS = 1550000000


@dataclass(frozen=True)
class Series:
    external_id: str
    name: str
    unit: str


def _series(rng: random.Random, tag: str) -> Series:
    if rng.random() < ID_COLON_RATE:
        ext = f"FK:L{rng.randint(1, 9)}:{tag}"
    else:
        ext = f"FK_{tag}"
    name = f"{rng.choice(NAME_WORDS)} {rng.choice(NAME_WORDS)} {tag[-3:]}"
    return Series(ext, name, rng.choice(UNITS))


def make_plant(seed: int, n_series: int) -> list[Series]:
    """The plant: a fixed set of series that files draw their columns from."""
    rng = random.Random(f"plant-{seed}")
    return [_series(rng, f"T{i:05d}") for i in range(n_series)]


def _value(rng: random.Random) -> str:
    r = rng.random()
    if r < NULL_RATE:
        return ""
    if r < NULL_RATE + BAD_RATE:
        return rng.choice(BAD_VALUES)
    return f"{rng.uniform(-50.0, 950.0):.{rng.randint(1, 6)}f}".replace(".", ",")


def tebis_text(rng: random.Random, columns: list[Series], start_ts: int,
               n_rows: int) -> str:
    """One TEBIS file's text: header row, units row, ``n_rows`` samples
    at 1 s cadence from ``start_ts``."""
    lines = [";" + ";".join(f"{s.external_id} : {s.name}" for s in columns),
             "Zeitstempel;" + ";".join(s.unit for s in columns)]
    for t in range(start_ts, start_ts + n_rows):
        lines.append(f"{t};" + ";".join(_value(rng) for _ in columns))
    return "\r\n".join(lines) + "\r\n"


def write_tebis_folder(
    folder: Path,
    seed: int,
    plant: list[Series],
    n_files: int,
    width: tuple[int, int],
    n_rows: int,
    slot_s: int,
    span_s: int,
    mtime: float | None = None,
) -> list[Path]:
    """Write ``n_files`` TEBIS files into ``folder`` and return their paths.

    File widths are spread evenly over ``width`` (an inclusive range) and
    shuffled, so every seed writes the same number of columns.  Columns are
    plant series, each replaced with probability ``NEW_SERIES_RATE`` by a
    series no other file has.  File start times are distinct multiples of
    ``slot_s`` within ``span_s`` seconds after ``BASE_TS``, so no two
    files overlap in time.  ``mtime`` (epoch seconds) backdates every
    file when given.
    """
    rng = random.Random(f"files-{seed}-")
    folder.mkdir(parents=True, exist_ok=True)
    slots = rng.sample(range(span_s // slot_s), n_files)
    lo, hi = width
    widths = [lo + (hi - lo) * i // max(n_files - 1, 1) for i in range(n_files)]
    rng.shuffle(widths)
    paths = []
    for i, slot in enumerate(slots):
        start = BASE_TS + slot * slot_s
        cols = rng.sample(plant, widths[i])
        cols = [_series(rng, f"N{i:04d}{j:02d}")
                if rng.random() < NEW_SERIES_RATE else s
                for j, s in enumerate(cols)]
        path = folder / f"TEBIS_FK_{start}.csv"
        with open(path, "w", encoding="latin-1", newline="") as f:
            f.write(tebis_text(rng, cols, start, n_rows))
        if mtime is not None:
            os.utime(path, (mtime, mtime))
        paths.append(path)
    return sorted(paths)

