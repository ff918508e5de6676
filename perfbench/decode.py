"""Independent pure-Python decode of TEBIS files, and the checks built on it.

The decode applies the reference extractor's rules directly, sharing no
code with the engine: split each header on its last ``:``, replace
decimal commas, skip empty or unparseable values, and multiply the
epoch-second timestamp by 1000.  The first row holds the headers; rows
without an integer timestamp (the units row) are skipped.

Checks compare per-series summaries, so a wrong, missing or duplicated
datapoint anywhere shows as a mismatch in its series.
"""

from __future__ import annotations

import csv
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# Values carry at most six decimals, so ``round(value * 1e6)`` is exact
# and a sum of those integers is a checksum independent of order.
SCALE = 10**6


def scaled(value: float) -> int:
    return round(value * SCALE)


@dataclass
class SeriesSummary:
    """Order-independent summary of one series' datapoints."""

    name: str = ""
    count: int = 0
    ts_sum: int = 0
    value_sum: int = 0

    def add(self, ts_ms: int, value: float) -> None:
        self.count += 1
        self.ts_sum += ts_ms
        self.value_sum += scaled(value)

    def key(self) -> tuple:
        return (self.count, self.ts_sum, self.value_sum)


@dataclass
class Decoded:
    """Expected ingest outcome of a set of files."""

    series: dict[str, SeriesSummary] = field(
        default_factory=lambda: defaultdict(SeriesSummary))
    files: int = 0

    @property
    def datapoints(self) -> int:
        return sum(s.count for s in self.series.values())


def split_header(cell: str) -> tuple[str, str]:
    ext, _, name = cell.rpartition(":")
    return ext.strip(), name.strip()


def parse_value(raw: str) -> float | None:
    try:
        return float(raw.replace(",", "."))
    except ValueError:
        return None


def datapoints(path: Path):
    """Yield ``(external_id, name, ts_ms, value)`` for each valid cell."""
    with open(path, encoding="latin-1", newline="") as f:
        rows = list(csv.reader(f, delimiter=";"))
    headers = [split_header(c) for c in rows[0][1:]]
    for row in rows[1:]:
        try:
            ts_ms = int(row[0]) * 1000
        except ValueError:
            continue
        for (ext, name), raw in zip(headers, row[1:]):
            value = parse_value(raw) if raw else None
            if value is not None:
                yield ext, name, ts_ms, value


def decode_file(path: Path, out: Decoded) -> None:
    """Add one file's datapoints to ``out``."""
    out.files += 1
    for ext, name, ts_ms, value in datapoints(path):
        s = out.series[ext]
        # The catalog keeps the smallest name seen for a series.
        s.name = name if not s.count or name < s.name else s.name
        s.add(ts_ms, value)


def decode(paths) -> Decoded:
    out = Decoded()
    for p in paths:
        decode_file(Path(p), out)
    return out


def series_mismatches(expected: Decoded, got: dict[str, tuple]) -> list[str]:
    """External ids whose ``(count, ts_sum, value_sum)`` differ between
    the expectation and ``got`` (a map from external id to that triple)."""
    want = {k: s.key() for k, s in expected.series.items()}
    return sorted(k for k in want.keys() | got.keys() if want.get(k) != got.get(k))

