"""Seeded inputs: the four raw DAG1 sources and the serving request mix.

The same seed gives byte-identical files. The fixture generator stamps
the wall-clock time into each xlsx zip entry, so the xlsx is re-packed
with a fixed entry time after it is written.
"""

from __future__ import annotations

import random
import zipfile
from pathlib import Path

LIMITS = (10, 100, 1000)
FIXED_ZIP_TIME = (1980, 1, 1, 0, 0, 0)


def _repack_with_fixed_time(path: Path) -> None:
    with zipfile.ZipFile(path) as zf:
        members = [(info, zf.read(info)) for info in zf.infolist()]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for info, data in members:
            fixed = zipfile.ZipInfo(info.filename, date_time=FIXED_ZIP_TIME)
            fixed.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(fixed, data)


def make_raw_sources(dirpath: str | Path, seed: int) -> dict[str, str]:
    """The four raw sources at the fixture generator's default size,
    as EconomicsETL keyword arguments."""
    from tests.fixtures_gen import generate_all

    paths = generate_all(dirpath, seed=seed)
    _repack_with_fixed_time(Path(paths["unemployment_xlsx"]))
    return paths


def request_mix(tables: list[str], seed: int) -> list[tuple[str, int]]:
    """Every (table, limit) pair once, in a seed-shuffled order."""
    mix = [(t, n) for t in sorted(tables) for n in LIMITS]
    random.Random(seed).shuffle(mix)
    return mix
