"""The benchmark's fixtures: the repository's seed-42 test tables.

``perfbench/data/sf<N>/`` holds byte-identical copies of the driver's
fixture sets at sf0.001, sf0.01 and sf0.1 (TESTDATA.md), ten parquet
files each. ``DIGESTS`` pins each set's checksum, so a run refuses a
set that differs from the one the figures were taken on.
"""

from __future__ import annotations

import hashlib
import os
import shutil

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

DIGESTS = {
    0.001: "d2deb325a8b946f0ca2f78e42f253dae3384b37e3c9b905e9f4561328c2571d0",
    0.01: "04d178a3704ab9f4a4c44e34d8c8178cec82abc8f684071199bc9114801121fd",
    0.1: "20e3b74c8f50cb49c4e31e0dd0e0dc4b9f80941e9df6c366ec300f343487c90f",
}


def source(sf: float) -> str:
    """The fixture directory for ``sf``, after checking its checksum."""
    path = os.path.join(DATA, f"sf{sf:g}")
    got = checksum(path)
    if got != DIGESTS[sf]:
        raise RuntimeError(f"{path}: checksum {got} is not the pinned {DIGESTS[sf]}")
    return path


def checksum(sf_dir: str) -> str:
    """sha256 over every table file's name and bytes."""
    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def copy(src: str, dst: str) -> None:
    """Byte-identical copy of a fixture directory (fresh file identity:
    new path, new inode, new mtime)."""
    os.makedirs(dst)
    for name in TABLES:
        shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet"))
