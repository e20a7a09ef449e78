"""Seeded Cassandra 4.x snapshot generator with ground truth.

The export workload hands the engine only the files written here.  The
expected export contents are computed from the same Python rows, never by
reading the files back through the engine, so a decode or merge defect
shows up as a mismatch.

The table:

    CREATE TABLE bench.events (pk bigint, ck int, name text, score double,
                               n bigint, PRIMARY KEY (pk, ck))

Each generated file is one ``na`` SSTable generation written in one epoch.
Epoch 0 inserts fresh partitions.  A file of a later epoch upserts
``upsert_share`` of its rows (full rows, every column rewritten) over keys
written in earlier epochs, and inserts fresh partitions for the rest.
Writetimes grow strictly with the epoch and no key is written twice in one
epoch, so the last-write-wins survivor of every key is unambiguous.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta
from cassandra_snap_to_hadoop_spark.sources.sstable_na import write_na_data_db

KEYSPACE, TABLE, TAG = "bench", "events", "bench-snap"
SCHEMA_CQL = """CREATE TABLE bench.events (
    pk bigint,
    ck int,
    name text,
    score double,
    n bigint,
    PRIMARY KEY (pk, ck)
);"""
ROWS_PER_PARTITION = 8
NAME_LEN = 12  # hex characters
T0_US = 1_700_000_000_000_000  # writetime (micros) at the start of epoch 0
EPOCH_US = 1_000_000_000


@dataclass
class SnapshotFile:
    name: str  # Data.db basename
    epoch: int
    rows: list  # (pk, ck, name, score, n, writetime) tuples


def plan_files(
    seed: int, epochs: list[int], rows_per_file: int, upsert_share: float
) -> list[SnapshotFile]:
    """Draw every file's rows from ``seed``, one file per entry of the
    non-decreasing ``epochs`` list (pure Python, no I/O)."""
    if epochs != sorted(epochs):
        raise ValueError("epochs must not decrease")
    rng = random.Random(seed)
    next_pk = 0
    earlier: list[tuple[int, int]] = []  # keys written in finished epochs
    epoch_keys: list[tuple[int, int]] = []  # keys written in the current epoch
    touched: set[tuple[int, int]] = set()  # earlier keys upserted this epoch
    files = []
    for generation, epoch in enumerate(epochs, start=1):
        if generation == 1 or epoch != files[-1].epoch:
            earlier.extend(epoch_keys)
            epoch_keys, touched = [], set()
        n_up = int(rows_per_file * upsert_share) if earlier else 0
        pool = [k for k in earlier if k not in touched] if touched else earlier
        if n_up > len(pool):
            raise ValueError("not enough earlier keys to upsert")
        keys = rng.sample(pool, n_up)
        touched.update(keys)
        n_fresh = rows_per_file - n_up
        for _ in range(-(-n_fresh // ROWS_PER_PARTITION)):
            keys.extend((next_pk, ck) for ck in range(ROWS_PER_PARTITION))
            next_pk += 1
        del keys[rows_per_file:]
        epoch_keys.extend(keys[n_up:])
        base = T0_US + epoch * EPOCH_US
        rows = [
            (
                pk,
                ck,
                rng.getrandbits(NAME_LEN * 4).to_bytes(NAME_LEN // 2, "big").hex(),
                rng.random() * 1000.0,
                rng.getrandbits(40),
                base + rng.randrange(EPOCH_US),
            )
            for pk, ck in keys
        ]
        files.append(SnapshotFile(f"na-{generation}-big-Data.db", epoch, rows))
    return files


def _partitions(rows: list) -> list[dict]:
    """Group rows into the engine writers' partition vocabulary."""
    by_pk: dict[int, list] = {}
    for r in rows:
        by_pk.setdefault(r[0], []).append(r)
    return [
        {
            "key": (pk,),
            "deletion": None,
            "rows": [
                {
                    "clustering": (ck,),
                    "marker_ts": ts,
                    "cells": {
                        "name": ("live", ts, name),
                        "score": ("live", ts, score),
                        "n": ("live", ts, n),
                    },
                }
                for _pk, ck, name, score, n, ts in sorted(by_pk[pk], key=lambda r: r[1])
            ],
        }
        for pk in sorted(by_pk)
    ]


def snapshot_dir(root: str) -> str:
    return os.path.join(root, KEYSPACE, TABLE, "snapshots", TAG)


def write_snapshot(root: str, files: list[SnapshotFile]) -> list[str]:
    """Write ``schema.cql`` and every file (with its sidecars) under
    ``root`` in ``nodetool snapshot`` layout; returns the Data.db paths."""
    snap = snapshot_dir(root)
    os.makedirs(snap, exist_ok=True)
    with open(os.path.join(snap, "schema.cql"), "w") as fh:
        fh.write(SCHEMA_CQL)
    meta = parse_table_meta(SCHEMA_CQL)
    paths = []
    for f in files:
        paths.append(os.path.join(snap, f.name))
        write_na_data_db(paths[-1], _partitions(f.rows), meta)
    return paths


# ------------------------------------------------------------ ground truth

def raw_state(files: list[SnapshotFile]) -> list[tuple]:
    """Raw export: every row of every file, tagged with its file name —
    ``(file, pk, ck, name, score, n)``."""
    return [(f.name,) + r[:5] for f in files for r in f.rows]


def merged_state(files: list[SnapshotFile]) -> list[tuple]:
    """Last-write-wins state: per ``(pk, ck)`` the row with the greatest
    writetime — ``(pk, ck, name, score, n, writetime)``."""
    best: dict[tuple[int, int], tuple] = {}
    for f in files:
        for r in f.rows:
            cur = best.get(r[:2])
            if cur is None or r[5] > cur[5]:
                best[r[:2]] = r
    return list(best.values())


def state_digest(rows: list[tuple]) -> str:
    """Order-insensitive SHA-256 of a row multiset."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()
