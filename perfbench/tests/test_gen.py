"""Tests for the benchmark's own generator and naming.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import run  # noqa: E402

EPOCHS = [0, 0, 1, 2]


def _snapshot_bytes(root):
    snap = gen.snapshot_dir(root)
    out = {}
    for name in sorted(os.listdir(snap)):
        with open(os.path.join(snap, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_same_bytes_and_digest(tmp_path):
    a = gen.plan_files(7, EPOCHS, 64, 0.5)
    b = gen.plan_files(7, EPOCHS, 64, 0.5)
    gen.write_snapshot(str(tmp_path / "a"), a)
    gen.write_snapshot(str(tmp_path / "b"), b)
    got_a = _snapshot_bytes(str(tmp_path / "a"))
    assert got_a == _snapshot_bytes(str(tmp_path / "b"))
    assert sum(n.endswith("-Data.db") for n in got_a) == len(EPOCHS)
    assert gen.state_digest(gen.raw_state(a)) == gen.state_digest(gen.raw_state(b))
    assert gen.state_digest(gen.merged_state(a)) == gen.state_digest(gen.merged_state(b))


def test_other_seed_other_bytes(tmp_path):
    gen.write_snapshot(str(tmp_path / "a"), gen.plan_files(7, EPOCHS, 64, 0.5))
    gen.write_snapshot(str(tmp_path / "b"), gen.plan_files(8, EPOCHS, 64, 0.5))
    assert _snapshot_bytes(str(tmp_path / "a")) != _snapshot_bytes(str(tmp_path / "b"))


def test_layout_shapes():
    files = gen.plan_files(3, EPOCHS, 40, 0.25)
    assert [len(f.rows) for f in files] == [40] * len(EPOCHS)
    for f in files:
        keys = [r[:2] for r in f.rows]
        assert len(keys) == len(set(keys)), "a key twice in one file"
    # epoch 0 only inserts; a later file upserts exactly the configured share
    epoch0 = {r[:2] for f in files[:2] for r in f.rows}
    assert len(epoch0) == 80
    assert sum(r[:2] in epoch0 for r in files[2].rows) == 10
    # no key is written twice within one epoch, and writetimes grow with it
    assert max(r[5] for r in files[1].rows) < min(r[5] for r in files[2].rows)


def _mk(name, epoch, rows):
    return gen.SnapshotFile(name, epoch, rows)


def test_merged_state_hand_computed_three_generations():
    g1 = _mk("na-1-big-Data.db", 0, [
        (1, 0, "a", 1.0, 10, 100),
        (1, 1, "b", 2.0, 20, 100),
        (2, 0, "c", 3.0, 30, 100),
    ])
    g2 = _mk("na-2-big-Data.db", 1, [
        (1, 1, "B", 2.5, 21, 200),  # upsert wins over g1
        (3, 0, "d", 4.0, 40, 200),  # fresh key
    ])
    g3 = _mk("na-3-big-Data.db", 2, [
        (1, 1, "BB", 2.75, 22, 300),  # wins over g2
        (2, 0, "C", 3.5, 31, 50),  # older writetime: loses to g1
    ])
    want = sorted([
        (1, 0, "a", 1.0, 10, 100),
        (1, 1, "BB", 2.75, 22, 300),
        (2, 0, "c", 3.0, 30, 100),
        (3, 0, "d", 4.0, 40, 200),
    ])
    assert sorted(gen.merged_state([g1, g2, g3])) == want
    assert sorted(gen.merged_state([g3, g1, g2])) == want  # file order is irrelevant
    raw = gen.raw_state([g1, g2, g3])
    assert len(raw) == 7
    assert ("na-3-big-Data.db", 2, 0, "C", 3.5, 31) in raw


def test_last_epoch_always_survives():
    files = gen.plan_files(11, EPOCHS, 48, 0.5)
    merged = {r[:2]: r for r in gen.merged_state(files)}
    for r in files[-1].rows:
        assert merged[r[:2]] == r


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_and_workload_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
