"""The input generator is a pure function of its seed.

Run with ``python3 -m pytest perfbench/test_gen.py -q`` from the root.
"""

from __future__ import annotations

import hashlib
import os

from perfbench import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict[str, str]:
    os.makedirs(root)
    log = gen.OrdersLog(seed, 5_000)
    gen.write_snapshot(os.path.join(root, "seed.parquet"), log.snapshot())
    for i in range(4):
        gen.write_change_file(os.path.join(root, f"b{i}.json"), log.batch(32), 1.0e9 + i)
    gen.write_typed(os.path.join(root, "ins.parquet"), log.inserts(50))
    return _digest(root)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    b = _generate(str(tmp_path / "b"), 7)
    assert a == b
    assert len(a) == 6  # the seed, four change files, inserts


def test_other_seed_gives_other_inputs(tmp_path):
    a = _generate(str(tmp_path / "a"), 7)
    c = _generate(str(tmp_path / "c"), 8)
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_replay_follows_latest_wins(tmp_path):
    log = gen.OrdersLog(3, 200, zipf_a=1.5)
    snap = log.snapshot()
    batches = [log.batch(64) for _ in range(5)] + [log.inserts(10)]
    # the generator tracks the live keys as it emits; the independent
    # replay of what it emitted must agree with that
    assert gen.replay(snap, batches) == log.live
    ops = [c["op"] for b in batches for c in b]
    assert {"c", "u", "d"} <= set(ops)
    lsns = [c["lsn"] for b in batches for c in b]
    assert lsns == sorted(lsns) and len(set(lsns)) == len(lsns)
