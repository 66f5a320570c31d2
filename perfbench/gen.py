"""Deterministic input generator for the benchmark workloads.

Everything the engine receives is written here from one integer seed:
the seeded ``orders`` state, the pgoutput-JSON change files of the
streaming workload and the typed change batches of the read-side state
history. The same
seed gives byte-identical files; see ``test_gen.py``.

The change generator tracks which keys are alive, so every change has
one unambiguous meaning: ``u`` and ``d`` only hit live keys and ``c``
only creates dead or fresh ones. ``replay`` is the independent
latest-wins reference the correctness checks compare against.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_KEY = "o_orderkey"
# (name, pg type) of the replicated orders payload, in envelope order
ORDERS_PAYLOAD = (
    ("o_custkey", "bigint"),
    ("o_orderstatus", "text"),
    ("o_totalprice", "double precision"),
    ("o_orderpriority", "text"),
    ("o_orderdate", "date"),
)
PAYLOAD = [c for c, _ in ORDERS_PAYLOAD]
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0 = np.datetime64("1995-01-01", "D")


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer settings and no pandas metadata: identical bytes
    # for identical data
    pq.write_table(table, path, compression="snappy", store_schema=False)


# --- the orders change log ---------------------------------------------


@dataclass
class OrdersLog:
    """Replicated ``orders`` table: seed snapshot plus a change log.

    ``live`` maps key -> current payload tuple; every generated change
    is applied to it, so after generation it is the expected state."""

    seed: int
    n_keys: int
    zipf_a: float = 1.2
    lsn: int = 0
    live: dict = field(default_factory=dict)
    next_key: int = 0

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 2])
        # Zipf rank r maps to a fixed random permutation of the seeded
        # keys, so the hot keys are scattered over the buckets
        self.perm = self.rng.permutation(self.n_keys)
        self.next_key = self.n_keys

    def _payload(self) -> tuple:
        r = self.rng
        return (
            int(r.integers(0, 15_000)),
            STATUSES[int(r.integers(0, 3))],
            round(float(r.uniform(1000, 500_000)), 2),
            PRIORITIES[int(r.integers(0, 5))],
            str(_DAY0 + int(r.integers(0, 2404))),
        )

    def snapshot(self) -> pa.Table:
        """The seed state: every key 0..n_keys-1 alive, op ``r`` at lsn 0."""
        n, r = self.n_keys, self.rng
        cols = (
            r.integers(0, 15_000, n).tolist(),
            np.array(STATUSES)[r.integers(0, 3, n)].tolist(),
            np.round(r.uniform(1000, 500_000, n), 2).tolist(),
            np.array(PRIORITIES)[r.integers(0, 5, n)].tolist(),
            (_DAY0 + r.integers(0, 2404, n)).astype(str).tolist(),
        )
        self.live = dict(enumerate(zip(*cols)))
        return pa.table(
            {
                "op": pa.array(["r"] * n),
                "lsn": pa.array(np.zeros(n, np.int64)),
                ORDERS_KEY: pa.array(np.arange(n), pa.int64()),
                "o_custkey": pa.array(cols[0], pa.int64()),
                "o_orderstatus": pa.array(cols[1]),
                "o_totalprice": pa.array(cols[2], pa.float64()),
                "o_orderpriority": pa.array(cols[3]),
                "o_orderdate": pa.array(np.array(cols[4], dtype="datetime64[D]")),
            }
        )

    def _emit(self, op: str, key: int) -> dict:
        self.lsn += 1
        ch = {"op": op, "lsn": self.lsn, "key": key}
        if op == "d":
            self.live.pop(key)
        else:
            ch["after"] = self._payload()
            self.live[key] = ch["after"]
        return ch

    def batch(self, n: int, *, p_delete: float = 0.1, p_create: float = 0.1) -> list[dict]:
        """``n`` changes on Zipf-skewed keys: mostly ``u``, about
        ``p_delete`` ``d``, ``p_create`` fresh ``c``; a Zipf pick of a
        dead key re-creates it."""
        out = []
        r = self.rng
        for _ in range(n):
            u = r.random()
            if u < p_create:
                out.append(self._emit("c", self._fresh()))
                continue
            rank = int(r.zipf(self.zipf_a)) - 1
            key = int(self.perm[rank % self.n_keys])
            if key not in self.live:
                out.append(self._emit("c", key))
            elif u < p_create + p_delete:
                out.append(self._emit("d", key))
            else:
                out.append(self._emit("u", key))
        return out

    def inserts(self, n: int) -> list[dict]:
        """``n`` creates of never-seen keys: the pure-insert batch the
        ``insert_only`` apply contract requires."""
        return [self._emit("c", self._fresh()) for _ in range(n)]

    def _fresh(self) -> int:
        k = self.next_key
        self.next_key += 1
        return k


def pgoutput_lines(changes: list[dict]) -> str:
    """pgoutput-JSON envelope, one document per line (values as text,
    the way a logical-decoding plugin ships them)."""
    names = [ORDERS_KEY] + [c for c, _ in ORDERS_PAYLOAD]
    out = []
    for ch in changes:
        doc = {
            "op": ch["op"],
            "schema": "public",
            "table": "orders",
            "lsn": ch["lsn"],
            "tx_id": ch["lsn"],
        }
        if ch["op"] == "d":
            doc["key"] = {ORDERS_KEY: str(ch["key"])}
        else:
            vals = (ch["key"],) + ch["after"]
            doc["after"] = {n: str(v) for n, v in zip(names, vals)}
        out.append(json.dumps(doc, separators=(",", ":")))
    return "\n".join(out) + "\n"


def write_change_file(path: str, changes: list[dict], mtime: float) -> int:
    """Write one micro-batch file; ``mtime`` orders the file source
    (it admits files oldest first). Returns the bytes written."""
    data = pgoutput_lines(changes).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, (mtime, mtime))
    return len(data)


def typed_batch(changes: list[dict]) -> pa.Table:
    """The same changes as a typed frame (op, lsn, key, payload)."""
    rows = []
    for ch in changes:
        p = ch.get("after") or (None,) * len(ORDERS_PAYLOAD)
        rows.append((ch["op"], ch["lsn"], ch["key"]) + tuple(p))
    cols = list(zip(*rows))
    return pa.table(
        {
            "op": pa.array(cols[0]),
            "lsn": pa.array(cols[1], pa.int64()),
            ORDERS_KEY: pa.array(cols[2], pa.int64()),
            "o_custkey": pa.array(cols[3], pa.int64()),
            "o_orderstatus": pa.array(cols[4], pa.string()),
            "o_totalprice": pa.array(cols[5], pa.float64()),
            "o_orderpriority": pa.array(cols[6], pa.string()),
            "o_orderdate": pa.array(
                np.array([np.datetime64(d) if d else np.datetime64("NaT") for d in cols[7]],
                         dtype="datetime64[D]")
            ),
        }
    )


def replay(snapshot: pa.Table, batches: list[list[dict]]) -> dict:
    """Independent latest-wins replay: key -> payload tuple."""
    cols = snapshot.to_pydict()
    state = {
        k: (c, s, p, pr, str(d))
        for k, c, s, p, pr, d in zip(
            cols[ORDERS_KEY], cols["o_custkey"], cols["o_orderstatus"],
            cols["o_totalprice"], cols["o_orderpriority"], cols["o_orderdate"],
        )
    }
    for batch in batches:
        for ch in sorted(batch, key=lambda c: c["lsn"]):
            if ch["op"] == "d":
                state.pop(ch["key"], None)
            else:
                state[ch["key"]] = ch["after"]
    return state


def rows_to_state(pdf) -> dict:
    """A pandas frame of orders rows as the key -> payload map ``replay``
    returns, so engine output and replay compare with ``==``."""
    return {
        int(r[0]): (int(r[1]), r[2], float(r[3]), r[4], str(r[5]))
        for r in pdf[[ORDERS_KEY, *PAYLOAD]].itertuples(index=False)
    }


def write_snapshot(path: str, snapshot: pa.Table) -> None:
    _write_parquet(snapshot, path)


def write_typed(path: str, changes: list[dict]) -> None:
    _write_parquet(typed_batch(changes), path)
