"""Reference models the benchmark checks the engine's outputs against.

They are computed by the benchmark from its own generated inputs, in
plain Python, outside every timed region.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


class LwwModel:
    """Last-write-wins primary-key state with deletes: a later batch's
    row replaces the earlier row of its key, a "-D" row removes it."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}     # k -> (pt, k, v, s, b)

    def apply(self, path: str) -> None:
        t = pq.read_table(path).to_pydict()
        for pt, k, v, s, b, rk in zip(t["pt"], t["k"], t["v"], t["s"],
                                      t["b"], t["rk"]):
            if rk == "-D":
                self.rows.pop(k, None)
            else:
                self.rows[k] = (pt, k, v, s, b)

    def get(self, k: int) -> tuple | None:
        return self.rows.get(k)

    def aggregate(self, keep=None) -> tuple[int, int, int]:
        """(count, sum(v), sum(k xor v)) over the rows `keep` accepts."""
        n = sv = sx = 0
        for r in self.rows.values():
            if keep is None or keep(r):
                n += 1
                sv += r[2]
                sx += r[1] ^ r[2]
        return n, sv, sx

    def to_arrow(self) -> pa.Table:
        cols = list(zip(*self.rows.values())) or [(), (), (), (), ()]
        return pa.table({"pt": pa.array(cols[0], pa.int32()),
                         "k": pa.array(cols[1], pa.int64()),
                         "v": pa.array(cols[2], pa.int64()),
                         "s": pa.array(cols[3], pa.string()),
                         "b": pa.array(cols[4], pa.int32())})


def replay_changelog(rows) -> dict[int, tuple]:
    """State a subscriber rebuilds from a consumed changelog.

    Rows arrive unordered across and within micro-batches, so order comes
    from the data: each row version carries the batch `b` that wrote it.
    A key's state is its newest +I/+U version, unless a -D retracts
    exactly that version (a -U always retracts an older version than the
    +U it pairs with)."""
    latest: dict[int, tuple] = {}
    retracted: set[tuple] = set()
    for r in rows:
        kind, rec = r[-1], tuple(r[:-1])
        if kind in ("+I", "+U"):
            cur = latest.get(rec[1])
            if cur is None or rec[4] > cur[4]:
                latest[rec[1]] = rec
        elif kind == "-D":
            retracted.add(rec)
    return {k: rec for k, rec in latest.items() if rec not in retracted}


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles exactly as the engine's dedup functions build
    them: lowercase alphanumeric tokens, the whole text if shorter."""
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    return {" ".join(toks[i:i + n])
            for i in range(max(len(toks) - (n - 1), 1))}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0
