"""Seeded input generator for the lakehouse benchmark.

Every workload's inputs are made here from `--seed` alone and written as
zstd parquet before any timing starts, so the engine only ever sees
generated files. The same seed and sizes give byte-identical inputs.

Run on its own to inspect a workload's inputs:

    python3 perfbench/gen.py --workload ingest --seed 1 --out inputs
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. "tiny" is the smoke-test scale: it also fixes
# the number of batches and point keys, so a tiny run ends when its inputs
# run out and repeats the same operations on every run of one seed.
SIZES = {
    "full": {
        "ingest_seed": 10_000, "ingest_batch": 2_000, "parts": 4,
        "mor_seed": 20_000, "mor_run": 5_000, "mor_runs": 2,
        "mor_points": 1_000,
        "dedup_corpus": 2_000, "dedup_batch": 200, "dedup_words": 40,
        "dedup_vocab": 3_000,
    },
    "tiny": {
        "ingest_seed": 400, "ingest_batch": 100, "parts": 4,
        "mor_seed": 400, "mor_run": 100, "mor_runs": 2,
        "mor_points": 9,
        "dedup_corpus": 60, "dedup_batch": 20, "dedup_words": 20,
        "dedup_vocab": 400, "batches": {"ingest": 4, "query": 2},
    },
}

# Shares of each ingest batch: updates skewed toward recently inserted
# keys, fresh inserts, and deletes sent as rowkind "-D" rows.
INGEST_MIX = (0.75, 0.20, 0.05)
MOR_DELETE_SHARE = 0.03
# An update picks the key i places from the newest with weight
# exp(-i / (live * RECENCY)): the newest fifth of keys takes about half
# of the updates.
RECENCY = 0.25
# Planted near-duplicates per dedup batch: copies of a corpus document
# and copies of another document of the same batch, each with one word
# replaced.
DEDUP_PLANT_CORPUS = 0.10
DEDUP_PLANT_BATCH = 0.03
PK_FIELDS = [("pt", pa.int32()), ("k", pa.int64()), ("v", pa.int64()),
             ("s", pa.string()), ("b", pa.int32()), ("rk", pa.string())]
PK_SCHEMA = pa.schema(PK_FIELDS)
DOC_SCHEMA = pa.schema([("id", pa.int64()), ("text", pa.string())])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)


def _pk_rows(rng, keys, kinds, b, parts) -> pa.Table:
    order = rng.permutation(len(keys))
    keys, kinds = keys[order], kinds[order]
    v = rng.integers(0, 1 << 31, len(keys), dtype=np.int64)
    s = np.char.mod("%012x", rng.integers(0, 1 << 48, len(keys),
                                          dtype=np.int64))
    return pa.table([pa.array((keys % parts).astype(np.int32)),
                     pa.array(keys), pa.array(v), pa.array(s.tolist()),
                     pa.array(np.full(len(keys), b, dtype=np.int32)),
                     pa.array(kinds.tolist())], schema=PK_SCHEMA)


def _recent_sample(rng, n_live: int, k: int) -> np.ndarray:
    """k distinct positions in an insertion-ordered key array, weighted
    toward the newest (Gumbel top-k: exact weighted sampling without
    replacement)."""
    age = np.arange(n_live - 1, -1, -1, dtype=np.float64)
    score = -age / (n_live * RECENCY) - np.log(-np.log(rng.random(n_live)))
    return np.argpartition(-score, k - 1)[:k]


class _KeySpace:
    """Live keys in insertion order, for generating upsert batches."""

    def __init__(self, n: int):
        self.live = np.arange(n, dtype=np.int64)
        self.next = n

    def batch(self, rng, size, mix):
        n_upd = int(size * mix[0])
        n_ins = int(size * mix[1])
        n_del = size - n_upd - n_ins
        n = len(self.live)
        upd = _recent_sample(rng, n, n_upd)
        rest = np.setdiff1d(np.arange(n), upd, assume_unique=True)
        dele = rng.choice(rest, n_del, replace=False)
        ins = np.arange(self.next, self.next + n_ins, dtype=np.int64)
        self.next += n_ins
        keys = np.concatenate([self.live[upd], ins, self.live[dele]])
        kinds = np.array(["+U"] * n_upd + ["+I"] * n_ins + ["-D"] * n_del)
        skew = float(np.mean(upd >= n - max(1, n // 5)))
        self.live = np.concatenate([np.delete(self.live, dele), ins])
        return keys, kinds, skew


def _seed_table(rng, n, parts) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return _pk_rows(rng, keys, np.array(["+I"] * n), 0, parts)


def _doc(rng, words, vocab) -> list[str]:
    return [f"w{w}" for w in rng.integers(0, vocab, words)]


def _mutate(rng, doc: list[str], vocab) -> str:
    out = list(doc)
    out[int(rng.integers(0, len(out)))] = f"x{int(rng.integers(0, vocab))}"
    return " ".join(out)


def generate(workload: str, seed: int, out: str, batches: int,
             scale: str = "full") -> dict:
    """Write `workload`'s inputs under `out`; return a manifest with the
    file lists and the input statistics the result reports."""
    z = SIZES[scale]
    rng = np.random.default_rng([seed] + [ord(c) for c in workload])
    os.makedirs(out, exist_ok=True)
    files: dict[str, list] = {}
    stats: dict = {}

    def emit(kind, table, name):
        path = os.path.join(out, name)
        files.setdefault(kind, []).append(
            {"path": path, "rows": table.num_rows,
             "bytes": _write(table, path)})

    parts = z["parts"]
    if workload == "ingest":
        emit("seed", _seed_table(rng, z["ingest_seed"], parts), "seed.parquet")
        ks, skews = _KeySpace(z["ingest_seed"]), []
        for b in range(1, batches + 1):
            keys, kinds, skew = ks.batch(rng, z["ingest_batch"], INGEST_MIX)
            skews.append(skew)
            emit("batch", _pk_rows(rng, keys, kinds, b, parts),
                 f"batch-{b:04d}.parquet")
        stats = {"update_share": INGEST_MIX[0],
                 "insert_share": INGEST_MIX[1],
                 "delete_share": INGEST_MIX[2],
                 "updates_in_newest_fifth": round(float(np.mean(skews)), 4)}
    elif workload == "query":
        n = z["mor_seed"]
        emit("run", _seed_table(rng, n, parts), "seed.parquet")
        live = np.arange(n, dtype=np.int64)
        for r in range(1, z["mor_runs"] + 1):
            pick = rng.choice(len(live), z["mor_run"], replace=False)
            n_del = int(z["mor_run"] * MOR_DELETE_SHARE)
            kinds = np.array(["-D"] * n_del + ["+U"] * (len(pick) - n_del))
            keys = live[pick]
            emit("run", _pk_rows(rng, keys, kinds, r, parts),
                 f"run-{r:04d}.parquet")
            live = np.setdiff1d(live, keys[:n_del])
        points = rng.choice(n, min(z["mor_points"], n), replace=False)
        emit("points", pa.table({"k": pa.array(points.astype(np.int64))}),
             "points.parquet")
        words, vocab = z["dedup_words"], z["dedup_vocab"]
        corpus = [_doc(rng, words, vocab) for _ in range(z["dedup_corpus"])]
        emit("corpus", pa.table(
            {"id": pa.array(np.arange(len(corpus), dtype=np.int64)),
             "text": pa.array([" ".join(d) for d in corpus])},
            schema=DOC_SCHEMA), "corpus.parquet")
        planted = []
        for b in range(1, batches + 1):
            base = 1_000_000 * b
            docs = [_doc(rng, words, vocab) for _ in range(z["dedup_batch"])]
            texts = [" ".join(d) for d in docs]
            n_c = int(len(docs) * DEDUP_PLANT_CORPUS)
            n_b = int(len(docs) * DEDUP_PLANT_BATCH)
            slots = rng.choice(len(docs), n_c + n_b, replace=False)
            for slot in slots[:n_c]:
                src = int(rng.integers(0, len(corpus)))
                texts[slot] = _mutate(rng, corpus[src], vocab)
                planted.append([base + int(slot), src])
            originals = np.setdiff1d(np.arange(len(docs)), slots)
            for slot in slots[n_c:]:
                src = int(rng.choice(originals))
                texts[slot] = _mutate(rng, docs[src], vocab)
                planted.append([base + int(slot), base + src])
            emit("docs", pa.table(
                {"id": pa.array(base + np.arange(len(docs), dtype=np.int64)),
                 "text": pa.array(texts)}, schema=DOC_SCHEMA),
                f"docs-{b:04d}.parquet")
        stats = {"update_share": 1 - MOR_DELETE_SHARE, "insert_share": 0.0,
                 "delete_share": MOR_DELETE_SHARE, "point_keys": len(points),
                 "planted_pairs": len(planted)}
        with open(os.path.join(out, "planted.json"), "w") as f:
            json.dump(planted, f)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    every = [f for fs in files.values() for f in fs]
    return {"workload": workload, "seed": seed, "scale": scale,
            "files": files, "rows": sum(f["rows"] for f in every),
            "bytes": sum(f["bytes"] for f in every), **stats}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    man = generate(a.workload, a.seed, a.out, a.batches, a.scale)
    print(json.dumps({k: v for k, v in man.items() if k != "files"}))


if __name__ == "__main__":
    main()
