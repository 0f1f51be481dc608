"""The benchmark's workloads.

Each workload builds its tables from generated parquet (set-up), runs
untimed warm-up operations of the same shape as its timed ones, runs its
timed phase as a closed loop with one client, and finally checks every
result against a reference model from `model.py`. Its operations fall
into three classes, reported as `op_*`, `op2_*` and `op3_*`:

    ingest  op  = one upsert commit: stage + commit, post-commit
                  changelog production included
            op2 = freshness: commit start -> its rows seen by the
                  changelog subscriber
            op3 = the full compaction that closes the phase (minor
                  compactions run every few commits inside it)
    query   op  = a point lookup on a distinct key (misses the read cache)
            op2 = one round of a fixed set of repeating merged
                  aggregates (they fit the read cache)
            op3 = a near-duplicate candidate query of a new document
                  batch against the persisted MinHash index
"""

from __future__ import annotations

import json
import logging
import math
import os
import statistics
import threading
import time
import traceback

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paimon_spark import P, Table
from perfbench import model
from perfbench.trace import exchanges

log = logging.getLogger("perfbench")

PK_STRUCT = T.StructType([T.StructField("pt", T.IntegerType()),
                          T.StructField("k", T.LongType()),
                          T.StructField("v", T.LongType()),
                          T.StructField("s", T.StringType()),
                          T.StructField("b", T.IntegerType())])
PK_INPUT = T.StructType(PK_STRUCT.fields
                        + [T.StructField("rk", T.StringType())])
DOC_STRUCT = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("text", T.StringType())])

INGEST_COMPACT_EVERY = 3       # commits between minor compactions
INGEST_WARMUP = 1
STREAM_TIMEOUT_S = 60.0
# op = point lookup, op2 = aggregate, op3 = dedup candidate query
QUERY_CYCLE = ("op", "op", "op", "op", "op2", "op3")
QUERY_WARMUP_POINTS = 2
DEDUP_JACCARD = 0.5


def batches_needed(workload: str, seconds: float) -> int:
    """Input batches to generate: enough for the fastest plausible
    closed loop, plus warm-up."""
    if workload == "ingest":
        return INGEST_WARMUP + math.ceil(seconds / 0.3) + 1
    return 2 + math.ceil(seconds / 1.0)


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the median when the sample is too small."""
    n = len(xs)
    if n < 20:
        return 50.0, (statistics.median(xs) if xs else 0.0)
    q = math.floor(100.0 * (1 - 10 / n))
    return float(q), sorted(xs)[math.ceil(q / 100 * n) - 1]


class Workload:
    name = ""

    def __init__(self, spark, tracer, manifest: dict, tmp: str,
                 seconds: float, trace: bool):
        self.spark = spark
        self.tr = tracer
        self.files = manifest["files"]
        self.tmp = tmp
        self.seconds = seconds
        self.trace = trace
        self.lat: dict[str, list[float]] = {"op": [], "op2": [], "op3": []}
        self.overhead: dict[bool, list[float]] = {True: [], False: []}
        self.extra: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.rows = 0                  # rows the timed phase processed
        self.busy_s = 0.0              # time the timed phase spent in ops
        self.stage_bytes = 0           # data-file bytes staged
        self.compact_bytes = 0         # data-file bytes compaction wrote
        self.input_bytes = 0           # parquet bytes of committed inputs
        self._n = 0
        self._n_cls: dict[str | None, int] = {}
        self.traced_now = False
        # latencies as multiples of the controls bracketing them (relate)
        self.rel: dict[str, list[float]] = {"op": [], "op2": [], "op3": []}
        self.control_s: list[float] = []
        self._prev_ctl = 0.0

    # ---- operation helpers ------------------------------------------

    def run_op(self, cls: str | None, name: str, fn):
        """One operation. A timed one (cls set) records its latency;
        an exception counts as a failed operation. In a traced run every
        other timed operation of each class runs untraced, for the
        overhead estimate."""
        self._n += 1
        self._n_cls[cls] = self._n_cls.get(cls, 0) + 1
        traced = self.trace and (cls is None or self._n_cls[cls] % 2 == 1)
        self.traced_now = traced
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.op(name, self._n, traced):
                out = fn()
        except Exception:                              # noqa: BLE001
            self.failed += 1
            log.error("operation %s failed:\n%s", name,
                      traceback.format_exc())
            return None
        dt = time.perf_counter() - t0
        if cls is not None:
            self.lat[cls].append(dt)
            if cls == "op" and self.trace:
                self.overhead[traced].append(dt)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.mismatches.append(what)
            log.error("mismatch: %s", what)

    def note(self, key: str, value: float) -> None:
        """A per-layer sample; in a traced run, from traced ops only."""
        if self.traced_now or not self.trace:
            self.extra.setdefault(key, []).append(value)

    def input_df(self, f: dict, struct=PK_INPUT):
        return self.spark.read.schema(struct).parquet(f["path"])

    def write(self, t: Table, df, input_bytes: int) -> list:
        """stage + commit, the two halves of Table.append, each in its
        own layer span."""
        w = t.writer()
        with self.tr.span("writer.stage", "stage") as a:
            entries = w.stage(df)
            a["files"] = len(entries)
            a["bytes"] = sum(e.file_size for e in entries)
        with self.tr.span("writer.commit", "commit") as a:
            w.commit(entries)
            if self.traced_now:
                a["manifests"] = len(t.paths.latest_snapshot().manifests)
        self.stage_bytes += sum(e.file_size for e in entries)
        self.input_bytes += input_bytes
        return entries

    @staticmethod
    def live(t: Table) -> dict:
        snap = t.paths.latest_snapshot()
        return ({e.file_path: e.file_size for e in t.paths.live_entries(snap)}
                if snap else {})

    def compact(self, t: Table, full: bool) -> dict:
        """One compaction call; returns the data files it added."""
        before = self.live(t)
        name = "compact.full" if full else "compact.minor"
        with self.tr.span("compaction", name) as a:
            t.compact(full=full)
            after = self.live(t)
            added = {p: s for p, s in after.items() if p not in before}
            a.update(files_in=len([p for p in before if p not in after]),
                     files_out=len(added),
                     bytes_rewritten=sum(added.values()))
        self.compact_bytes += sum(added.values())
        return added

    def space_amp(self, tables) -> float:
        """Live data-file bytes over the final state written once as
        zstd parquet, summed over (table, reference rows) pairs."""
        live = ref = 0
        for i, (t, rows) in enumerate(tables):
            path = os.path.join(self.tmp, f"reference-{i}.parquet")
            pq.write_table(rows, path, compression="zstd")
            live += sum(self.live(t).values())
            ref += os.path.getsize(path)
        return live / ref

    def full_read_check(self, t: Table, m: model.LwwModel) -> None:
        """An untimed full read, compared row by row with the model."""
        def read_all():
            got = t.read().select("pt", "k", "v", "s", "b").toArrow()
            return {r[1]: r for r in zip(*(got.column(c).to_pylist()
                                           for c in got.column_names))}
        got = self.run_op(None, "verify.full_read", read_all)
        if got is not None:
            want = m.rows
            self.check(len(got) == len(want),
                       f"full read has {len(got)} rows, model {len(want)}")
            bad = sum(1 for k, r in want.items() if got.get(k) != r)
            self.check(bad == 0, f"full read differs from model on {bad} keys")

    def pk_table(self, name: str, options: dict) -> Table:
        return Table.create(
            os.path.join(self.tmp, name), PK_STRUCT, partition_keys=["pt"],
            primary_keys=["pt", "k"], options={"rowkind.field": "rk", **options},
            spark=self.spark)

    # ---- phases -----------------------------------------------------

    def build(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError

    def metrics(self) -> dict:
        """rows_per_s, write_amp and space_amp."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    def relate(self, samples: dict[str, float]) -> None:
        """Run the control once now and record each latency sample as a
        multiple of the mean of this control and the one before it,
        which bracket the sample in time. The control does the same kind
        of work with plain Spark on raw parquet, so the host's momentary
        speed (CPU steal from other tenants swings it 2x between
        minutes) cancels out of the ratio."""
        t0 = time.perf_counter()
        self._control()
        ctl = time.perf_counter() - t0
        self.control_s.append(ctl)
        base = (ctl + self._prev_ctl) / 2 if self._prev_ctl else ctl
        self._prev_ctl = ctl
        for cls, v in samples.items():
            self.rel[cls].append(v / base)

    def _control(self) -> None:
        raise NotImplementedError


class Ingest(Workload):
    """Upserts into a dynamic-bucket primary-key table whose commits also
    produce a changelog (changelog-producer=lookup), with one continuous
    changelog subscriber and periodic compaction."""
    name = "ingest"

    def build(self):
        self.t = self.pk_table("t", {
            "bucket": "-1", "dynamic-bucket.target-row-count": "20000",
            "changelog-producer": "lookup"})
        self.m = model.LwwModel()
        seed = self.files["seed"][0]
        self.run_op(None, "load", lambda: self.write(
            self.t, self.input_df(seed), seed["bytes"]))
        self.m.apply(seed["path"])
        self.rows_in = seed["rows"]
        self.next = 0
        self.consumed: list[tuple] = []
        self.arrival: dict[int, float] = {}
        self._lock = threading.Lock()

        def sink(df, epoch_id):
            rows = [tuple(r) for r in
                    df.select("pt", "k", "v", "s", "b", "_row_kind").collect()]
            now = time.perf_counter()
            with self._lock:
                self.consumed.extend(rows)
                for r in rows:
                    if r[-1] in ("+I", "+U"):
                        self.arrival.setdefault(r[4], now)

        def start():
            with self.tr.span("streaming", "stream.start"):
                return (self.t.read_changelog_stream().writeStream
                        .foreachBatch(sink).start())
        self.q = self.run_op(None, "stream.start", start)

    def _seen(self, b: int, timeout: float) -> float | None:
        """When the subscriber first saw batch b's rows."""
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            with self._lock:
                if b in self.arrival:
                    return self.arrival[b]
            time.sleep(0.005)
        return None

    def _commit(self, cls):
        f = self.files["batch"][self.next]
        self.next += 1
        b = self.next
        start = time.perf_counter()
        ok = self.run_op(cls, "upsert", lambda: self.write(
            self.t, self.input_df(f), f["bytes"]))
        returned = time.perf_counter()
        if ok is None:
            return False
        self.m.apply(f["path"])
        self.rows_in += f["rows"]
        seen = self._seen(b, STREAM_TIMEOUT_S)
        if seen is None:
            self.check(False, f"batch {b} never reached the subscriber")
        elif cls:
            self.lat["op2"].append(seen - start)
            self.note("pickup_ms", (seen - returned) * 1000)
            self.relate({"op": self.lat["op"][-1], "op2": seen - start})
        return True

    def _compact(self, full: bool) -> float | None:
        """A minor compaction inside the loop, or the full one closing
        the phase (the op3 sample: a minor one may find nothing to do)."""
        name = "compact.full" if full else "compact.minor"
        t0 = time.perf_counter()
        if self.run_op("op3" if full else None, name,
                       lambda: self.compact(self.t, full)) is None:
            return None
        dt = time.perf_counter() - t0
        if full:
            self.relate({"op3": dt})
        return dt

    def _control(self):
        f = self.files["batch"][max(0, self.next - 1)]
        out = os.path.join(self.tmp, "control")
        self.input_df(f).write.mode("overwrite").partitionBy("pt") \
            .parquet(out)
        back = self.spark.read.parquet(out)
        back.groupBy("pt").agg(F.count(F.lit(1))).collect()
        back.select("k").distinct().count()

    def warmup(self):
        for _ in range(INGEST_WARMUP):
            self._commit(None)
        self.relate({})

    def run(self):
        start = time.perf_counter()
        commits = 0
        while (time.perf_counter() - start < self.seconds
               and self.next < len(self.files["batch"])):
            if self._commit("op"):
                self.rows += self.files["batch"][self.next - 1]["rows"]
                self.busy_s += self.lat["op"][-1]
            commits += 1
            if commits % INGEST_COMPACT_EVERY == 0:
                self.busy_s += self._compact(False) or 0.0
        self.compact_s = self._compact(True) or 0.0

    def close(self):
        q, self.q = getattr(self, "q", None), None
        if q is None:
            return
        self.extra["trigger_ms"] = [
            p["durationMs"]["triggerExecution"] for p in q.recentProgress
            if p.get("numInputRows")]
        q.stop()

    def verify(self):
        self.close()
        self.full_read_check(self.t, self.m)
        with self._lock:
            state = model.replay_changelog(self.consumed)
        differ = sum(1 for k in self.m.rows if state.get(k) != self.m.rows[k])
        self.check(len(state) == len(self.m.rows) and differ == 0,
                   f"replayed changelog has {len(state)} keys, model "
                   f"{len(self.m.rows)}; {differ} differ")

    def metrics(self):
        return {"rows_per_s": self.rows / self.busy_s,
                "write_amp": (self.stage_bytes + self.compact_bytes)
                / self.input_bytes,
                "space_amp": self.space_amp([(self.t, self.m.to_arrow())])}


# Repeating merged aggregates of the query workload: (name, predicate,
# model filter). At most 8, so they fit the engine's 64-entry read cache.
def _aggregates(n_keys: int):
    q = n_keys // 4
    return [
        ("all", None, None),
        ("pt1", P.eq("pt", 1), lambda r: r[0] == 1),
        ("k_low", P.lt("k", q), lambda r: r[1] < q),
        ("pt3_k_high", P.and_(P.eq("pt", 3), P.ge("k", 3 * q)),
         lambda r: r[0] == 3 and r[1] >= 3 * q),
    ]


class Query(Workload):
    """Merge-on-read queries over a primary-key table with several
    overlapping, never-compacted sorted runs, and near-duplicate
    candidate queries against a persisted MinHash index. The writer does
    no work in the timed phase."""
    name = "query"

    def build(self):
        self.t = self.pk_table("mor", {"bucket": "2"})
        self.m = model.LwwModel()
        for f in self.files["run"]:
            self.run_op(None, "load", lambda f=f: self.write(
                self.t, self.input_df(f), f["bytes"]))
            self.m.apply(f["path"])
        self.points = pq.read_table(
            self.files["points"][0]["path"]).column("k").to_pylist()
        self.parts = len({r[0] for r in self.m.rows.values()})
        self.aggs = _aggregates(self.files["run"][0]["rows"])
        self.seen_df: dict[str, object] = {}

        corpus = self.files["corpus"][0]
        self.docs = Table.create(os.path.join(self.tmp, "docs"), DOC_STRUCT,
                                 spark=self.spark)
        self.run_op(None, "load", lambda: self.write(
            self.docs, self.input_df(corpus, DOC_STRUCT), corpus["bytes"]))

        def index():
            with self.tr.span("functions.dedup", "dedup.index_build"):
                self.docs.create_dedup_index("text", id_col="id")
        self.run_op(None, "index_build", index)
        self.texts: dict[int, str] = {}
        self.ids_of: dict[str, list[int]] = {}
        for f in self.files["corpus"] + self.files["docs"]:
            d = pq.read_table(f["path"]).to_pydict()
            self.texts.update(zip(d["id"], d["text"]))
            self.ids_of[f["path"]] = d["id"]
        self.kept = set(self.ids_of[corpus["path"]])
        planted = os.path.join(os.path.dirname(corpus["path"]),
                               "planted.json")
        with open(planted) as fh:
            self.planted = {tuple(p) for p in json.load(fh)}
        self._pi = self._di = 0
        self.found = self.reported = self.planted_seen = 0

    # ---- reads --------------------------------------------------------

    def _read(self, cls: str, sig: str, pred, action):
        """plan (traced only) -> Table.read -> action, in layer spans."""
        if self.traced_now:
            with self.tr.span("metadata", "meta.latest"):
                snap = self.t.paths.latest_snapshot()
            with self.tr.span("metadata", "meta.live_entries") as a:
                a["live_files"] = len(self.t.paths.live_entries(snap))
            with self.tr.span("scanner", f"{cls}.plan") as a:
                plan = self.t.new_scan().plan(pred)
                a.update(files_scanned=len(plan.entries),
                         files_pruned=plan.files_skipped,
                         prune_ratio=plan.files_skipped
                         / max(1, len(plan.entries) + plan.files_skipped),
                         merge_files=sum(len(g) for g in plan.merge_groups),
                         raw_files=sum(len(g) for g in plan.raw_groups))
        with self.tr.span("table.read", f"{cls}.read") as a:
            df = self.t.read(pred)
            a["reuse"] = int(self.seen_df.get(sig) is df)
            self.seen_df[sig] = df
        with self.tr.span("spark.exec", f"{cls}.exec") as a:
            out, executed = action(df)
            if self.traced_now:
                a["exchanges"] = exchanges(executed)
        return out

    def point(self, cls):
        k = self.points[self._pi]
        self._pi += 1
        pred = P.and_(P.eq("pt", k % self.parts), P.eq("k", k))

        def act(df):
            sel = df.select("pt", "k", "v", "s", "b")
            return [tuple(r) for r in sel.collect()], sel
        rows = self.run_op(cls, "point", lambda: self._read(
            "point", f"point:{k}", pred, act))
        if rows is not None:
            want = self.m.get(k)
            self.check(rows == ([want] if want else []),
                       f"point lookup k={k}: got {rows}, model {want}")
            if cls:
                self.rows += len(rows)

    def scan(self, cls):
        """One round of the fixed aggregates, timed as one operation so
        every sample does the same work."""
        def act(df):
            agg = df.agg(F.count(F.lit(1)), F.sum("v"),
                         F.sum(F.col("k").bitwiseXOR(F.col("v"))))
            return tuple(agg.collect()[0]), agg

        def round_():
            return [self._read("scan", f"scan:{name}", pred, act)
                    for name, pred, _ in self.aggs]
        got = self.run_op(cls, "scan.round", round_)
        if got is None:
            return
        for (name, _, keep), row in zip(self.aggs, got):
            row = tuple(x or 0 for x in row)
            want = self.m.aggregate(keep)
            self.check(row == want,
                       f"aggregate {name}: got {row}, model {want}")
            if cls:
                self.rows += row[0]

    def dedup(self, cls):
        f = self.files["docs"][self._di]
        self._di += 1
        df = self.input_df(f, DOC_STRUCT)
        ids = set(self.ids_of[f["path"]])

        def op():
            with self.tr.span("functions.dedup", "dedup.candidates"):
                return [tuple(r) for r in self.docs.dedup_against_index(
                    df, "text", id_col="id", verify_jaccard=DEDUP_JACCARD)
                    .select("new_id", "dup_of", "jaccard").collect()]
        pairs = self.run_op(cls, "dedup.candidates", op)
        if pairs is None:
            return None
        for new_id, dup_of, jac in pairs:
            exact = model.jaccard(self.texts[new_id], self.texts[dup_of])
            self.check(new_id in ids and dup_of in (self.kept | ids)
                       and round(exact, 4) >= DEDUP_JACCARD
                       and abs(exact - jac) < 1e-4,
                       f"dedup pair ({new_id}, {dup_of}): jaccard {jac}, "
                       f"exact {exact:.4f}")
        planted = {p for p in self.planted if p[0] in ids}
        self.planted_seen += len(planted)
        self.found += len(planted & {(a, b) for a, b, _ in pairs})
        self.reported += len(pairs)
        if cls:
            self.rows += len(ids)
        return df, ids - {p[0] for p in pairs}, f["bytes"]

    def ingest_survivors(self, found) -> None:
        """Append a checked batch's survivors and refresh the index (the
        write half of the dedup pipeline, once per run, untimed)."""
        df, survivors, input_bytes = found

        def op():
            t0 = time.perf_counter()
            self.write(self.docs, df.filter(F.col("id").isin(
                sorted(survivors))), input_bytes)
            self.note("append_ms", (time.perf_counter() - t0) * 1000)
            with self.tr.span("functions.dedup", "dedup.refresh"):
                return self.docs.refresh_dedup_index("text")
        if self.run_op(None, "dedup.ingest", op) is not None:
            self.kept |= survivors

    # ---- phases -------------------------------------------------------

    def _control(self):
        f = self.files["run"][0]
        k = self.points[(self._pi * 7) % len(self.points)]
        self.input_df(f).filter(F.col("k") == k).collect()

    def warmup(self):
        for _ in range(QUERY_WARMUP_POINTS):
            self.point(None)
        self.scan(None)
        self.dedup(None)
        self.relate({})

    def run(self):
        start = time.perf_counter()
        steps = {"op": self.point, "op2": self.scan, "op3": self.dedup}
        i, last = 0, None
        while (time.perf_counter() - start < self.seconds
               and self._pi < len(self.points)
               and self._di < len(self.files["docs"])):
            cls = QUERY_CYCLE[i % len(QUERY_CYCLE)]
            n = len(self.lat[cls])
            out = steps[cls](cls)
            if len(self.lat[cls]) > n:
                self.relate({cls: self.lat[cls][-1]})
            if cls == "op3" and out is not None:
                last = out
            i += 1
        self.busy_s = sum(sum(self.lat[c]) for c in ("op", "op2", "op3"))
        if last is not None:
            self.ingest_survivors(last)

    def verify(self):
        self.full_read_check(self.t, self.m)
        got = self.run_op(None, "verify.docs", lambda: self.docs.read().count())
        if got is not None:
            self.check(got == len(self.kept),
                       f"docs table has {got} rows, model {len(self.kept)}")

    def metrics(self):
        ids = sorted(self.kept)
        docs = pa.table({"id": pa.array(ids, pa.int64()),
                         "text": pa.array([self.texts[i] for i in ids])})
        return {"rows_per_s": self.rows / self.busy_s,
                "write_amp": self.stage_bytes / self.input_bytes,
                "space_amp": self.space_amp([(self.t, self.m.to_arrow()),
                                             (self.docs, docs)])}

    def recall(self) -> float:
        return self.found / self.planted_seen if self.planted_seen else 0.0


WORKLOADS = {w.name: w for w in (Ingest, Query)}
