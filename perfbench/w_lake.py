"""lake_upsert_scan: a key-clustered ``SnapshotTable`` of 600 k seeded rows
in 12 files, then rounds of commits and reads on it.

A round is two ``merge`` commits (CDC upserts plus deletes over a narrow key
window), one ``append`` (new keys), three ``scan_range`` reads over narrow
windows, a full ``snapshot()`` scan and a time-travel ``snapshot(v)`` read;
every fourth round ends with ``compact()`` of the small (appended) files.
Op = one commit (write) or one read. Reads execute on the noop sink with a
row-count ``Observation``.

Every row's content is a function of its key and of ``v``, the round that
last wrote it, so the model of the table is one version number per key.
After every commit ``rows()`` must equal the model's count, every read
must return the model's count, and at the end the live snapshot's
checksums must equal the model's.
"""

from __future__ import annotations

import json
import os
import random
import time
from contextlib import nullcontext

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from flusher_spark.instrumentation import noop_write, observed
from flusher_spark.io.snapshots import SnapshotTable

from perfbench.common import NewFiles, OpLog, Result, median, tail_pct, work_units

N0 = 600_000  # initial rows
#: The table is created as 12 files of 50 k rows by a writer that sets
#: ``cluster_files`` (a create writes at most spark.sql.shuffle.partitions
#: files, whatever its byte target).
INITIAL_FILES = 12
FILE_ROWS = 100_000  # target_file_rows: a merge rewrites a touched file as one
FILE_BYTES = 64 << 20  # target_file_bytes: an append lands one file
COMPACT_ROWS = 20_000  # compact() folds files under this size: the appends
MERGE_KEYS = 3_000  # CDC window width (keys)
APPEND_ROWS = 5_000
SCAN_KEYS = 20_000
COMPACT_EVERY = 4
WARMUP_ROUNDS = 2
TAIL = tail_pct(4 * 8 + 1)  # the timed phase runs four rounds per 10 s
CAPACITY = N0 + 200 * APPEND_ROWS
DEL_MOD = 10  # one key in ten of a CDC window is a delete


def rows_df(spark, lo: int, hi: int, v: int, deletes: bool = False):
    """Rows for keys [lo, hi) written in round ``v``; every column derives
    from (key, v). With ``deletes``, ``_del`` flags the window's deletes."""
    df = spark.range(lo, hi).select(
        F.col("id").alias("key"),
        F.lit(v).cast("int").alias("v"),
        ((F.col("id") * 7919 + v * 104729) % 1000003).alias("a"),
        (((F.col("id") * 31 + v) % 10007) / F.lit(7.0)).alias("b"),
        F.concat(F.lit("k"), F.col("id").cast("string"), F.lit("-"), F.lit(str(v))).alias("s"),
    )
    if deletes:
        df = df.withColumn("_del", ((F.col("key") * 2654435761 + v * 97) % DEL_MOD) == 0)
    return df


def deleted_mask(keys: np.ndarray, v: int) -> np.ndarray:
    return (keys * 2654435761 + v * 97) % DEL_MOD == 0


class Model:
    """Expected table: the round that last wrote each key, -1 if absent."""

    def __init__(self) -> None:
        self.ver = np.full(CAPACITY, -1, dtype=np.int64)
        self.ver[:N0] = 0
        self.next_key = N0
        self.counts: list[int] = []  # live rows per committed version

    def count(self, lo: int = 0, hi: int = CAPACITY) -> int:
        return int((self.ver[lo : hi + 1] >= 0).sum())

    def merge(self, lo: int, hi: int, v: int) -> None:
        keys = np.arange(lo, hi)
        dead = deleted_mask(keys, v)
        self.ver[lo:hi] = np.where(dead, -1, v)

    def append(self, n: int, v: int) -> tuple[int, int]:
        lo, self.next_key = self.next_key, self.next_key + n
        self.ver[lo : self.next_key] = v
        return lo, self.next_key

    def checksums(self) -> tuple[int, int, int]:
        keys = np.nonzero(self.ver >= 0)[0].astype(np.int64)
        v = self.ver[keys]
        return len(keys), int(keys.sum()), int((keys * 1000 + v).sum())


def table_checksums(df) -> tuple[tuple[int, int, int], int]:
    """(count, sum(key), sum(key*1000+v)) and the number of rows whose
    columns do not match their (key, v)."""
    bad = (
        (F.col("a") != (F.col("key") * 7919 + F.col("v") * 104729) % 1000003)
        | (F.col("b") != ((F.col("key") * 31 + F.col("v")) % 10007) / F.lit(7.0))
        | (F.col("s") != F.concat(F.lit("k"), F.col("key").cast("string"), F.lit("-"), F.col("v").cast("string")))
    )
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("key").alias("k"),
        F.sum(F.col("key") * 1000 + F.col("v")).alias("kv"),
        F.sum(bad.cast("long")).alias("bad"),
    ).collect()[0]
    return (r["n"], r["k"] or 0, r["kv"] or 0), r["bad"] or 0


class Lake:
    """The table, its model and the op loop shared by warm-up and timing."""

    def __init__(self, spark, root: str, seed: int, tracer=None) -> None:
        self.spark = spark
        self.root = root
        self.rng = random.Random(seed)
        self.tr = tracer
        self.model = Model()
        self.table = SnapshotTable(
            spark, root, key="key", cluster_by=["key"], target_file_rows=FILE_ROWS, target_file_bytes=FILE_BYTES
        )
        self.round = 0
        # Traced-run counters.
        self.rewritten: list[int] = []
        self.files_live: list[int] = []
        self.read_share: list[float] = []

    def manifest_files(self, version: int) -> set[str]:
        with open(os.path.join(self.root, "_manifests", f"v{version}.json")) as fh:
            return {f["path"] for f in json.load(fh)["files"]}

    def span(self, name: str):
        return self.tr.span(name) if self.tr is not None else nullcontext()

    def commit(self, kind: str, fn) -> str | None:
        before = self.table.current_version()
        with self.span(f"io.snapshots.{kind}"):
            fn()
        after = self.table.current_version()
        self.model.counts.extend([self.model.count()] * (after - before))
        if self.tr is not None:
            if kind == "merge":
                self.rewritten.append(len(self.manifest_files(before) - self.manifest_files(after)))
            self.files_live.append(len(self.manifest_files(after)))
        got = self.table.rows()
        if got != self.model.count():
            return f"{kind} round {self.round}: rows() = {got}, model {self.model.count()}"
        return None

    def read(self, kind: str, make, expect: int) -> str | None:
        obs = Observation()
        with self.span(f"io.snapshots.{kind}"):
            df = make()
            noop_write(observed(df, obs))
        if self.tr is not None and kind == "scan_range":
            v = self.table.current_version()
            self.read_share.append(len(df.inputFiles()) / len(self.manifest_files(v)))
        got = int(obs.get["rows"])
        if got != expect:
            return f"{kind} round {self.round}: read {got} rows, model {expect}"
        return None

    def ops(self, compact: bool):
        """One round of the seeded op sequence, as (kind, is_write, thunk,
        rows committed). Reads outnumber commits and merges outnumber the
        other commits, so the medians fall inside one kind's cluster."""
        self.round += 1
        r, m, rng = self.round, self.model, self.rng

        def merge():
            lo = rng.randrange(0, m.next_key - MERGE_KEYS)
            self.table.merge(rows_df(self.spark, lo, lo + MERGE_KEYS, r, deletes=True), delete_col="_del")
            m.merge(lo, lo + MERGE_KEYS, r)

        def append():
            a, b = m.append(APPEND_ROWS, r)
            self.table.append(rows_df(self.spark, a, b, r))

        def scan_range():
            lo = rng.randrange(0, m.next_key)
            return self.read("scan_range", lambda: self.table.scan_range(lo, lo + SCAN_KEYS), m.count(lo, lo + SCAN_KEYS))

        def time_travel():
            v = rng.randrange(0, self.table.current_version() + 1)
            return self.read("time_travel", lambda: self.table.snapshot(v), m.counts[v])

        yield "merge", True, lambda: self.commit("merge", merge), MERGE_KEYS
        yield "scan_range", False, scan_range, 0
        yield "append", True, lambda: self.commit("append", append), APPEND_ROWS
        yield "snapshot", False, lambda: self.read("snapshot", self.table.snapshot, m.count()), 0
        yield "merge", True, lambda: self.commit("merge", merge), MERGE_KEYS
        yield "scan_range", False, scan_range, 0
        yield "time_travel", False, time_travel, 0
        yield "scan_range", False, scan_range, 0
        if compact:
            yield "compact", True, lambda: self.commit("compact", lambda: self.table.compact(COMPACT_ROWS)), 0


def run(spark, ctx) -> Result:
    res = Result()
    root = os.path.join(ctx.tmp, "lake")
    t0 = time.perf_counter()
    lake = Lake(spark, root, ctx.seed, ctx.tracer)
    SnapshotTable(spark, root, key="key", cluster_by=["key"], cluster_files=INITIAL_FILES).create(
        rows_df(spark, 0, N0, 0)
    )
    lake.model.counts.append(N0)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    tr, lake.tr = lake.tr, None
    for r in range(WARMUP_ROUNDS):  # every op kind, until merge times settle
        for _kind, _w, op, _rows in lake.ops(compact=r == WARMUP_ROUNDS - 1):
            if problem := op():
                raise RuntimeError(f"warm-up: {problem}")
    lake.tr = tr
    ctx.setup(inputs_s, time.perf_counter() - t0)

    files = NewFiles(root)
    log = OpLog()
    kinds: list[str] = []
    commits = 0
    for rounds in range(1, work_units(ctx.seconds, COMPACT_EVERY) + 1):
        for kind, is_write, op, rows in lake.ops(compact=rounds % COMPACT_EVERY == 0):
            res.attempted += 1
            if tr is not None:
                tr.op = len(kinds)
            kinds.append(kind)
            try:
                with log.timed():
                    t0 = time.perf_counter()
                    problem = op()
                    dt = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — count the failed op and go on
                res.fail(f"{kind}: {type(exc).__name__}: {exc}")
                continue
            if problem:
                res.fail(problem)
                continue
            log.op.append(dt)
            (log.write if is_write else log.read).append(dt)
            log.rows += rows
            commits += is_write
        log.bytes_written += sum(files.poll().values())

    sums, bad = table_checksums(lake.table.snapshot())
    if sums != lake.model.checksums() or bad:
        res.fail(f"final snapshot checksums {sums} ({bad} bad rows), model {lake.model.checksums()}")
    log.summary(TAIL, ctx.setup_s, res)
    ctx.extra.update(tail_pct=TAIL, rounds=lake.round, versions=lake.table.current_version())
    if tr is not None:
        ctx.finish = lambda per_span: layers(tr, lake, log, commits, res)
    return res


def layers(tr, lake: Lake, log: OpLog, commits: int, res: Result) -> None:
    def per_call(kind):
        return median([s.dur for s in tr.spans if s.name == f"io.snapshots.{kind}"])

    res.layers.update(
        {
            "io.snapshots.merge_s": (per_call("merge"), "s"),
            "io.snapshots.append_s": (per_call("append"), "s"),
            "io.snapshots.scan_range_s": (per_call("scan_range"), "s"),
            "io.snapshots.snapshot_s": (per_call("snapshot"), "s"),
            "io.snapshots.time_travel_s": (per_call("time_travel"), "s"),
            "io.snapshots.compact_s": (per_call("compact"), "s"),
            "io.snapshots.files_live": (median(lake.files_live), "count"),
            "io.snapshots.files_rewritten_per_merge": (median(lake.rewritten), "count"),
            "io.snapshots.scan_files_read_share": (median(lake.read_share), "share"),
            "io.snapshots.bytes_written_per_commit": (log.bytes_written / max(1, commits), "B"),
        }
    )
