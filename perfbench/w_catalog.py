"""catalog_mix: seeded-order passes over 17 headline catalog entries.

Op = one entry execution exactly as bench.py times it:
``registry()[name].fn(spark, sf_dir)`` (plan build, counted as the op's read
half) followed by a noop-sink write (execution, counted as its write half).
The warm-up pass collects every entry once and checks it against its
DuckDB oracle (or, without one, that it returns rows); an entry that fails
its check fails every op it runs.
"""

from __future__ import annotations

import os
import random
import time

import duckdb

from flusher_spark.instrumentation import noop_write
from flusher_spark.io.tables import TABLES
from flusher_spark.plans.catalog import registry
from tools.check_oracle import canon_rows

from perfbench import gen
from perfbench.common import OpLog, Result, tail_pct, tree_write_bytes, work_units

ENTRIES = (
    "q1_pricing_summary",
    "q9_product_profit",
    "q12_conditional_agg",
    "q18_large_orders",
    "q21_sole_flagged_supplier",
    "window_topk_per_group",
    "events_sessionize_30m",
    "events_zscore_outliers",
    "dedup_minhash_lsh",
    "similarity_topk_pq",
    "corpus_gopher_rules",
    "text_bm25_topk",
    "multimodal_jpeg_decode",
    "agg_weighted_median_udaf",
    "docs_chunk_udtf",
    "reco_copurchase_similarity",
    "graph_label_propagation",
)
#: Scale of the generated tables (lineitem = 6 M × SF rows).
SF = 0.01
CATEGORIES = ("relational", "llm", "corpus")
TAIL = tail_pct(len(ENTRIES))  # the timed phase runs one pass per 10 s


def oracle_check(spark, con, entry, sf_dir: str) -> tuple[int, str | None]:
    """Collect the entry once; return (result rows, problem or None)."""
    df = entry.fn(spark, sf_dir)
    rows = df.collect()
    if entry.oracle is None:
        return len(rows), None if rows else f"{entry.name}: no rows (rows-only check)"
    ores = con.sql(entry.oracle)
    ocols = [c.lower() for c in ores.columns]
    orows = ores.fetchall()
    scols = [c.lower() for c in df.columns]
    if sorted(scols) != sorted(ocols):
        return len(rows), f"{entry.name}: columns {sorted(scols)} != oracle {sorted(ocols)}"
    if canon_rows(scols, rows) != canon_rows(ocols, orows):
        return len(rows), f"{entry.name}: result differs from its DuckDB oracle ({len(rows)} vs {len(orows)} rows)"
    return len(rows), None


def run(spark, ctx) -> Result:
    res = Result()
    reg = registry()
    entries = [reg[n] for n in ENTRIES]
    sf_dir = os.path.join(ctx.tmp, "sf")
    t0 = time.perf_counter()
    gen.analytics_tables(sf_dir, ctx.seed, SF)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    result_rows, bad, warm = {}, {}, {}
    for e in entries:
        w0 = time.perf_counter()
        try:
            result_rows[e.name], problem = oracle_check(spark, con, e, sf_dir)
        except Exception as exc:  # noqa: BLE001 — an entry that raises fails its ops
            result_rows[e.name], problem = 0, f"{e.name}: {type(exc).__name__}: {exc}"
        warm[e.name] = round(time.perf_counter() - w0, 3)
        if problem:
            bad[e.name] = problem
    con.close()
    ctx.setup(gen_s, time.perf_counter() - t0)

    tr = ctx.tracer
    rng = random.Random(ctx.seed)
    log = OpLog()
    op_names: list[str] = []
    w0 = tree_write_bytes()
    for _ in range(work_units(ctx.seconds, 1)):
        order = rng.sample(entries, len(entries))
        for e in order:
            res.attempted += 1
            if tr is not None:
                tr.op = len(op_names)
            op_names.append(e.name)
            try:
                with log.timed():
                    t0 = time.perf_counter()
                    if tr is not None:
                        with tr.span("plans.build"):
                            df = e.fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tr.span("plans.exec"):
                            noop_write(df)
                    else:
                        df = e.fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        noop_write(df)
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — count the failed op and go on
                res.fail(f"{e.name}: {type(exc).__name__}: {exc}")
                continue
            log.op.append(t2 - t0)
            log.read.append(t1 - t0)
            log.write.append(t2 - t1)
            log.rows += result_rows[e.name]
            if e.name in bad:
                res.fail(bad[e.name])
    log.bytes_written = tree_write_bytes() - w0
    log.summary(TAIL, ctx.setup_s, res)
    ctx.extra.update(tail_pct=TAIL, result_rows=result_rows, warmup_s=warm, sf=SF)
    if tr is not None:
        ctx.finish = lambda per_span: layers(tr, per_span, op_names, reg, res)
    return res


def layers(tr, per_span, op_names: list[str], reg, res: Result) -> None:
    """Build/exec seconds and Spark jobs per op: overall, per plans module
    and per entry (means over the ops of that group)."""
    groups: dict[str, list[int]] = {"plans": list(range(len(op_names)))}
    for i, name in enumerate(op_names):
        module = reg[name].fn.__module__.rsplit(".", 1)[-1]
        groups.setdefault(f"plans.{module}", []).append(i)
        groups.setdefault(f"plans.{name}", []).append(i)
    spans = {("plans.build", s.op): i for i, s in enumerate(tr.spans) if s.name == "plans.build"}
    spans.update({("plans.exec", s.op): i for i, s in enumerate(tr.spans) if s.name == "plans.exec"})

    def mean(ops, kind, field):
        vals = []
        for op in ops:
            i = spans.get((kind, op))
            if i is not None:
                vals.append(tr.spans[i].dur if field == "s" else per_span[i]["jobs"])
        return sum(vals) / len(vals) if vals else 0.0

    for g, ops in groups.items():
        b_s, e_s = mean(ops, "plans.build", "s"), mean(ops, "plans.exec", "s")
        b_j, e_j = mean(ops, "plans.build", "jobs"), mean(ops, "plans.exec", "jobs")
        res.layers[f"{g}.build_s"] = (b_s, "s")
        res.layers[f"{g}.exec_s"] = (e_s, "s")
        if g in ("plans",) or g.removeprefix("plans.") in CATEGORIES:
            res.layers[f"{g}.build_jobs"] = (b_j, "count")
            res.layers[f"{g}.exec_jobs"] = (e_j, "count")
        else:
            res.layers[f"{g}.jobs"] = (b_j + e_j, "count")
