"""Plan-quality assertions: the physical plans we'd want at 100 TB, not just
the first ones that pass — pushdown reaches parquet, small dims broadcast,
codegen covers the hot path, and the catalog/driver contract is consistent."""

from __future__ import annotations

import re

import pytest
from pyspark.errors import PySparkException

import __spark_entry__ as entrymod
from flusher_spark.plans.catalog import registry, sql_frame
from tests.conftest import SF_DIR as SF
from tests.conftest import SF_DIR_MED


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_push_to_parquet(spark):
    df = registry()["filter_projection_pushdown"].fn(spark, SF)
    plan = _formatted(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # Column pruning: the scan must not read all 11 lineitem columns.
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_returnflag" not in read_schema and "l_extendedprice" in read_schema


def test_etl_range_scan_uses_worksheet_datasource(spark):
    """The oracle-checked range-scan entry must exercise the registered
    Python DataSource (range pushdown + row-range partitions), not a
    driver-built grid: its plan contains the worksheet BatchScan and the
    scan's schema is already pruned to the requested A-C columns."""
    df = registry()["etl_sheet_range_scan"].fn(spark, SF)
    plan = _plan(df)
    assert "BatchScan worksheet" in plan
    scan_line = next(line for line in plan.splitlines() if "BatchScan worksheet" in line)
    assert "n_nationkey" in scan_line and "n_comment" not in scan_line


def test_partitioned_write_prunes_partitions(spark):
    """The single-day query over the date-partitioned lake layout must scan
    one partition (PartitionFilters on event_date), not the whole table."""
    df = registry()["etl_partitioned_write_pruning"].fn(spark, SF)
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "event_date" in pf


def test_small_dims_broadcast_in_q5(spark):
    plan = _plan(registry()["q5_region_revenue"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_broadcast_dim_join_has_no_shuffle_of_fact(spark):
    plan = _plan(registry()["join_broadcast_dim"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q1_whole_stage_codegen(spark):
    df = registry()["q1_pricing_summary"].fn(spark, SF)
    # Under AQE the tree string only marks codegen with '*(n)'; the codegen
    # explain mode names the subtrees explicitly.
    codegen = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in codegen
    assert "HashAggregate" in _plan(df)  # partial+final hash agg, not sort agg


def test_semi_and_anti_joins_planned_as_joins(spark):
    assert "LeftSemi" in _plan(registry()["join_semi"].fn(spark, SF))
    assert "LeftAnti" in _plan(registry()["join_anti"].fn(spark, SF))


def test_shingling_is_a_narrow_projection(spark):
    """Shingle generation must never shuffle: it is row-local work, and at
    corpus scale a windowed formulation exchanges the entire tokenized
    corpus. Locks in the transform+slice formulation (operators/dedup.py)."""
    from flusher_spark.io.tables import load_table
    from flusher_spark.operators.dedup import shingle_rows

    plan = _plan(shingle_rows(load_table(spark, SF, "documents")))
    assert "Exchange" not in plan and "Window" not in plan


def test_decontaminate_single_aggregate_after_broadcast(spark):
    """Both per-doc counts (shingle-set size, eval overlap) must ride one
    aggregate over the broadcast left join: exactly one exchange on doc_id
    downstream of the broadcast build, not two aggregates plus a join."""
    df = registry()["decontaminate_ngram_overlap"].fn(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin LeftOuter" in plan or "BroadcastHashJoin" in plan
    # One doc_id-only hash-partitioning exchange for the combined aggregate;
    # the (doc_id, s) exchange is the distinct(), plus the broadcast itself.
    import re

    assert len(re.findall(r"hashpartitioning\(doc_id#\d+L?, \d+\)", plan)) == 1


def test_no_cartesian_in_lsh_dedup(spark):
    from flusher_spark.io.tables import load_table
    from flusher_spark.operators.dedup import minhash_lsh_pairs

    plan = _plan(minhash_lsh_pairs(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    # Global top-k should plan as TakeOrderedAndProject (per-partition take +
    # merge), not a full global sort.
    plan = _plan(registry()["topk_orders_global"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


# -- driver contract consistency --------------------------------------------


def test_registry_unique_and_documented():
    reg = registry()
    assert len(reg) >= 40
    for name, e in reg.items():
        assert e.doc, f"{name} has no docstring"


def test_registry_priority_prefix():
    """The driver's harness covers a bounded registry prefix; the curated
    PRIORITY names must all exist (typo guard) and lead the ordering."""
    from flusher_spark.plans.catalog import PRIORITY

    reg = registry()
    missing = [n for n in PRIORITY if n not in reg]
    assert not missing, f"PRIORITY names not registered: {missing}"
    assert list(reg)[: len(PRIORITY)] == list(PRIORITY)


def test_every_entry_is_driver_checked_or_windowed():
    """Freshness discipline (the etl_dynamic_partition_overwrite lesson from
    round 8): every registry entry must either already hold a driver verdict
    (appear in some committed CORRECTNESS_r*.json) or be queued for one
    (appear in the driver's 50-entry PRIORITY window). An entry registered
    after the round's rotation froze would satisfy neither — it must be
    appended to the window in the same commit that registers it."""
    import glob
    import json
    import os

    from flusher_spark.plans.catalog import PRIORITY

    root = os.path.join(os.path.dirname(__file__), "..")
    checked: set[str] = set()
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        checked.update(json.load(open(f)))
    window = set(PRIORITY[:50])
    orphans = [n for n in registry() if n not in checked and n not in window]
    assert not orphans, (
        f"entries with no driver verdict and no PRIORITY window slot: {orphans}"
    )


def test_bench_headline_is_plan_audited():
    """Every bench headline query must have a section in PLANS.md (or be a
    streaming-executed entry named by tools/plan_audit.py's skip rule) —
    the audit artifact must not drift behind the headline list, which is
    how 7 round-6 entries shipped unaudited."""
    import os
    import re

    import bench
    from tools.plan_audit import SKIP_EXCEPTIONS, SKIP_PREFIXES

    md = open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md")).read()
    sections = set(re.findall(r"^## (\S+)$", md, re.M))
    reg = registry()
    # A HEADLINE name missing from the registry (rename, typo) would be
    # silently filtered by every consumer — the query drops from the
    # benchmark and the shrunken total reads as a speedup.
    unknown = [n for n in bench.HEADLINE if n not in reg]
    assert not unknown, f"bench HEADLINE names not in the registry: {unknown}"
    missing = [
        n for n in bench.HEADLINE
        if not (n.startswith(SKIP_PREFIXES) and n not in SKIP_EXCEPTIONS)
        and n not in sections
    ]
    assert not missing, (
        f"bench headline entries missing from PLANS.md: {missing} — "
        "re-run `python tools/plan_audit.py`"
    )


def test_oracle_output_types_are_spark_expressible():
    """Typing lint over every registered DuckDB oracle: bind the SQL (DESCRIBE
    — no execution) against the sf0.001 views and fail any output column whose
    DuckDB type Spark cannot emit. The round-1..4 recurring bug class: a bare
    top-level ``SUM(bigint_col)`` types as HUGEINT (int128) in DuckDB while
    Spark emits int64 — names and stringified values match, but the driver's
    type-aware value hash differs (five entries hash-failed for four rounds on
    exactly this). Binding the real SQL catches every spelling of the bug —
    windowed sums, sums smuggled through CTE columns, integer division of a
    windowed cumulative — which a regex over the SQL text cannot."""
    import duckdb

    from flusher_spark.io.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    bad = []
    for name, e in registry().items():
        if e.oracle is None:
            continue
        desc = con.sql(f"DESCRIBE {e.oracle}").fetchall()
        for col, dtype, *_ in desc:
            # Substring match: the int128 bug class also hides in nested
            # spellings — HUGEINT[] from list(SUM(...)), STRUCT(x HUGEINT).
            if any(t in dtype.upper() for t in ("HUGEINT", "UBIGINT")):
                bad.append(f"{name}.{col}: {dtype}")
    assert not bad, (
        "oracle output columns typed beyond int64 — wrap the aggregate in "
        f"CAST(... AS BIGINT): {bad}"
    )


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # Every operator family from SURVEY §2 is represented.
    for family in ["q1_", "join_", "agg_", "window_", "setop_", "scalar_",
                   "events_", "asof_", "dedup_", "similarity_", "text_", "multimodal_",
                   "etl_"]:
        assert any(k.startswith(family) for k in qs), f"missing family {family}"


@pytest.mark.parametrize("name", sorted(registry()))
def test_every_query_builds_a_plan(spark, name):
    """Every catalog entry must produce an analyzable plan, and no plan may
    contain an unbounded nested loop (see _NESTED_LOOP_OK below).

    ONE walk asserting both: these used to be two parametrized walks, which
    ran every entry's ``fn`` twice — and for the persisted-index and
    streaming entries the fn executes its build half (index writes, a real
    bounded StreamingQuery), so the duplicate walk re-ran multi-second
    builds for a string assert the first walk's plan already carries
    (~180 s of the suite, measured r15).

    The same walk guards against twins: a DataFrame body whose optimized
    plan is ``sameResult`` with its oracle SQL's says the query twice, and
    belongs in ``register_sql``. ``sameResult`` drops join hints, so they
    are compared apart (join_cross's broadcast hint picks the other build
    side than its SQL). Oracles only DuckDB can analyze are skipped; they
    have no Spark twin. ``_TWIN_OK`` lists the deliberate exceptions."""
    entry = registry()[name]
    df = entry.fn(spark, SF)
    df.schema  # noqa: B018 — forces analysis; an unanalyzable plan raises here
    assert df.columns
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin; add to whitelist only "
            "with a documented boundedness argument"
        )
    if entry.oracle is None or entry.sql or name in _TWIN_OK:
        return
    try:
        oracle_df = sql_frame(spark, SF, entry.oracle)
    except PySparkException:  # DuckDB-only SQL: unparsable, or fails analysis
        return
    opt = df._jdf.queryExecution().optimizedPlan()
    oracle_opt = oracle_df._jdf.queryExecution().optimizedPlan()
    assert not (
        opt.sameResult(oracle_opt) and _join_hints(opt) == _join_hints(oracle_opt)
    ), f"{name} plans exactly like its oracle SQL; define it once with register_sql"


def _join_hints(plan) -> list[str]:
    return re.findall(r"(?:left|right)Hint=\([^)]*\)", plan.toString())


#: Entries that plan like their oracle SQL but keep a Python body, because
#: the body is the only catalog caller of a helper with a second plan.
_TWIN_OK = {
    # domain_quota_report; its skew_precombine=True form pre-prunes each
    # partition to its local top-Q (tests/test_corpus.py)
    "corpus_domain_quota",
}


#: Entries where a nested-loop/cartesian is BY DESIGN and bounded: either the
#: query is an intentional cross join, or the loop side is a broadcast of a
#: provably tiny relation (query set, centroid set, 1-row total).
_NESTED_LOOP_OK = {
    "join_cross",  # the CROSS JOIN catalog entry itself
    "similarity_neardup_cosine",  # documented O(n²) exact baseline (oracle twin of LSH)
    "similarity_topk_exact",  # broadcast query-set × candidates, |queries| small
    "similarity_mmr_rerank",  # same broadcast query-set scan feeding the MMR pools
    "similarity_matryoshka_truncated",  # same broadcast query-set scan, prefix dims
    "similarity_topk_ivf",  # broadcast centroid set (n_lists rows)
    "similarity_ivf_persisted",  # same broadcast centroid set on the probe side
    "similarity_ivf_appended",  # same broadcast centroid set (append assignment + probe)
    "dedup_semantic_embedding",  # same broadcast centroid set (cluster assignment)
    "dedup_semantic_clusters",  # same broadcast centroid set (cluster assignment)
    "window_ntile",  # broadcast 1-row total count
    "q22_global_avg_anti",  # broadcast 1-row global average (scalar subquery)
    "q11_important_parts",  # broadcast 1-row grand total (scalar subquery)
    "etl_zorder_layout",  # broadcast 1-row global min/max bounds for key normalization
    "skyline_price_quantity",  # broadcast 1-row global x-bounds for bin assignment
}


def test_approx_sketches_accuracy(spark):
    """Sketch results must track the exact twins: HLL within its rsd bound,
    approx median within 2% of the exact median."""
    from flusher_spark.io.tables import load_table
    from pyspark.sql import functions as F

    rows = {r["l_returnflag"]: r for r in registry()["agg_approx_sketches"].fn(spark, SF).collect()}
    l = load_table(spark, SF, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    for flag, e in exact.items():
        a = rows[flag]
        assert abs(a["approx_orders"] - e["n_orders"]) / e["n_orders"] < 0.1
        assert abs(a["price_p50"] - e["median"]) / e["median"] < 0.02


def test_count_min_estimates_bound_exact_counts(spark):
    """CMS guarantees: est >= exact always (one-sided error), and
    est <= exact + eps*N with prob 1-delta — with eps=0.001 and 5 groups x
    10 probes, even one bound violation means the sketch is wired wrong.
    Also pins determinism: two runs must estimate identically (fixed seed,
    merge-order-independent counters)."""
    from flusher_spark.io.tables import load_table
    from pyspark.sql import functions as F

    got = registry()["agg_count_min_freq"].fn(spark, SF).collect()
    again = registry()["agg_count_min_freq"].fn(spark, SF).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    e = load_table(spark, SF, "events")
    exact = {
        (r["event_type"], r["user_id"]): r["n"]
        for r in e.where(F.col("user_id").between(1, 10))
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got
    for r in got:
        true_n = exact.get((r["event_type"], r["user_id"]), 0)
        assert r["est_count"] >= true_n, "CMS must never under-count"
        assert r["est_count"] <= true_n + 0.001 * r["n_events"] + 1, (
            r["event_type"], r["user_id"], r["est_count"], true_n,
        )


def test_count_min_python_reader_matches_jvm(spark):
    """The pure-Python sketch reader (functions/sketch.py — the
    Connect-safe replacement for the old spark._jvm probe) must agree
    bit-for-bit with the JVM CountMinSketch on the same serialized bytes,
    across a probe set that includes negative keys and keys far outside the
    data (the wrapping-multiply/fold arithmetic is where a port would
    diverge). Classic mode exposes both paths, so the JVM is the oracle."""
    from pyspark.sql import functions as F

    from flusher_spark.functions.sketch import CountMinSketch
    from flusher_spark.io.tables import load_table

    e = load_table(spark, SF, "events")
    row = e.agg(
        F.count_min_sketch("user_id", F.lit(0.001), F.lit(0.99), F.lit(42)).alias("cms")
    ).collect()[0]
    raw = bytes(row["cms"])
    py = CountMinSketch.from_bytes(raw)
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(raw)
    assert py.total_count == jcms.totalCount()
    probes = list(range(-5, 15)) + [2**31, -(2**31), 2**62, -(2**62), 999_999_999_999]
    for k in probes:
        assert py.estimate_count(k) == jcms.estimateCount(k), k


def test_runtime_bloom_filter_join_injection(spark):
    """The 100 TB selective-join pattern: when a big fact SMJ-joins a
    filtered creation side, Spark injects a runtime bloom filter
    (BloomFilterMightContain on the application side) that prunes fact rows
    BEFORE the shuffle. Verify (a) the injection actually fires under
    scale-shaped thresholds, and (b) it never changes results — the bloom
    is a may-contain pre-filter, the join re-checks exactly. Confs are
    scoped try/finally; the test controls execution timing so the restore
    is sound (an entry fn could not do this lazily, which is why this lives
    here and not in the catalog)."""
    from flusher_spark.io.tables import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, SF, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    l = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")

    def run():
        j = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
        agg = j.agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("total"),
        )
        return agg, agg.collect()

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg, with_bloom = run()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "BloomFilter" in plan, (
            "runtime bloom filter did not inject — scale-shaped selective "
            "joins would shuffle unpruned fact rows"
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    _, without_bloom = run()
    assert [tuple(r) for r in with_bloom] == [tuple(r) for r in without_bloom]


def test_dynamic_partition_pruning_fires_and_preserves_results(spark):
    """join_dynamic_partition_pruning's contract: (a) the partitioned fact
    scan's PartitionFilters carry a DynamicPruningExpression (the pruning
    predicate exists only at runtime — a static filter can't express it);
    (b) results are identical with the optimization disabled, because DPP
    is a scan-reduction, never a semantics change."""
    fn = registry()["join_dynamic_partition_pruning"].fn
    df = fn(spark, SF)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), "DPP did not fire"
    with_dpp = [tuple(r) for r in df.collect()]
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try:
        without = [tuple(r) for r in fn(spark, SF).collect()]
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    assert with_dpp == without and with_dpp


def test_aqe_skew_join_splits_hot_partition_and_preserves_results(spark):
    """The runtime complement of operators/scale.py's manual salting: AQE's
    OptimizeSkewedJoin splits a skewed reduce partition into per-map-chunk
    reads (SortMergeJoin(skew=true) + 'AQEShuffleRead … skewed' in the
    final adaptive plan) with results identical to the unoptimized join.
    Two non-obvious preconditions this test documents: (a) skew splitting
    happens at MAP-output granularity, so a single-mapper input can never
    be split — the fact side is repartitioned to 16 mappers first (the
    fixture parquet is one file; a 100 TB fact has thousands of mappers and
    never hits this); (b) thresholds are scaled down to fixture bytes —
    at sf0.01, since the smallest fixture's hot partition can't clear any
    sane byte threshold. Confs are scoped try/finally around controlled
    execution."""
    from pyspark.sql import functions as F

    from flusher_spark.io.tables import load_table

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    sf_med = SF_DIR_MED
    e = load_table(spark, sf_med, "events").repartition(16)
    c = load_table(spark, sf_med, "customer")
    skewed = e.select(
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.col("user_id")).alias("k"),
        "value",
    )
    dim = c.select(F.col("c_custkey").alias("k"), (F.col("c_custkey") % 7).alias("seg"))
    j = skewed.join(dim, "k").groupBy("seg").agg(F.count("*").alias("n"))
    baseline = {tuple(r) for r in j.collect()}

    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j2 = skewed.join(dim, "k")
        got = j2.collect()
        plan = j2._jdf.queryExecution().toString()
        assert "skew=true" in plan, "AQE skew join did not fire"
        assert "skewed" in plan
        agg = {}
        for r in got:
            agg[r["seg"]] = agg.get(r["seg"], 0) + 1
        assert {(s, n) for s, n in agg.items()} == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hll_rollup_union_equals_direct_and_tracks_exact(spark):
    """Mergeability is the load-bearing property: the union of per-day HLL
    sketches must equal the directly-built per-type sketch exactly
    (registers are slot-maxima — associative, partition- and
    order-insensitive), and both estimates must track the true distinct
    count within the default-lgk rsd bound."""
    from pyspark.sql import functions as F

    from flusher_spark.io.tables import load_table

    rows = registry()["agg_hll_rollup_reuse"].fn(spark, SF).collect()
    assert rows
    e = load_table(spark, SF, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in rows:
        assert r["users_rollup"] == r["users_direct"], r
        true_n = exact[r["event_type"]]
        assert abs(r["users_rollup"] - true_n) <= max(2, 0.05 * true_n), (r, true_n)


def test_setop_except_is_set_semantics_on_duplicated_left(spark, tmp_path):
    """r14 review: EXCEPT drops a value ENTIRELY when it appears on the
    right; the old exceptAll().distinct() form kept it whenever the left
    multiplicity exceeded the right's (count_left > count_right > 0). The
    fixture's part keys are unique so the driver oracle can't see the
    difference — this synthetic corpus with a duplicated p_partkey can."""
    from flusher_spark.plans.relational import setop_except

    spark.createDataFrame(
        [(1,), (1,), (2,)], "p_partkey long"
    ).write.parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame([(1,)], "l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = sorted(r["p_partkey"] for r in setop_except(spark, str(tmp_path)).collect())
    assert got == [2]  # 1 is gone entirely, despite left multiplicity 2 > 1
