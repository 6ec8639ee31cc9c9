"""Query catalog: the engine's registry of named operators/queries.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
with an optional ANSI-SQL oracle string (run by the driver on DuckDB over the
same parquet tables). Entries without an oracle are genuinely
non-SQL-expressible (LSH dedup, approximate similarity) and get rows-only
checks.

A query whose DataFrame body would plan exactly like its oracle is defined
once, as SQL: ``register_sql`` makes the oracle text the Spark plan too
(``sql_frame`` runs it over views of the tables it names), so both engines
run the same text. ``register`` is for the formulations that plan
differently on purpose (limb sums, single-scan folds, operator calls).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the correctness harness sorts columns by name
and hashes values, so names must line up exactly.

Numeric discipline (why sums cast to DECIMAL everywhere): double summation
is order-sensitive, and Spark's partial aggregation order differs from
DuckDB's sequential scan. Casting each addend to decimal makes the sum exact
and associative in both engines, so results compare bit-for-bit after the
final cast back to double. Averages divide that exact sum by an exact
count — one deterministic IEEE division on each side. Precision choices
(DECIMAL(8,2) for base money columns — compact-long fast path — and wider
for computed revenue expressions) are documented in plans/num.py.
"""

from __future__ import annotations

import re
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from flusher_spark.io.tables import TABLES, register_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str
    #: True when ``fn`` runs the oracle text itself (``register_sql``).
    sql: bool = False


_REGISTRY: dict[str, CatalogEntry] = {}


def _add(entry: CatalogEntry) -> None:
    if entry.name in _REGISTRY:
        raise ValueError(f"duplicate catalog entry: {entry.name}")
    _REGISTRY[entry.name] = entry


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the catalog (oracle=None → rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        _add(CatalogEntry(name, fn, oracle, (fn.__doc__ or "").strip()))
        return fn

    return deco


def sql_frame(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """``spark.sql(sql)`` over temp views of only the tables the text names.

    Views are registered per table word, not all ten: every parquet read
    without a schema launches a Spark job, so a view nobody reads still
    costs one."""
    words = set(re.findall(r"\w+", sql.lower()))
    register_views(spark, sf_dir, tuple(t for t in TABLES if t in words))
    return spark.sql(sql)


def register_sql(name: str, sql: str, doc: str) -> None:
    """Add an entry defined by its SQL alone: the oracle text is also the
    Spark plan."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return sql_frame(spark, sf_dir, sql)

    # Named after the entry and owned by the module that registers it, as a
    # decorated body is (namedtuple's idiom): per-module rollups such as the
    # benchmark's plans.<module> metrics read fn.__module__.
    fn.__name__ = fn.__qualname__ = name
    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    _add(CatalogEntry(name, fn, sql, doc.strip(), sql=True))


#: Names surfaced first by ``registry()``. The driver's correctness harness
#: covers a bounded prefix of the registry (50 entries per round), so this
#: list rotates per round toward the entries whose latest driver verdict is
#: weakest. Round-15 rotation (an OPTIMIZATION round — no new entries), in
#: order: (1) the ten r9-verdict entries the r14 window spilled, exactly as
#: that round's comment queued them (q6/q10/q11/q12/q13/q14/q16/q17/q19/
#: q22 — after this window the freshness histogram bottoms at r10);
#: (2) the six entries whose COMPUTATION this round's optimizations
#: touched (events_zscore_outliers — the per-row decimal→long threshold
#: rewrite; the four fan-out-capped light codecs; similarity_topk_pq —
#: executor-side codebook training, rows-only by the approximate
#: convention): a changed plan needs a fresh driver verdict more than a
#: stale-but-untouched one, the same freshness-guard reasoning that gave
#: new entries first-verdict slots in build rounds; (3) 34 of the 50
#: r10-verdict entries, oldest cohort first. The 16 spilled r10 entries
#: (agg_corr_exact, events_winsorized_stats, events_ewma_per_user,
#: scalar_variant_extract, agg_incremental_merge, events_tz_local_days,
#: events_anomaly_mad, events_histogram_equiwidth, join_null_safe,
#: window_rank_distributions, agg_mode_exact, events_linreg_per_type,
#: events_interval_coverage, events_cusum_changepoint, events_l_diversity,
#: events_stream_static_join) queue first for the r16 window. Every name
#: here must exist (asserted in tests/test_plans.py); the rest follow in
#: import order.
PRIORITY = (
    # (1) the r9-verdict cohort (the ten spilled from r14)
    "q6_revenue_filter",
    "q10_returned_items",
    "q11_important_parts",
    "q12_conditional_agg",
    "q13_order_distribution",
    "q14_promo_ratio",
    "q16_supplier_variety",
    "q17_small_quantity_revenue",
    "q19_disjunctive_filter",
    "q22_global_avg_anti",
    # (2) entries whose computation the r15 optimizations touched
    "events_zscore_outliers",
    "multimodal_media_routing",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "multimodal_png_variants",
    "similarity_topk_pq",  # rows-only: approximate by construction
    # (3) the r10-verdict cohort (34 of 50)
    "text_html_strip",
    "pack_sequences_fill",
    "vocab_bigram_counts",
    "docs_boilerplate_ngrams",
    "docs_bigram_familiarity",
    "corpus_k_anonymity",
    "corpus_domain_quota",
    "join_dynamic_partition_pruning",
    "etl_jsonl_ingest",
    "etl_zorder_layout",
    "etl_schema_evolution_merge",
    "etl_sheet_writeback",
    "etl_orc_roundtrip",
    "etl_table_diff",
    "etl_cdc_apply",
    "etl_backfill_partition_overwrite",
    "etl_content_checksum",
    "corpus_source_mix",
    "corpus_mix_apply",
    "corpus_mix_upsample",
    "dedup_containment_ngram",
    "multimodal_tiff_decode",
    "similarity_topk_ivf",
    "similarity_topk_arrow",
    "similarity_mmr_rerank",
    "graph_label_propagation",
    "sample_split_by_source",
    "corpus_importance_resample",
    "top_suppliers_revenue",
    "q15_top_supplier",
    "events_stream_stream_left_join",
    "events_top_paths",
    "events_attribution_first_touch",
    "events_audience_overlap",
    # ---- driver window ends here (50) ----
)


def registry() -> dict[str, CatalogEntry]:
    """All catalog entries, PRIORITY names first (importing the defining
    modules on first use)."""
    import flusher_spark.plans.corpus  # noqa: F401
    import flusher_spark.plans.etl  # noqa: F401
    import flusher_spark.plans.llm  # noqa: F401
    import flusher_spark.plans.relational  # noqa: F401

    ordered = {name: _REGISTRY[name] for name in PRIORITY if name in _REGISTRY}
    ordered.update((n, e) for n, e in _REGISTRY.items() if n not in ordered)
    return ordered
