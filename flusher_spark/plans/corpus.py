"""Training-corpus preparation entries: PII redaction, HTML stripping,
benchmark decontamination, sequence packing, reproducible corpus shuffling,
and BPE-style pair counting.

These are the operations a 100 TB pretraining pipeline runs between "raw
crawl" and "tokenizer input"; none exist in the reference (it has no query
surface at all — see SURVEY.md §2.C). Everything here is JVM-side built-in
expressions (regexp/window/aggregate) — no Python UDFs — so the hot path
stays inside whole-stage codegen.

Fixture note: the synthetic ``documents`` table is a clean word-bag corpus
with no PII or markup, so the redaction/stripping entries first *synthesize*
a deterministic artifact (an email + phone, or an HTML wrapper) from
``doc_id`` — identically in the Spark plan and the DuckDB oracle — then
remove it. That makes the regex path meaningfully exercised and
oracle-checked instead of trivially matching on zero occurrences.

Cross-engine regex discipline: patterns restricted to the syntax subset Java
``java.util.regex`` and DuckDB's RE2 interpret identically (character
classes, bounded quantifiers — no backrefs, no lookaround); DuckDB's
``regexp_replace`` needs the explicit ``'g'`` flag to match Spark's
replace-all default, and ``len(regexp_extract_all(..))`` stands in for
``regexp_count``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flusher_spark.io.tables import load_table
from flusher_spark.operators.dedup import shingle_rows
from flusher_spark.operators.text import WS_CLASS, n_tokens, tokens
from flusher_spark.plans.catalog import register, register_sql

# The whitespace class is spelled out (not '\s') in every oracle: DuckDB's
# RE2 \s excludes \x0B while Spark/Java's includes it — the explicit class
# keeps both engines' tokenization identical on any fixture.
_TOKENS_SQL = r"string_split(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')"

#: Java-regex == RE2 subset; '%' is dropped from the local-part class vs the
#: usual RFC-ish pattern purely to stay printf-safe in logs/oracles.
EMAIL_RE = r"[a-z0-9._+\-]+@[a-z0-9.\-]+\.[a-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"
TAG_RE = r"<[^>]+>"


def _aug_pii(spark_side: bool) -> str:
    """The deterministic PII suffix, as a SQL expression string (same text
    on both engines): ' contact user<id>@example.com or +1-555-<id%%10000>.'"""
    # coalesce(text, ''): Spark's concat is NULL-propagating while DuckDB's
    # SKIPS NULL arguments, so a NULL-text fixture row would zero the whole
    # augmented string on one engine and keep the synthesized suffix on the
    # other — a loud hash mismatch on an unrelated fixture regen (r12
    # review). Guarded identically on both sides, the engines agree.
    return (
        "concat(substring(coalesce(text, ''), 1, 40), ' contact user', cast(doc_id as string)"
        ", '@example.com or +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0'), '.')"
        if spark_side
        else "concat(coalesce(text, '')[1:40], ' contact user', CAST(doc_id AS VARCHAR)"
        ", '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), '.')"
    )


@register(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_aug_pii(False)} AS t FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM aug ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count then mask email/phone occurrences with
    codegen'd regexp expressions — a pure projection, zero shuffles, so at
    100 TB it runs at scan speed and pushes straight into the rewrite of
    each parquet split. The fixture has no real PII, so a deterministic
    email+phone is synthesized from doc_id first (see module docstring)."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select("doc_id", F.expr(_aug_pii(True)).alias("t"))
    return aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    ).orderBy("doc_id")


@register(
    "text_html_strip",
    oracle=f"""
    WITH aug AS (SELECT doc_id,
           concat('<p id="d', CAST(doc_id AS VARCHAR), '">', coalesce(text, ''), '</p>', chr(10), '<br/>') AS t
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{TAG_RE}')) AS n_tags,
           trim(regexp_replace(regexp_replace(t, '{TAG_RE}', ' ', 'g'),
                               '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS clean_text
    FROM aug ORDER BY doc_id
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal for crawled corpora: strip tags, collapse whitespace,
    trim — all codegen'd regexps in one projection (no shuffle). A real
    pipeline would put this before tokenization; a deterministic HTML
    wrapper is synthesized around the clean fixture text first."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.lit('<p id="d'), F.col("doc_id").cast("string"), F.lit('">'),
            # coalesce: Spark concat NULL-propagates, DuckDB concat skips
            # NULLs — guard both sides identically (r12 review, _aug_pii)
            F.coalesce(F.col("text"), F.lit("")), F.lit("</p>\n<br/>"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("t", F.lit(TAG_RE)).cast("long").alias("n_tags"),
        F.trim(
            # WS_CLASS: the repo's ONE Spark-side whitespace class
            # (operators/text.py) — an inline copy could drift (r12 review)
            F.regexp_replace(F.regexp_replace("t", TAG_RE, " "), WS_CLASS + "+", " ")
        ).alias("clean_text"),
    ).orderBy("doc_id")


#: Word-n-gram width for decontamination. Real pipelines use 8-13-gram
#: matching (WMDP/GPT-3 style); the fixture's ~30-word vocabulary makes
#: 3-grams the width where cross-document collisions actually occur, which
#: is what the check needs to exercise.
DECON_N = 3
#: Every 97th document plays the held-out benchmark.
DECON_EVAL_MOD = 97


def _gopher_stats():
    """The three Gopher-style document statistics over a ``toks`` column —
    (n_words, sum_word_len, n_alpha_words) as exact-integer Columns. ONE
    definition consumed by the standalone corpus_gopher_rules report AND
    the e2e pipeline's stage-1 filter, so the pipeline provably filters on
    the same statistics the report explains (they were hand-synced copies
    before, r10 review).

    Formulation — interpreted HOFs KEPT, measured r15: the codegen'd
    string equivalents (sum of lengths == length of the ''-joined
    concatenation; alpha-word count == regexp_count of ``[^ ]*[a-z]``
    over the ' '-joined string — bit-equal, pinned by
    tests/test_corpus.py::test_gopher_stats_match_hof_reference) were
    built and A/B'd interleaved at sf0.1: corpus_gopher_rules 0.97×
    (neutral) and corpus_e2e_pipeline **1.14× — slower**. The joined-
    string materialization (a full text copy per row) plus the regex
    scan's per-position backtracking cost more than the two row-local
    interpreted lambdas they replaced; "HOF drops the stage off codegen"
    is not a win when the replacement expression is heavier than the
    whole interpreted fold. Reverted; the reference-equality test stays
    as the proof either formulation is exchangeable if a future engine
    version shifts the balance."""
    nw = F.size("toks").cast("long")
    sumlen = F.expr("aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
    nalpha = F.expr("size(filter(toks, x -> x rlike '[a-z]'))").cast("long")
    return nw, sumlen, nalpha


def _decon_counts(
    eval_src: DataFrame, train: DataFrame, n: int, eval_mod: int
) -> DataFrame:
    """Decontamination overlap counts — (doc_id, n_shingles, n_overlap) of
    each training document's distinct n-grams vs the broadcast held-out
    eval split (doc_id % eval_mod == 0 over ``eval_src``). Shared by the
    standalone decontaminate_ngram_overlap entry (eval and train both
    drawn from the full corpus) and the e2e pipeline's stage 4 (train =
    the dedup survivors): same broadcast + left-join + dual-count shape,
    one shuffle after the eval build."""
    # The eval side dedups on s ALONE — a (doc_id, s) pre-distinct was one
    # full extra exchange+aggregate over the eval shingle set for nothing
    # (r12 review); the train side keeps its per-doc distinct, which the
    # n_shingles count needs.
    ev_set = (
        shingle_rows(eval_src, n=n)
        .where(F.col("doc_id") % eval_mod == 0)
        .select("s")
        .distinct()
    )
    # frames_out (an overlap_materialize hook) was built and MEASURED this
    # round, then reverted: checkpointing the eval set cost 1.10× on the
    # composed e2e A/B — under AQE a lazy localCheckpoint executes its
    # upstream stages at CALL time (plan construction is single-threaded,
    # so two checkpoint builds never coexist to overlap), and the plain
    # broadcast subtree below already overlaps with the action's other
    # stages under AQE's scheduler. See OPTIMIZATION_r15.md.
    ev = F.broadcast(ev_set)
    tr = shingle_rows(train, n=n).distinct().where(F.col("doc_id") % eval_mod != 0)
    return (
        tr.join(ev.withColumn("__hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), F.count("__hit").alias("n_overlap"))
    )


def _mix_share_target():
    """(token_share, uniform_target) Columns over a per-source aggregate
    carrying ``n_tokens`` — the ONE definition of the mixture arithmetic
    that both the downsample clamp (``_mix_cols``) and the upsample clamp
    (corpus_mix_upsample, plans/llm.py) derive from, so the two complements
    cannot drift (r12 review)."""
    w = Window.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w).cast("double")
    target = F.lit(1.0) / F.count("*").over(w).cast("double")
    return share, target


def _mix_cols():
    """(token_share, sample_frac) Columns of the uniform-target mixture
    reweighting over a per-source aggregate carrying ``n_tokens`` — the one
    formula behind corpus_source_mix (plans/llm.py), corpus_mix_apply, and
    the e2e pipeline's stage 5, shared so the three cannot drift."""
    share, target = _mix_share_target()
    return share, F.least(F.lit(1.0), target / share)


def _pack_rollup(docs: DataFrame, ntok_col: str) -> DataFrame:
    """(bucket, pack_id, n_docs, pack_tokens) rollup of the shared
    contiguous-fill packing: stripe by doc_id % PACK_BUCKETS, running token
    sum per bucket ordered by (doc_id, n_tok), pack = start div
    PACK_BUDGET. One definition behind pack_sequences_fill and the e2e
    pipeline's final stage."""
    b = docs.select(
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        "doc_id",
        F.col(ntok_col).alias("n_tok"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id", "n_tok").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = b.select("bucket", "n_tok", F.sum("n_tok").over(w).alias("cum"))
    p = c.select(
        "bucket", "n_tok", F.expr(f"(cum - n_tok) div {PACK_BUDGET}").alias("pack_id")
    )
    return (
        p.groupBy("bucket", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tokens"))
        .orderBy("bucket", "pack_id")
    )


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{DECON_N - 1}], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(toks) - {DECON_N - 1})) AS u(i)),
    ev AS (SELECT DISTINCT s FROM g WHERE doc_id % {DECON_EVAL_MOD} = 0),
    tr AS (SELECT * FROM g WHERE doc_id % {DECON_EVAL_MOD} <> 0),
    n AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
    o AS (SELECT tr.doc_id, COUNT(*) AS n_overlap FROM tr JOIN ev USING (s) GROUP BY tr.doc_id)
    SELECT n.doc_id, o.n_overlap, n.n_shingles,
           CAST(o.n_overlap AS DOUBLE) / CAST(n.n_shingles AS DOUBLE) AS overlap_ratio
    FROM n JOIN o USING (doc_id)
    ORDER BY overlap_ratio DESC, doc_id LIMIT 50
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each training document, the fraction
    of its distinct word-n-grams (n = DECON_N) that also occur in a held-out
    evaluation set (docs with doc_id % DECON_EVAL_MOD == 0).

    Scale shape: the eval side is a benchmark suite — small by nature — so
    its distinct-shingle set is BROADCAST (with a hit marker), and BOTH
    per-doc counts ride ONE aggregate over the left-joined training
    shingles: count(*) = |doc's shingle set|, count(hit) = |overlap|. One
    shuffle total after the broadcast build. (Unlike minhash_lsh_pairs, the
    shingle table is NOT checkpointed: only two branches read it and one is
    the small eval build — measured, the narrow-shingle recompute is
    cheaper than materializing 2.8M rows.) The zero-overlap filter
    reproduces the oracle's inner n⋈o join. No all-pairs comparison
    anywhere; top-50 is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    per = _decon_counts(d, d, DECON_N, DECON_EVAL_MOD).where(F.col("n_overlap") > 0)
    return (
        per.select(
            "doc_id", "n_overlap", "n_shingles",
            (F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")).alias(
                "overlap_ratio"
            ),
        )
        .orderBy(F.col("overlap_ratio").desc(), "doc_id")
        .limit(50)
    )


#: Tokens per pack. Fixture docs run ~100 tokens, so 1024 gives ~10 docs a
#: pack — the same fill factor a 2k/4k-context packer sees on real data.
PACK_BUDGET = 1024
#: Independent packing streams. At 100 TB this is the parallelism unit —
#: thousands of buckets, each packed independently inside one partition of
#: one window; doc_id % k keeps the oracle trivially identical cross-engine
#: (production would hash a stable key the same way sample_hash_split does).
PACK_BUCKETS = 8


@register(
    "pack_sequences_fill",
    oracle=f"""
    WITH d AS (SELECT doc_id, doc_id % {PACK_BUCKETS} AS bucket,
                      len({_TOKENS_SQL}) AS n_tok FROM documents),
    c AS (SELECT doc_id, bucket, n_tok,
                 SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id, n_tok
                                  ROWS UNBOUNDED PRECEDING) AS cum
          FROM d),
    p AS (SELECT bucket, CAST((cum - n_tok) // {PACK_BUDGET} AS BIGINT) AS pack_id,
                 doc_id, n_tok FROM c)
    SELECT bucket, pack_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM p GROUP BY bucket, pack_id ORDER BY bucket, pack_id
    """,
)
def pack_sequences_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for tokenizer input: contiguous-fill documents into
    ~PACK_BUDGET-token packs. Docs are striped into PACK_BUCKETS
    independent buckets; within a bucket a running token sum (one window,
    partitioned by bucket — never a global single-partition sort) assigns
    each doc to the pack its start offset falls in. This is the
    deterministic, one-shuffle approximation of greedy bin packing: packs
    can overshoot by at most one document, and every engine that orders by
    doc_id produces the identical packing — which is exactly what a
    resumable 100 TB tokenization job needs. The cumsum ORDER BY key is
    (doc_id, n_tok): doc_id is unique on every fixture seen so far, but if
    a regenerated fixture ever duplicates it, rows tied on the FULL key are
    interchangeable for the (bucket, pack_id) aggregate — bucket derives
    from doc_id and n_tok is in the key — so the packing stays engine- and
    run-deterministic instead of silently depending on tie order."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", n_tokens(F.col("text")).alias("n_tok")
    )
    return _pack_rollup(d, "n_tok")


@register(
    "shuffle_deterministic_order",
    oracle="""
    SELECT doc_id, md5(concat('seed42:', CAST(doc_id AS VARCHAR))) AS shuffle_key
    FROM documents ORDER BY shuffle_key, doc_id LIMIT 100
    """,
)
def shuffle_deterministic_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global corpus shuffle: order by md5(seed || doc_id).
    Seeded and content-independent, so re-runs (and engines) agree exactly —
    the property a resumable training-data job needs from its shuffle. The
    entry surfaces the first 100 positions, which Spark executes as
    TakeOrderedAndProject (per-partition top-k, no global sort); the
    full-permutation variant is the same projection feeding a sortWithinPartitions
    write with the key as the file sort column."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.md5(F.concat(F.lit("seed42:"), F.col("doc_id").cast("string"))).alias(
                "shuffle_key"
            ),
        )
        .orderBy("shuffle_key", "doc_id")
        .limit(100)
    )


@register(
    "vocab_bigram_counts",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    pair AS (SELECT array_to_string(toks[i:i+1], ' ') AS bigram
             FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i))
    SELECT bigram, COUNT(*) AS n
    FROM pair GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def vocab_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency count — the inner loop of a BPE vocabulary
    build (the top pair is the next merge candidate). Pairs come from the
    shared shingle_rows ROW-LOCAL transform (operators/dedup.py — a
    codegen'd slice projection, no shuffle to build pairs; an earlier
    posexplode + lead-window formulation exchanged the entire tokenized
    corpus on doc_id before counting, the exact shape shingle_rows's
    docstring documents migrating away from). The count is one
    partial-aggregated groupBy and the top-20 is TakeOrderedAndProject —
    ONE shuffle total, independent of corpus width."""
    d = load_table(spark, sf_dir, "documents")
    bg = shingle_rows(d, n=2).withColumnRenamed("s", "bigram")
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


#: The chunking oracle shared VERBATIM by docs_chunk_overlap and its UDTF
#: twin docs_chunk_udtf — one definition, so the "identical oracle and
#: hashes" equivalence claim is enforced by construction rather than
#: hand-sync (r12 review; the _gopher_stats/_mix_cols discipline).
_CHUNK_ORACLE = """
    SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
           substring(text, CAST(start AS INTEGER), 200) AS chunk_text,
           length(substring(text, CAST(start AS INTEGER), 200)) AS chunk_len
    FROM documents, UNNEST(generate_series(1, GREATEST(n_chars - 50, 1), 150)) AS u(start)
    ORDER BY doc_id, chunk_start
"""


@register(
    "docs_chunk_overlap",
    oracle=_CHUNK_ORACLE,
)
def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: 200-char windows on a 150-char stride
    (50-char overlap), start offsets from sequence()+explode so the whole
    op is a codegen'd Generate + projection — no Python, no shuffle at all
    until a consumer asks for one. The start cap at n_chars-50 drops tail
    starts that would yield sub-overlap fragments already fully covered by
    the previous chunk. Chunk count per doc is ceil-bounded by its own
    length, so output scales linearly with corpus bytes — the partition
    layout of the scan is preserved (narrow op), which is exactly what you
    want before a repartition-by-chunk-hash write at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("bigint"),
        F.greatest(F.col("n_chars") - 50, F.lit(1).cast("bigint")),
        F.lit(150).cast("bigint"),
    )
    return (
        d.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            "chunk_start",
            F.expr("substring(text, cast(chunk_start as int), 200)").alias("chunk_text"),
            F.length(F.expr("substring(text, cast(chunk_start as int), 200)")).alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_start")
    )


@register(
    "docs_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
               WHERE len({_TOKENS_SQL}) >= 3),
    g AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)),
    gc AS (SELECT doc_id, s, COUNT(*) AS c FROM g GROUP BY doc_id, s),
    gs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                  COUNT(*) AS n_distinct_grams FROM gc GROUP BY doc_id),
    tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM t),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
    ts AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tok,
                  CAST(SUM(c) AS BIGINT) AS n_tok FROM tc GROUP BY doc_id)
    SELECT gs.doc_id, gs.n_grams, gs.n_distinct_grams,
           CAST(gs.n_grams - gs.n_distinct_grams AS DOUBLE) / gs.n_grams AS dup_gram_frac,
           CAST(ts.max_tok AS DOUBLE) / ts.n_tok AS top_token_frac
    FROM gs JOIN ts USING (doc_id)
    ORDER BY doc_id
    """,
)
def docs_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signals (the Gopher/Dolma-style
    repetitious-text filter): duplicate 3-gram fraction and top-token mass
    per document. Both signals come from (doc, key) pre-aggregates that
    partial-aggregate map-side before ONE doc-keyed shuffle each — never a
    per-doc countDistinct over raw occurrence rows — and the final per-doc
    frames (one row per doc) join on doc_id. Fractions are single integer→
    double divisions, so they hash-match DuckDB exactly."""
    d = load_table(spark, sf_dir, "documents").where(F.size(tokens(F.col("text"))) >= 3)
    gc = (
        shingle_rows(d, n=3)
        .groupBy("doc_id", "s")
        .agg(F.count("*").alias("c"))
    )
    gs = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"), F.count("*").alias("n_distinct_grams")
    )
    tc = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    ts = tc.groupBy("doc_id").agg(F.max("c").alias("max_tok"), F.sum("c").alias("n_tok"))
    return (
        gs.join(ts, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_distinct_grams",
            ((F.col("n_grams") - F.col("n_distinct_grams")).cast("double") / F.col("n_grams")).alias(
                "dup_gram_frac"
            ),
            (F.col("max_tok").cast("double") / F.col("n_tok")).alias("top_token_frac"),
        )
        .orderBy("doc_id")
    )


#: Boilerplate set size: the K most document-frequent shingles. A fixed-K
#: head (not an absolute doc-count threshold) is the scale-stable policy —
#: the boilerplate navigation/footer spans a crawl repeats sit in the head
#: of the document-frequency distribution at every corpus size, while any
#: absolute threshold has to be re-tuned per scale.
BOILER_K = 200
#: Shingle width for boilerplate detection (3 tokens — wide enough that the
#: head is real repeated phrasing, not single-word noise).
BOILER_N = 3


def _boilerplate_topk(d: DataFrame, g: DataFrame | None = None):
    """(per-doc distinct shingles, top-K boilerplate set) for the
    boilerplate DETECT and MASK entries — one implementation so the mask
    entry provably applies exactly the set the detect half computes (a
    K or tie-break change in one copy used to decouple them silently,
    r10 review). The top-K head is TakeOrderedAndProject (K driver rows,
    bounded by the constant) and is meant to be broadcast by callers.

    ``g`` lets a caller supply the distinct (doc_id, s) pairs from a frame
    it already holds (the mask entry derives them from its positions frame
    so the corpus is shingled ONCE); the top-K rule itself stays single-
    source. The default path materializes g with the repo's multi-consumer
    localCheckpoint discipline: the detect entry consumes g twice (the
    top-K aggregate and the scoring join) and Spark does not reuse the
    exchange across branches (measured, OPTIMIZATION_r14.md), so without
    the checkpoint the scan+shingle+distinct subtree executes per branch.
    Interleaved bench A/B at sf0.1 measures detect flat (0.97x, min-of-3)
    — the fixture trade is a wash, kept for the scale shape: one corpus
    distinct instead of two at any size (the reco_copurchase §6 keep
    rationale), bit-equal."""
    if g is None:
        g = shingle_rows(d, n=BOILER_N).distinct().localCheckpoint(eager=False)
    b = (
        g.groupBy("s")
        .agg(F.count("*").alias("nd"))
        .orderBy(F.col("nd").desc(), "s")
        .limit(BOILER_K)
        .select("s")
    )
    return g, b


@register(
    "docs_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{BOILER_N - 1}], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(toks) - {BOILER_N - 1})) AS u(i)),
    c AS (SELECT s, COUNT(*) AS nd FROM g GROUP BY s),
    b AS (SELECT s FROM c ORDER BY nd DESC, s LIMIT {BOILER_K}),
    per AS (SELECT g.doc_id, COUNT(*) AS n_shingles, COUNT(b.s) AS n_boiler
            FROM g LEFT JOIN b USING (s) GROUP BY g.doc_id)
    SELECT doc_id, n_shingles, n_boiler,
           CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS boiler_ratio
    FROM per WHERE n_boiler > 0
    ORDER BY boiler_ratio DESC, doc_id LIMIT 100
    """,
)
def docs_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate span detection (the C4/RefinedWeb cleanup step that strips
    nav bars, cookie banners, and footer text): the BOILER_K most
    document-frequent word-3-grams form the boilerplate set, and each doc
    reports what fraction of its distinct shingles are boilerplate — the
    docs ranking highest are templates, the cut a real pipeline drops or
    line-filters.

    Scale shape: distinct (doc, shingle) pairs are one shuffle; the
    document-frequency count is a second partial-aggregated shuffle; the
    top-K head is TakeOrderedAndProject (K rows on the driver — bounded by
    the constant, not the corpus) and BROADCAST back, so scoring every
    document is a map-side left join + one aggregate. Ties at the K
    boundary break on the shingle string in both engines, so the set —
    and every downstream ratio — is deterministic cross-engine."""

    d = load_table(spark, sf_dir, "documents")
    g, b = _boilerplate_topk(d)
    b = b.select("s", F.lit(1).alias("__hit"))
    per = (
        g.join(F.broadcast(b), "s", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), F.count("__hit").alias("n_boiler"))
        .where(F.col("n_boiler") > 0)
    )
    return (
        per.select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double")).alias(
                "boiler_ratio"
            ),
        )
        .orderBy(F.col("boiler_ratio").desc(), "doc_id")
        .limit(100)
    )


def _familiarity_per_doc(d: DataFrame) -> DataFrame:
    """Per-document bigram familiarity sufficient statistics
    (doc_id, n_bigrams, fam_sum) — ONE implementation shared by
    docs_bigram_familiarity and corpus_perplexity_buckets, so the bucketing
    entry's "same score as the familiarity entry" claim is structural
    rather than two hand-synced copies (which had already been edited
    independently once, r10 review). Integer-exact: counts and sums are
    bigints on both engines until the caller's final division.

    bg is materialized (localCheckpoint, the multi-consumer discipline):
    it feeds both the frequency aggregate and the join-back, and without
    the checkpoint the tokenize+explode pass executes per consumer (no
    cross-branch exchange reuse — OPTIMIZATION_r14.md). Interleaved bench
    A/B at sf0.1, min-of-3: familiarity 1.21 -> 0.93 s (0.77x), and
    corpus_perplexity_buckets — which shares this helper — 1.48 -> 1.02 s
    (0.69x), bit-equal."""
    bg = shingle_rows(d, n=2).withColumnRenamed("s", "b").localCheckpoint(eager=False)
    c = bg.groupBy("b").agg(F.count("*").cast("long").alias("cnt"))
    return (
        bg.join(c, "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("cnt").cast("long").alias("fam_sum"),
        )
    )


@register(
    "docs_bigram_familiarity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
           FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
    c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY b),
    per AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(c.cnt) AS BIGINT) AS familiarity_sum
            FROM bg JOIN c USING (b) GROUP BY bg.doc_id)
    SELECT doc_id, n_bigrams, familiarity_sum,
           CAST(familiarity_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS familiarity
    FROM per ORDER BY doc_id
    """,
)
def docs_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-grounded fluency signal: each document's mean corpus frequency
    of its bigram OCCURRENCES — the integer-exact stand-in for an n-gram LM
    perplexity score (documents full of corpus-common transitions score
    high; gibberish, OCR noise, and wrong-language docs score low, the
    classic KenLM-filter signal). Everything before the final division is
    integer (counts summed as exact bigints on both engines), so the score
    compares bit-for-bit cross-engine — a log-prob formulation would hinge
    on libm rounding.

    Scale shape: bigram occurrences are a narrow projection (the same
    transform+explode as shingling); the frequency table is one
    partial-aggregated shuffle, vocab²-bounded, and joins back on the
    bigram key — a plain shuffle join that AQE downgrades to broadcast
    when the vocabulary is small; the per-doc rollup is the final
    aggregate. No all-pairs, no Python."""

    d = load_table(spark, sf_dir, "documents")
    per = _familiarity_per_doc(d).withColumnRenamed("fam_sum", "familiarity_sum")
    return per.select(
        "doc_id",
        "n_bigrams",
        "familiarity_sum",
        (F.col("familiarity_sum").cast("double") / F.col("n_bigrams").cast("double")).alias(
            "familiarity"
        ),
    ).orderBy("doc_id")


@register(
    "corpus_boilerplate_mask",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents),
    g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{BOILER_N - 1}], ' ') AS s
          FROM t, UNNEST(generate_series(1, len(toks) - {BOILER_N - 1})) AS u(i)),
    c AS (SELECT s, COUNT(*) AS nd FROM g GROUP BY s),
    b AS (SELECT s FROM c ORDER BY nd DESC, s LIMIT {BOILER_K}),
    occ AS (SELECT t.doc_id, i AS j
            FROM t, UNNEST(generate_series(1, len(toks) - {BOILER_N - 1})) AS u(i)
            WHERE array_to_string(toks[i:i+{BOILER_N - 1}], ' ') IN (SELECT s FROM b)),
    cov AS (SELECT DISTINCT doc_id, j + d AS p
            FROM occ, UNNEST(generate_series(0, {BOILER_N - 1})) AS v(d)),
    m AS (SELECT doc_id, COUNT(*) AS n_masked FROM cov GROUP BY doc_id)
    SELECT t.source, COUNT(*) AS n_docs,
           CAST(SUM(len(t.toks)) AS BIGINT) AS tokens_total,
           CAST(SUM(COALESCE(m.n_masked, 0)) AS BIGINT) AS tokens_masked
    FROM t LEFT JOIN m USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """,
)
def corpus_boilerplate_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of boilerplate cleanup (docs_boilerplate_ngrams is
    the detect half): every token covered by ANY occurrence of a top-K
    boilerplate 3-gram is masked, and the entry reports per-source token
    accounting (total vs masked) — the before/after a corpus-cleaning run
    signs off on. The subtle part is span OVERLAP: covered positions are
    the UNION of [j, j+BOILER_N-1] intervals over all boilerplate hits,
    counted by exploding each hit into its BOILER_N positions (derived
    from the constant on both engines) and de-duplicating per document — set arithmetic, not per-hit×3 (which would double-count
    overlapping spans). Scale shape: the top-K set broadcasts (K rows);
    the corpus is shingled ONCE — the positions frame is materialized
    (localCheckpoint, the repo's multi-consumer discipline) and feeds
    BOTH the top-K subtree (via its distinct (doc_id, s) projection,
    handed to _boilerplate_topk so the set rule stays single-source) and
    the occurrence join, instead of running the tokenize+explode pass per
    consumer (interleaved bench A/B at sf0.1: 2.05 -> 1.67 s min-of-3,
    0.82x, bit-equal).
    The mask pass then adds one broadcast join, one per-doc distinct on
    covered positions, and a partial-aggregated source rollup — no new
    full-corpus shuffle class beyond the detect pass it composes with."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    sh = shingle_rows(d, n=BOILER_N, positions=True).localCheckpoint(eager=False)
    _g, b = _boilerplate_topk(d, g=sh.select("doc_id", "s").distinct())
    occ = (
        sh
        .join(F.broadcast(b), "s")
        .select("doc_id", (F.col("pos") + 1).alias("j"))
    )
    cov = (
        occ.select(
            "doc_id",
            # span width derives from BOILER_N on BOTH sides — a hardcoded
            # 3-position array stayed green under the hash harness when
            # BOILER_N changed (both engines undercounted identically) while
            # the masking report went silently wrong (r10 review).
            F.explode(
                F.expr(f"transform(sequence(0, {BOILER_N - 1}), v -> j + v)")
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_masked"))
    )
    return (
        t.join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("toks")).alias("tokens_total"),
            F.sum(F.coalesce("n_masked", F.lit(0))).alias("tokens_masked"),
        )
        .orderBy("source")
    )


def _c4_line(i: int) -> str:
    """Line i of the synthesized multi-line document: a text slice plus
    deterministic decorations (terminal punctuation, a 'javascript' token,
    a brace, a lorem-ipsum marker) driven by doc_id arithmetic — IDENTICAL
    string construction in Spark SQL and DuckDB, so the oracle recomputes
    the rules on the same input."""
    base = f"substr(text, {1 + i * 7}, 20)"
    punct = f"CASE WHEN (doc_id + {i}) % 2 = 0 THEN '.' ELSE '' END"
    js = f"CASE WHEN (doc_id + {i}) % 5 = 0 THEN ' javascript' ELSE '' END"
    brace = f"CASE WHEN doc_id % 7 = 0 AND {i} = 0 THEN ' {{' ELSE '' END"
    lorem = f"CASE WHEN doc_id % 11 = 0 AND {i} = 1 THEN ' lorem ipsum' ELSE '' END"
    return f"({base} || {punct} || {js} || {brace} || {lorem})"


def _c4_text(spark_side: bool) -> str:
    """``spark_side`` follows _aug_pii's flag convention (True = the Spark
    plan, False = the DuckDB oracle) — the only engine-specific piece is
    the newline-literal spelling."""
    lines = [
        f"CASE WHEN {i} < 2 + doc_id % 4 THEN {_c4_line(i)} ELSE NULL END"
        for i in range(5)
    ]
    sep = "'\\n'" if spark_side else "chr(10)"
    return f"concat_ws({sep}, {', '.join(lines)})"


@register(
    "corpus_c4_rules",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_c4_text(False)} AS t FROM documents),
    r AS (
      SELECT doc_id, t,
             len(string_split(t, chr(10))) AS n_lines,
             len(list_filter(string_split(t, chr(10)),
                             l -> ends_with(l, '.') AND NOT contains(l, 'javascript')))
               AS n_kept_lines,
             contains(t, '{{') AS has_brace,
             contains(lower(t), 'lorem ipsum') AS has_lorem
      FROM aug)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_kept_lines AS BIGINT) AS n_kept_lines,
           has_brace, has_lorem,
           (NOT has_brace AND NOT has_lorem AND n_kept_lines >= 1) AS keep_doc
    FROM r ORDER BY doc_id
    """,
)
def corpus_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule-based cleaning (the public C4 pipeline's famous line
    and document rules, deterministic subset): keep only lines that end in
    terminal punctuation, drop lines containing 'javascript', drop whole
    documents containing a curly brace or the phrase 'lorem ipsum'. The
    fixture text is single-line with none of these triggers, so a
    multi-line document is synthesized per doc_id first (identical string
    arithmetic in both engines — same move as the PII/HTML entries). All
    rules are codegen'd string predicates inside one projection — zero
    shuffles, scan-speed at 100 TB, with the keep/drop decision emitted as
    a column so the filter composes with any downstream pipeline. The one
    interpreted expression is the line-level HOF filter (bounded by line
    count per doc, not corpus size)."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select("doc_id", F.expr(_c4_text(True)).alias("t"))
    kept = F.expr(
        "size(filter(split(t, '\\n'), "
        "l -> endswith(l, '.') AND NOT contains(l, 'javascript')))"
    )
    r = aug.select(
        "doc_id",
        F.size(F.split("t", "\n")).cast("long").alias("n_lines"),
        kept.cast("long").alias("n_kept_lines"),
        F.col("t").contains("{").alias("has_brace"),
        F.lower("t").contains("lorem ipsum").alias("has_lorem"),
    )
    return r.withColumn(
        "keep_doc",
        ~F.col("has_brace") & ~F.col("has_lorem") & (F.col("n_kept_lines") >= 1),
    ).orderBy("doc_id")


@register(
    "docs_chunk_udtf",
    oracle=_CHUNK_ORACLE,  # ONE definition with docs_chunk_overlap (see _CHUNK_ORACLE)
)
def docs_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking as docs_chunk_overlap, authored as a Spark 4
    Python UDTF (user-defined TABLE function — one input row, many output
    rows, invoked with lateral-join semantics from SQL). Identical oracle
    and hashes as the codegen'd sequence+explode twin, which is the point:
    the UDTF is the escape hatch for row-expanding logic Catalyst can't
    express (stateful parsers, generators over opaque formats), and this
    entry pins both that the API surface WORKS end to end (registration,
    TABLE() invocation, Arrow row transport) and what it costs — the twin
    stays JVM-side, the UDTF pays a Python worker per batch. Use explode
    when SQL can express the expansion; reach for the UDTF only when it
    can't."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_start bigint, chunk_text string, chunk_len int")
    class Chunker:
        def eval(self, doc_id: int, text: str, n_chars: int):
            # NULL text / NULL n_chars must behave exactly like the
            # codegen'd twin — substring/length of NULL are NULL, and
            # Spark's greatest SKIPS the NULL operand (one start=1 row) —
            # not kill the whole query with a Python TypeError on the
            # first NULL document (r14 review; the twin and the shared
            # oracle both emit the NULL-chunk row).
            start = 1
            top = max(n_chars - 50, 1) if n_chars is not None else 1
            while start <= top:
                chunk = None if text is None else text[start - 1 : start - 1 + 200]
                yield doc_id, start, chunk, None if chunk is None else len(chunk)
                start += 150

    spark.udtf.register("chunker", Chunker)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_start, c.chunk_text, c.chunk_len
        FROM docs_for_udtf d,
             LATERAL chunker(d.doc_id, d.text, d.n_chars) c
        ORDER BY c.doc_id, c.chunk_start
        """
    )


@register(
    "corpus_perplexity_buckets",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
           FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
    c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY b),
    per AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(c.cnt) AS BIGINT) AS fam_sum
            FROM bg JOIN c USING (b) GROUP BY bg.doc_id),
    scored AS (
      SELECT t.doc_id, t.lang, per.n_bigrams,
             CAST(per.fam_sum AS DOUBLE) / CAST(per.n_bigrams AS DOUBLE)
               AS familiarity
      FROM t JOIN per USING (doc_id)),
    bucketed AS (
      SELECT *, NTILE(3) OVER (PARTITION BY lang
                               ORDER BY familiarity DESC, doc_id) AS bucket
      FROM scored)
    SELECT lang, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS bigrams_total,
           MIN(familiarity) AS fam_min, MAX(familiarity) AS fam_max
    FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing: score every document
    with the corpus-grounded fluency signal (mean corpus frequency of its
    bigram occurrences — docs_bigram_familiarity's integer-exact stand-in
    for LM perplexity), then split EACH LANGUAGE into terciles by score
    (NTILE over a per-language window ordered by familiarity desc, doc_id
    tie-break): bucket 1 = head (most fluent), 3 = tail — the partition
    CCNet feeds to downstream sampling, where training mixes
    head-heavy. Per-language windowing matters: absolute familiarity is
    not comparable across languages (corpus share differs), which is
    exactly why CCNet buckets per language. Scale shape: the scoring half
    is the familiarity plan (narrow projections, one vocab-bounded
    partial-agg join); the bucketing adds ONE lang-partitioned window —
    high-cardinality-safe because languages are few but each partition is
    streamed, not collected, and an ntile over a skewed language can be
    range-salted the same way the rank distributions entry documents.
    Double ordering is safe cross-engine: both sides divide identical
    exact bigints, yielding bit-identical IEEE doubles."""
    d = load_table(spark, sf_dir, "documents")
    per = _familiarity_per_doc(d)
    scored = d.select("doc_id", "lang").join(per, "doc_id").select(
        "doc_id",
        "lang",
        "n_bigrams",
        (F.col("fam_sum").cast("double") / F.col("n_bigrams").cast("double")).alias(
            "familiarity"
        ),
    )
    w = Window.partitionBy("lang").orderBy(F.col("familiarity").desc(), "doc_id")
    return (
        scored.withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("bigrams_total"),
            F.min("familiarity").alias("fam_min"),
            F.max("familiarity").alias("fam_max"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "corpus_gopher_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS lt, {_TOKENS_SQL} AS toks
               FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_word_len,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(length(lt) - length(replace(lt, '#', '')) AS BIGINT)
               + CAST((length(lt) - length(replace(lt, '...', ''))) // 3 AS BIGINT)
               AS n_symbols,
             CAST(CAST(list_contains(toks, 'the') AS INT)
                + CAST(list_contains(toks, 'be') AS INT)
                + CAST(list_contains(toks, 'to') AS INT)
                + CAST(list_contains(toks, 'of') AS INT)
                + CAST(list_contains(toks, 'and') AS INT)
                + CAST(list_contains(toks, 'that') AS INT)
                + CAST(list_contains(toks, 'have') AS INT)
                + CAST(list_contains(toks, 'with') AS INT) AS BIGINT)
               AS n_stop_hits
      FROM t)
    SELECT doc_id, n_words,
           CAST(sum_word_len AS DOUBLE) / CAST(n_words AS DOUBLE)
             AS mean_word_len,
           CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS frac_alpha,
           n_symbols, n_stop_hits,
           (n_words BETWEEN 50 AND 100000
            AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_stop_hits >= 2) AS keep_doc
    FROM m ORDER BY doc_id
    """,
)
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (the published MassiveText
    heuristics, deterministic subset): word count in [50, 100000], mean
    word length in [3, 10], symbol-to-word ratio ('#' plus '...'
    occurrences) ≤ 0.1, ≥80% of words containing an alphabetic character,
    and at least 2 of the 8 canonical English stop words present. The
    sibling of corpus_c4_rules: C4 filters by line shape, Gopher by
    document statistics — real pipelines run both. Every THRESHOLD is
    decided in integer cross-multiplication (3·n ≤ Σlen ≤ 10·n,
    10·symbols ≤ n, 5·alpha ≥ 4·n) so the keep/drop boundary cannot flip
    on float rounding; the reported ratio columns are one double division
    of identical exact bigints per row — bit-equal cross-engine. One
    zero-shuffle codegen'd projection (the HOF word-length fold is
    row-local, bounded by tokens per doc) — scan speed at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.lower(F.trim("text")).alias("lt"),
        tokens(F.col("text")).alias("toks"),
    )
    stop_hits = sum(
        F.array_contains("toks", w).cast("int")
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    nw, sumlen, nalpha = _gopher_stats()
    m = t.select(
        "doc_id",
        nw.alias("n_words"),
        sumlen.alias("sum_word_len"),
        nalpha.alias("n_alpha_words"),
        (
            (F.length("lt") - F.length(F.replace(F.col("lt"), F.lit("#"), F.lit(""))))
            # floor, not a bare double->long cast: the repo's cross-engine
            # rule for double->long boundaries (Spark cast truncates, DuckDB
            # rounds; the oracle's `// 3` is integer floor division). Exact
            # today because the '...' delta is a multiple of 3, but floor
            # keeps it exact if the numerator ever isn't.
            + F.floor(
                (F.length("lt") - F.length(F.replace(F.col("lt"), F.lit("..."), F.lit(""))))
                / F.lit(3)
            )
        ).cast("long").alias("n_symbols"),
        stop_hits.cast("long").alias("n_stop_hits"),
    )
    return m.select(
        "doc_id",
        "n_words",
        (F.col("sum_word_len").cast("double") / F.col("n_words").cast("double")).alias(
            "mean_word_len"
        ),
        (F.col("n_alpha_words").cast("double") / F.col("n_words").cast("double")).alias(
            "frac_alpha"
        ),
        "n_symbols",
        "n_stop_hits",
        (
            F.col("n_words").between(50, 100000)
            & (3 * F.col("n_words") <= F.col("sum_word_len"))
            & (F.col("sum_word_len") <= 10 * F.col("n_words"))
            & (10 * F.col("n_symbols") <= F.col("n_words"))
            & (5 * F.col("n_alpha_words") >= 4 * F.col("n_words"))
            & (F.col("n_stop_hits") >= 2)
        ).alias("keep_doc"),
    ).orderBy("doc_id")


@register(
    "corpus_dup_rate_by_source",
    oracle="""
    WITH d AS (SELECT doc_id, source,
                      COALESCE(md5(text), 'N:' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    g AS (SELECT h, COUNT(*) AS n_copies FROM d GROUP BY h)
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE g.n_copies > 1) AS BIGINT) AS n_dup_docs,
           CAST(COUNT(*) FILTER (WHERE g.n_copies > 1) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio,
           CAST(SUM(CASE WHEN g.n_copies > 1 THEN g.n_copies - 1 ELSE 0 END)
                AS BIGINT) AS excess_copy_weight
    FROM d JOIN g USING (h)
    GROUP BY d.source ORDER BY d.source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplication REPORT a corpus team signs off on before training:
    per source, how many documents are exact duplicates of anything in
    the corpus (corpus-WIDE md5 groups — cross-source mirroring counts,
    which per-source grouping would hide), the dup ratio, and the excess
    copy weight each doc's group carries (n_copies − 1, the amount dedup
    would remove). Two partial-aggregated shuffles total: content-hash
    groups, then a broadcast-joinable group-size table folded back per
    source — the diagnostic stage that runs BEFORE committing to the
    expensive near-dup pass, at scan cost. Ratios are one double
    division of exact counts (bit-equal cross-engine). NULL-text docs are
    their own singleton groups via a per-doc key ('N:' can't collide with
    md5 hex) — a bare md5 key made the equi-join drop them from the
    report entirely, identically in both engines, so the hash gate never
    noticed (r12 review; exact_dedup's NULL-is-missing policy)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.coalesce(
            F.md5("text"), F.concat(F.lit("N:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    g = d.groupBy("h").agg(F.count("*").alias("n_copies"))
    j = d.join(g, "h")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_copies") > 1).cast("int")).cast("long").alias("n_dup_docs"),
            (
                F.sum((F.col("n_copies") > 1).cast("int")).cast("double")
                / F.count("*").cast("double")
            ).alias("dup_ratio"),
            F.sum(
                F.when(F.col("n_copies") > 1, F.col("n_copies") - 1).otherwise(0)
            ).cast("long").alias("excess_copy_weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 8: the composed end-to-end pipeline (flagship)
# ---------------------------------------------------------------------------

#: The synthesized-URL arithmetic — genuinely shared with
#: dedup_canonical_url (llm.py) via plans/urls.py, so the e2e pipeline's
#: stage 2 and the standalone entry cannot drift apart.
from flusher_spark.plans.urls import URL_SQL as _URL_SQL  # noqa: E402
from flusher_spark.plans.urls import canonical_url_col as _canonical_url_col  # noqa: E402
from flusher_spark.plans.urls import keep_best_agg as _keep_best_agg  # noqa: E402


@register(
    "corpus_e2e_pipeline",
    oracle=rf"""
    WITH t AS (SELECT doc_id, source, n_chars, text, {_TOKENS_SQL} AS toks
               FROM documents),
    -- stage 1: document-statistics quality rules (Gopher-style)
    s1 AS (SELECT * FROM t
           WHERE len(toks) BETWEEN 50 AND 100000
             AND 3 * len(toks) <= list_sum(list_transform(toks, x -> length(x)))
             AND list_sum(list_transform(toks, x -> length(x))) <= 10 * len(toks)
             AND 5 * len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                   >= 4 * len(toks)),
    -- stage 2: canonical-URL dedup, keep-best = longest text then lowest id
    u AS (SELECT doc_id, n_chars,
            regexp_replace(regexp_replace(replace(lower(regexp_replace(
              {_URL_SQL},
              '\?utm_[a-z_]+=[a-z]+$', '')), '://www.', '://'),
              '^http://', 'https://'), '/$', '') AS curl
          FROM s1),
    kept_url AS (SELECT doc_id FROM (
          SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY curl
                 ORDER BY n_chars DESC, doc_id) AS rn FROM u) WHERE rn = 1),
    s2 AS (SELECT t.* FROM t JOIN kept_url USING (doc_id)),
    -- stage 3: exact 3-gram Jaccard >= 0.5; the lower doc id is canonical
    sh AS (SELECT doc_id,
                  list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
           FROM s2 WHERE len(toks) >= 3),
    inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    keep_s AS (SELECT s FROM inv GROUP BY s HAVING COUNT(*) <= 1000),
    inv2 AS (SELECT inv.doc_id, inv.s FROM inv JOIN keep_s USING (s)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM inv2 a JOIN inv2 b ON a.s = b.s AND a.doc_id < b.doc_id),
    dup_b AS (SELECT DISTINCT doc_b FROM cand
              JOIN sh sa ON sa.doc_id = cand.doc_a
              JOIN sh sb ON sb.doc_id = cand.doc_b
              WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                         AS DOUBLE) >= 0.5),
    s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM dup_b)),
    -- stage 4: decontamination vs the held-out eval split (interpolated
    -- DECON_N / DECON_EVAL_MOD, so a constant retune cannot silently
    -- decouple this oracle from decontaminate_ngram_overlap — the same
    -- treatment stage 6 already gives PACK_BUCKETS/PACK_BUDGET):
    -- eval docs drop, training docs with >= 50% distinct-ngram overlap drop
    g_all AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{DECON_N - 1}], ' ') AS s
              FROM t, UNNEST(generate_series(1, len(toks) - {DECON_N - 1})) AS u(i)),
    ev AS (SELECT DISTINCT s FROM g_all WHERE doc_id % {DECON_EVAL_MOD} = 0),
    tr AS (SELECT g_all.* FROM g_all JOIN s3 USING (doc_id)
           WHERE g_all.doc_id % {DECON_EVAL_MOD} <> 0),
    ratio AS (SELECT tr.doc_id, COUNT(*) AS n_sh,
                     SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
              FROM tr LEFT JOIN ev ON tr.s = ev.s GROUP BY tr.doc_id),
    s4 AS (SELECT s3.* FROM s3 JOIN ratio USING (doc_id)
           WHERE 2 * ratio.n_ov < ratio.n_sh),
    -- stage 5: mixture reweighting to a uniform per-source token target
    per AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS nt FROM s4),
    agg AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM per GROUP BY source),
    mix AS (SELECT source,
              CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE),
                (CAST(1.0 AS DOUBLE) / CAST(COUNT(*) OVER () AS DOUBLE))
                  / (CAST(n_tokens AS DOUBLE)
                     / CAST(SUM(n_tokens) OVER () AS DOUBLE))
              ) * 1000000) AS BIGINT) AS keep_below FROM agg),
    -- null-safe source join: a NULL-source doc that survived stages 1-4
    -- must reach packing, not silently drop at the mixture join (r12
    -- review; both engines dropped it identically, invisible to the gate)
    s5 AS (SELECT per.* FROM per JOIN mix
           ON per.source IS NOT DISTINCT FROM mix.source
           WHERE CAST(('0x' || substr(md5(CAST(per.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 1000000 < mix.keep_below),
    -- stage 6: contiguous-fill sequence packing (PACK_BUCKETS streams x
    -- PACK_BUDGET tokens, interpolated so a constant retune cannot
    -- silently decouple this oracle from _pack_rollup)
    c AS (SELECT doc_id % {PACK_BUCKETS} AS bucket, doc_id, nt,
                 SUM(nt) OVER (PARTITION BY doc_id % {PACK_BUCKETS} ORDER BY doc_id, nt
                               ROWS UNBOUNDED PRECEDING) AS cum
          FROM s5)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST((cum - nt) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS pack_tokens
    FROM c GROUP BY bucket, CAST((cum - nt) // {PACK_BUDGET} AS BIGINT)
    ORDER BY bucket, pack_id
    """,
)
def corpus_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COMPOSED CORPUS PIPELINE — every prep stage this engine ships,
    run as ONE lazy plan from raw crawl to tokenizer input: quality rules
    -> canonical-URL dedup -> near-dup removal -> benchmark
    decontamination -> mixture reweighting -> sequence packing. Each
    stage is the exact mechanism its standalone entry oracle-checks
    (corpus_gopher_rules' integer cross-multiplied stats rules;
    dedup_canonical_url's canonicalize + keep-best; dedup_ngram_jaccard's
    inverted-index pairs — the exact twin standing in for MinHash-LSH so
    the WHOLE pipeline stays hash-checkable, same pair schema to swap at
    scale; decontaminate_ngram_overlap's broadcast eval set;
    corpus_source_mix/_apply's uniform-target hash downsample;
    pack_sequences_fill's bucketed contiguous fill). Fixture adaptation,
    stated not hidden: the C4 line rules and Gopher stop-word rule would
    keep ZERO synthetic-fixture docs (no terminal punctuation, no English
    function words — their mechanisms are oracle-checked in their own
    entries), so stage 1 applies the document-STATISTICS rules that do
    bite (word count/length/alpha fraction); near-dup keep-one here is
    the pairwise lower-id rule (single join) rather than the iterative
    transitive-cluster rule, documented divergence. Scale shape: no
    stage materializes — one plan, whose wide ops are the stages' own
    bounded shuffles (stats filter is scan-local; URL keep-best one
    hash shuffle; jaccard the inverted-index equi-join, never all-pairs;
    decon a broadcast semi-probe; mix a #sources broadcast; packing one
    bucket-partitioned window over 8 independent streams)."""
    from flusher_spark.operators.dedup import ngram_jaccard_pairs

    return _e2e_pipeline(
        spark, sf_dir,
        lambda s2: ngram_jaccard_pairs(s2, n=3, threshold=0.5, max_bucket=1000),
    )


@register("corpus_e2e_pipeline_minhash")
def corpus_e2e_pipeline_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[corpus_e2e_pipeline] with the REAL MinHash-LSH near-dup stage
    swapped in for the exact-Jaccard stand-in — the swap-at-scale claim
    the exact entry's docstring makes, executed instead of asserted. Same
    six stages, same pair schema (doc_a, doc_b), same downstream plan;
    only stage 3's pair generator differs (operators/dedup.py::
    minhash_lsh_pairs — banded signatures, bucket-capped candidate
    self-join, exact-Jaccard verification at the same 0.5 threshold).
    Because banding can MISS true pairs (candidates ⊆ all pairs, each
    verified exactly), this pipeline's stage-3 survivor set is a SUPERSET
    of the exact pipeline's — pinned by tests/test_corpus.py::
    test_minhash_near_dup_drops_subset_of_exact — and the driver check is
    rows-only by design (the miss set depends on the permutation seed and
    banding geometry, not SQL-expressible arithmetic)."""
    from flusher_spark.operators.dedup import minhash_lsh_pairs

    return _e2e_pipeline(
        spark, sf_dir,
        lambda s2: minhash_lsh_pairs(s2, shingle_n=3, threshold=0.5, max_bucket=1000),
    )


def _e2e_pipeline(spark: SparkSession, sf_dir: str, near_dup_pairs) -> DataFrame:
    """Shared six-stage corpus pipeline body; ``near_dup_pairs`` maps the
    stage-2 survivor DataFrame to a (doc_a, doc_b, ...) near-dup pair
    DataFrame (higher id drops) — the one pluggable stage.

    Checkpoint-overlap was built and MEASURED this round, then reverted
    (composed-e2e A/B 1.10×): under AQE a lazy localCheckpoint executes
    its upstream stages at CALL time, so plan construction (single-
    threaded) never holds two pending checkpoint builds to overlap, and
    the non-checkpointed subtrees (decon eval broadcast) already overlap
    inside the action under AQE's scheduler. See OPTIMIZATION_r15.md."""
    from flusher_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", "n_chars", "text", tokens(F.col("text")).alias("toks"))
    nw, sumlen, nalpha = _gopher_stats()
    s1 = t.where(
        nw.between(50, 100000)
        & (3 * nw <= sumlen)
        & (sumlen <= 10 * nw)
        & (5 * nalpha >= 4 * nw)
    )
    curl = _canonical_url_col(F.expr(_URL_SQL))
    best = _keep_best_agg()
    kept_url = (
        s1.select("doc_id", "n_chars", curl.alias("curl"))
        .groupBy("curl")
        .agg(best.alias("b"))
        .select((-F.col("b.negid")).alias("doc_id"))
    )
    s2 = t.join(kept_url, "doc_id", "left_semi")
    pairs = near_dup_pairs(s2)
    s3 = s2.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    ratio = _decon_counts(d, s3, DECON_N, DECON_EVAL_MOD)
    s4 = s3.join(ratio, "doc_id").where(2 * F.col("n_overlap") < F.col("n_shingles"))
    per = s4.select("doc_id", "source", F.size("toks").cast("long").alias("nt"))
    _share, frac = _mix_cols()
    mix = (
        per.groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
        .select(
            "source",
            F.floor(frac * 1_000_000).cast("long").alias("keep_below"),
        )
    )
    # eqNullSafe: a NULL-source survivor must meet its own mix row, not
    # silently vanish at the equi-join (r12 review)
    s5 = (
        per.alias("p")
        .join(
            F.broadcast(mix).alias("m"),
            F.col("p.source").eqNullSafe(F.col("m.source")),
        )
        .where(hash_bucket(F.col("p.doc_id"), 1_000_000) < F.col("m.keep_below"))
        .select(F.col("p.doc_id").alias("doc_id"), F.col("p.nt").alias("nt"))
    )
    return _pack_rollup(s5, "nt")


register_sql(
    "corpus_k_anonymity",
    sql="""
    WITH sized AS (
      SELECT lang, source, n_chars,
             COUNT(*) OVER (PARTITION BY lang, source) AS grp_n
      FROM documents),
    generalized AS (
      SELECT CASE WHEN grp_n >= 10 THEN lang ELSE '*' END AS lang_out,
             CASE WHEN grp_n >= 10 THEN source ELSE '*' END AS source_out,
             n_chars
      FROM sized)
    SELECT lang_out, source_out,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM generalized GROUP BY lang_out, source_out
    ORDER BY lang_out, source_out
    """,
    doc="""K-ANONYMITY suppression over a quasi-identifier tuple — the
    release-safety gate a training-data pipeline runs before shipping
    per-document metadata: any (lang, source) combination carried by
    fewer than k=10 documents is generalized to '*' so no document is
    attributable to a group smaller than k. One window COUNT over the QI
    tuple (one shuffle, map-side-combinable re-aggregate after) — never a
    self-join. The single-pass form is the standard Mondrian-style first
    cut: the residual '*'-pooled group can itself be inspected against k
    from this output (it aggregates ALL suppressed rows, so it is the
    LARGEST pool available — iterating generalization levels is a policy
    loop over this same primitive, not a different operator). Counts and
    char totals are exact integers — bit-stable on both engines.""",
)


@register(
    "corpus_domain_quota",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(CASE WHEN rk <= 10 THEN 1 END) AS BIGINT) AS n_kept,
           CAST(COUNT(CASE WHEN rk > 10 THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rk <= 10 THEN n_chars END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOMAIN QUOTA capping — the Common-Crawl-style balancing step
    that stops one mega-domain from dominating a training mix: keep at
    most Q=10 documents per source, preferring the longest (n_chars DESC,
    doc_id as the deterministic tie-break), and report kept/dropped
    volume per source. Windowed rank-filter is the Spark idiom: one
    shuffle on source, rank + conditional aggregate in the same pass —
    never a per-domain collect or a self-join against a count table. At
    100 TB the known hazard is domain skew (one source holding 10% of
    the corpus): the window sort for a single key lands on one partition,
    so the scale path pre-prunes each ingest partition down to its local
    top-Q before the global rank (domain_quota_report with
    skew_precombine=True → operators/ranking.py::topk_per_group_skew;
    output equality with the direct form and the partition-balance claim
    are asserted in tests/test_corpus.py). At fixture scale the direct
    rank is the right plan and the output contract is identical."""
    return domain_quota_report(load_table(spark, sf_dir, "documents"), q=10)


def domain_quota_report(d: DataFrame, q: int = 10, skew_precombine: bool = False) -> DataFrame:
    """Per-source quota report: (source, n_total, n_kept, n_dropped,
    kept_chars) keeping the q longest documents per source.

    ``skew_precombine=False``: one window + conditional aggregate on one
    source-shuffle — the right plan when no single source dwarfs a task.

    ``skew_precombine=True``: the mega-domain path. Kept rows come from
    topk_per_group_skew (local per-ingest-partition top-q prune, then a
    global rank over ≤ q × partitions candidates per source); totals come
    from a separate map-side-combinable count — partial aggregation absorbs
    the skew before the shuffle, so no task ever sorts a whole mega-domain.
    Same output, bit for bit (asserted in tests/test_corpus.py)."""
    if skew_precombine:
        from flusher_spark.operators.ranking import topk_per_group_skew

        kept = topk_per_group_skew(
            d.select("source", "n_chars", "doc_id"),
            ["source"],
            [F.col("n_chars").desc(), F.col("doc_id")],
            k=q,
        )
        kept_agg = kept.groupBy("source").agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        totals = d.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
        # NULL-SAFE join: groupBy keeps a NULL-source group on both sides
        # (the direct window path reports it too), but a plain equi-join
        # would drop it — the one input class where the two forms could
        # silently diverge (r11 review; NULL sources are in the equality
        # test now).
        return (
            totals.alias("t")
            .join(
                kept_agg.alias("ka"),
                F.col("t.source").eqNullSafe(F.col("ka.source")),
            )  # inner: every source group has ≥1 kept row by construction
            .select(
                F.col("t.source").alias("source"),
                "n_total",
                "n_kept",
                (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
                "kept_chars",
            )
            .orderBy("source")
        )
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    ranked = d.select("source", "n_chars", F.row_number().over(w).alias("rk"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.count(F.when(F.col("rk") <= q, F.lit(1))).cast("long").alias("n_kept"),
            F.count(F.when(F.col("rk") > q, F.lit(1))).cast("long").alias("n_dropped"),
            F.sum(F.when(F.col("rk") <= q, F.col("n_chars"))).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )
