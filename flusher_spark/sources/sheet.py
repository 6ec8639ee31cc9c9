"""Worksheet sources: the reference's export semantics on Spark.

The reference reads a Google Sheets worksheet (optionally an A1 cell range)
as an untyped cell grid and defers all typing to the BigQuery autodetect load
(reference export.py:35-66, bigquery.py:22-23). Here:

- ``SheetGrid`` models a worksheet as an in-memory grid of strings (the unit
  a Sheets API fetch returns; a spreadsheet is ≤10M cells by Google's own
  limit, so a driver-side fetch + ``createDataFrame`` is the right scale
  trade-off — the *data lake* side is where 100 TB lives, not the
  control-plane spreadsheets).
- ``read_sheet`` applies the A1 range view (column projection + row slice —
  reference export.py:46-51) with the CORRECT base-26 column arithmetic
  (the reference's is broken past column Z, export.py:22-24; see
  functions/a1.py).
- ``infer_schema`` / ``cast_with_schema`` are the explicit two-stage
  untyped→typed model replacing per-load autodetect: inference is a real
  Spark job over the string DataFrame, and the result is a pinned schema the
  caller persists per job (schema-drift detection instead of silent
  re-inference — fixing a documented hazard of the reference design).
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flusher_spark.functions.a1 import parse_a1_range


@dataclass
class SheetGrid:
    """An untyped worksheet: rows of string cells; first row is the header
    when ``header`` is True (reference get_all_values semantics)."""

    name: str
    rows: list[list[str]] = field(default_factory=list)
    header: bool = True

    @classmethod
    def from_csv(cls, name: str, text: str, header: bool = True) -> SheetGrid:
        return cls(name, [list(r) for r in csv.reader(io.StringIO(text))], header)

    @property
    def num_rows(self) -> int:
        return len(self.rows)

    @property
    def num_columns(self) -> int:
        return max((len(r) for r in self.rows), default=0)


@dataclass
class SheetSource:
    """A 'spreadsheet service': named documents each holding named sheets.
    Stands in for the Sheets API client; tests and local pipelines populate
    it directly, a real deployment would back it with the HTTP fetch."""

    documents: dict[str, dict[str, SheetGrid]] = field(default_factory=dict)

    def open(self, document: str) -> dict[str, SheetGrid]:
        if document not in self.documents:
            raise KeyError(f"document not found: {document!r}")
        return self.documents[document]

    def worksheet(self, document: str, sheet: str = "") -> SheetGrid:
        doc = self.open(document)
        if not sheet:
            # Reference: empty Sheet ⇒ first worksheet (export.py:38-39).
            # A document with zero sheets must raise the KeyError shape
            # translate_error enriches, not a bare StopIteration.
            if not doc:
                raise KeyError(f"worksheet not found: document {document!r} has no sheets")
            return next(iter(doc.values()))
        if sheet not in doc:
            raise KeyError(f"worksheet not found: {sheet!r} (available: {sorted(doc)})")
        return doc[sheet]

    def available_sheets(self, document: str) -> list[str]:
        return sorted(self.open(document))


def normalize_header_names(names: list[str], start_col: int = 1) -> list[str]:
    """Make worksheet header names usable as DataFrame column names: empty
    headers become ``col_<index>`` (1-based grid column), and duplicates get
    a ``_2``/``_3``… suffix (first occurrence keeps the raw name). Duplicate
    headers are legal in a spreadsheet but break ``F.col`` resolution with
    AMBIGUOUS_REFERENCE downstream (infer_schema / cast_with_schema)."""
    out: list[str] = []
    seen: dict[str, int] = {}
    for i, raw in enumerate(names, start=start_col):
        name = raw if raw else f"col_{i}"
        if name in seen:
            k = seen[name] + 1
            while f"{name}_{k}" in seen:
                k += 1
            seen[name] = k
            name = f"{name}_{k}"
        seen.setdefault(name, 1)
        out.append(name)
    return out


def resolve_view(header, width: int, cellrange: str):
    """Resolve an A1 cell range against a grid of ``width`` columns:
    ``(col_lo, col_hi, normalized column names)``. ONE definition of the
    worksheet VIEW semantics — the column clamp, the loud
    starts-past-last-column guard, header padding to the view width, and
    ``col_<N>`` naming — shared by :func:`read_sheet` and the registrable
    DataSource's ``schema()`` (r13 recorded the two hand-kept copies
    drifting once: the datasource silently truncated cells read_sheet
    exposed; r14 hoists so the next divergence is impossible). Row bounds
    stay with the callers — the datasource pushes them into partition
    planning instead."""
    col_lo, col_hi = 1, width
    if cellrange:
        rng = parse_a1_range(cellrange)
        col_lo, col_hi = rng.col_start, min(rng.col_end, width)
        if col_lo > width:
            # Loud, not a 0-column frame (r11 review): a range starting
            # past the last column must fail at planning with the real
            # story, not produce a negative-width schema.
            raise ValueError(
                f"cell range {cellrange!r} starts at column {col_lo}, but the "
                f"sheet has only {width} column(s)"
            )
    w = col_hi - col_lo + 1
    names = [str(h) for h in header[col_lo - 1 : col_hi]]
    # A header row narrower than the widest data row still names a column
    # per grid column — pad so the schema covers every cell.
    names += [""] * (w - len(names))
    return col_lo, col_hi, normalize_header_names(names, start_col=col_lo)


def read_sheet(
    spark: SparkSession,
    grid: SheetGrid,
    cellrange: str = "",
) -> DataFrame:
    """Untyped scan of a worksheet (or an A1 sub-rectangle) as a DataFrame of
    strings. Row bounds are 1-based inclusive spreadsheet coordinates
    counting the header as row 1, like A1 notation; open-ended ranges
    (``A2:F``) run to the last row (reference export.py:47-48)."""
    rows = grid.rows
    ncols = grid.num_columns
    row_lo, row_hi = 1, len(rows)
    has_header = bool(grid.header and grid.rows)
    col_lo, col_hi, names = resolve_view(
        rows[0] if has_header else [], ncols, cellrange
    )
    if cellrange:
        rng = parse_a1_range(cellrange)
        if rng.row_start is not None:
            row_lo = rng.row_start
        if rng.row_end is not None:
            row_hi = min(rng.row_end, len(rows))
    width = col_hi - col_lo + 1
    if has_header:
        # A range that excludes row 1 still needs the header names.
        data_rows = rows[max(row_lo, 2) - 1 : row_hi]
    else:
        data_rows = rows[row_lo - 1 : row_hi]

    # One slice per row (it was computed twice — once for values, once for
    # the padding length — in the hot driver loop feeding createDataFrame).
    padded = [
        [str(c) if c is not None else "" for c in sl] + [""] * (width - len(sl))
        for sl in (r[col_lo - 1 : col_hi] for r in data_rows)
    ]
    schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    return spark.createDataFrame(padded, schema)


# -- untyped → typed ---------------------------------------------------------

_BOOL_VALUES = {"true", "false", "yes", "no"}


def infer_schema(df: DataFrame) -> T.StructType:
    """Infer a typed schema from a string DataFrame — the explicit stand-in
    for BigQuery autodetect (reference bigquery.py:22-23), computed as ONE
    distributed aggregation (no driver-side row scan): a column is long if
    every non-empty cell casts to long, else double, else timestamp, else
    boolean, else string."""
    checks = []
    for name in df.columns:
        c = F.when(F.col(name) == "", None).otherwise(F.col(name))
        checks.extend(
            [
                F.min(c.isNull() | c.try_cast("long").isNotNull()).alias(f"{name}__long"),
                F.min(c.isNull() | c.try_cast("double").isNotNull()).alias(f"{name}__double"),
                F.min(c.isNull() | c.try_cast("timestamp_ntz").isNotNull()).alias(
                    f"{name}__timestamp"
                ),
                F.min(c.isNull() | F.lower(c).isin(*_BOOL_VALUES)).alias(f"{name}__boolean"),
                F.max(c.isNotNull()).alias(f"{name}__nonempty"),
            ]
        )
    row = df.agg(*checks).collect()[0].asDict()

    fields = []
    for name in df.columns:
        if not row[f"{name}__nonempty"]:
            dtype: T.DataType = T.StringType()
        elif row[f"{name}__long"]:
            dtype = T.LongType()
        elif row[f"{name}__double"]:
            dtype = T.DoubleType()
        elif row[f"{name}__timestamp"]:
            dtype = T.TimestampNTZType()
        elif row[f"{name}__boolean"]:
            dtype = T.BooleanType()
        else:
            dtype = T.StringType()
        fields.append(T.StructField(name, dtype, True))
    return T.StructType(fields)


def _typed_expr(field: T.StructField):
    """The try_cast expression applying one pinned field to its raw string
    column (empty string ⇒ NULL first, then the cast)."""
    c = F.when(F.col(field.name) == "", None).otherwise(F.col(field.name))
    if isinstance(field.dataType, T.BooleanType):
        # try_cast semantics by hand: junk outside the accepted boolean
        # vocabulary must become NULL (drift), not False.
        lc = F.lower(c)
        return F.when(lc.isin("true", "yes"), F.lit(True)).when(
            lc.isin("false", "no"), F.lit(False)
        )
    if isinstance(field.dataType, T.StringType):
        return c
    return c.try_cast(field.dataType.simpleString())


def cast_with_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Apply a pinned schema to a string DataFrame. ``try_cast`` semantics:
    drifted cells become NULL rather than failing the load; callers can count
    nulls to detect drift (tests/test_etl.py)."""
    return df.select(*[_typed_expr(f_).alias(f_.name) for f_ in schema.fields])


def schema_drift(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Per-column count of cells that no longer fit the pinned schema —
    the drift report the reference could never produce.

    Computed as ONE aggregation over ``df``: a cell drifts when its raw value
    is non-empty but its typed cast is NULL. (A previous version evaluated
    raw and typed as two separate plans zipped on monotonically_increasing_id,
    which Spark does not guarantee to align across plans.)"""
    checks = [
        F.sum(
            (
                F.when(F.col(f_.name) == "", None).otherwise(F.col(f_.name))
            ).isNotNull().cast("long")
            * _typed_expr(f_).isNull().cast("long")
        ).alias(f_.name)
        for f_ in schema.fields
    ]
    return df.agg(*checks)
