"""The one size gate of the data-pipeline operators: every choice between
a small-input and a corpus-scale path (broadcast or shuffle, checkpoint
or recompute, spread or pass through, run the kernels on the driver or
not) reads a :func:`probe` or a :func:`fetch` against the three
constants below; tests reach either path by patching them."""

from __future__ import annotations

from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

if TYPE_CHECKING:
    import pyarrow as pa

# Most bytes an operator may broadcast or locally checkpoint (the
# benchmarks' spark.sql.autoBroadcastJoinThreshold is the same 64 MB).
BUDGET_BYTES = 64 << 20
# "Small corpus" row bound: alone it gates the spread choice (a
# parallelism choice, not a memory one).
SMALL_ROWS = 100_000
# Most bytes of kernel input (the probed text, with an id and a flag
# per row for decontaminate, or id + vector + norm per row for
# embeddings) that a dedup operator fetches and runs its kernels on in
# the driver process: below it Spark's fixed cost (jobs, shuffles,
# Python-worker tasks) outweighs one single-threaded pass; above it the
# kernel work and the candidate pairs grow past that cost, minhash
# first (4 cores: the driver wins every operator at 1.5 MB of text,
# minhash loses at 15 MB; SCALING.md "Driver path crossover", which
# `scripts/scale_check.py --crossover` re-measures).
DRIVER_BYTES = 2 << 20


class Probe(NamedTuple):
    # exact, or the probe's row limit + 1 when the scan stopped early
    rows: int
    # bytes of the probed columns; None when the scan stopped early
    bytes: int | None
    # approximate distinct count of the probe's ``distinct`` expression
    distinct: int | None = None

    @property
    def fits(self) -> bool:
        """The probed columns may be broadcast or locally checkpointed."""
        return self.bytes is not None and self.bytes <= BUDGET_BYTES

    @property
    def small(self) -> bool:
        return self.rows <= SMALL_ROWS and self.fits

    @property
    def tiny(self) -> bool:
        """The probed kernel input is small enough to fetch and run on
        the driver (:data:`DRIVER_BYTES`, and within the budget)."""
        return self.fits and self.bytes <= DRIVER_BYTES

    @property
    def dup_heavy(self) -> bool:
        """>= 15% of rows repeat the ``distinct`` expression: the
        exact-duplicate collapse prepass pays for itself. The ~2% HLL
        error only moves the gate; results never depend on it."""
        return self.rows > 0 and (self.rows - self.distinct) / self.rows >= 0.15


def fixed_width(df: DataFrame, col: str) -> int:
    """Spark's per-value size of ``col`` (``DataType.defaultSize``)."""
    return df._jdf.schema().apply(col).dataType().defaultSize()


def _var_width(df: DataFrame, cols: tuple[str, ...]) -> list[str]:
    """The string and binary columns of ``cols``: no fixed width."""
    return [c for c in cols if isinstance(df.schema[c].dataType, (StringType, BinaryType))]


def _row_limit(width: int) -> int:
    return BUDGET_BYTES // max(width, 1)


def probe(
    df: DataFrame,
    cols: tuple[str, ...] = (),
    *,
    row_bytes: int = 0,
    limit: int | None = None,
    distinct: Column | None = None,
) -> Probe:
    """Rows and bytes of ``df`` in ONE Spark job that reads only ``cols``.

    Row width = ``row_bytes`` (sized by the caller, e.g. vectors) + the
    fixed width of each fixed-width column in ``cols`` + the summed
    ``octet_length`` of each string or binary column in ``cols``.

    Without ``distinct`` each partition's scan stops after ``limit + 1``
    rows (a LocalLimit), and only those rows, strings as their lengths,
    cross one single-partition exchange: the probe reads O(limit) rows
    a partition, whatever the input's size; ``limit`` defaults to the
    most rows of the fixed width that fit :data:`BUDGET_BYTES`. With
    ``distinct`` the probe is a full map-side-combined scan that also
    counts the approximate distinct values of that expression.
    """
    var = _var_width(df, cols)
    width = row_bytes + sum(fixed_width(df, c) for c in cols if c not in var)
    lens = [F.octet_length(c) for c in var]
    # collect()/count(), not first(): no CollectLimit over a one-row result
    if distinct is not None:
        r = df.agg(
            F.count(F.lit(1)), F.approx_count_distinct(distinct), *[F.sum(n) for n in lens]
        ).collect()[0]
        rows = int(r[0])
        return Probe(rows, rows * width + sum(v or 0 for v in r[2:]), int(r[1]))
    if limit is None:
        limit = _row_limit(width)
    head = df.select(*([n.alias(f"__len{i}") for i, n in enumerate(lens)] or [F.lit(1)]))
    head = head.limit(limit + 1)
    if lens:
        r = head.agg(F.count(F.lit(1)), *[F.sum(c) for c in head.columns]).collect()[0]
        rows, var_bytes = int(r[0]), sum(v or 0 for v in r[1:])
    else:
        rows, var_bytes = head.count(), 0
    if rows > limit:
        return Probe(rows, None)
    return Probe(rows, rows * width + var_bytes)


def fetch(df: DataFrame, cols: tuple[str, ...], size: Probe | None = None) -> pa.Table | None:
    """``cols`` of ``df`` as one Arrow table on the driver, or None when
    they exceed :data:`BUDGET_BYTES`. ONE job shaped like the bounded
    :func:`probe`: it stops after the rows that fit, plus one; the
    table's bytes decide.

    The rows that fit come from ``size``, the caller's probe of these
    rows, when given (None when it does not fit: nothing is collected).
    Without it they come from the columns' fixed widths, which a
    string or binary column does not have: one over-long value per row
    would collect many times the budget before the bytes are checked,
    so such columns are probed here first (one more job)."""
    if size is None and _var_width(df, cols):
        size = probe(df, cols)
    if size is None:
        limit = _row_limit(sum(fixed_width(df, c) for c in cols))
    elif size.fits:
        limit = size.rows
    else:
        return None
    table = df.select(*cols).limit(limit + 1).toArrow()
    if table.num_rows > limit or table.nbytes > BUDGET_BYTES:
        return None
    return table


def spread(df: DataFrame, rows: int) -> DataFrame:
    """Repartition a small input (one or two scan partitions, CPU-bound
    stages downstream) to the session's parallelism. Larger inputs pass
    through: their scan is already split-parallel."""
    if rows <= SMALL_ROWS:
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df
