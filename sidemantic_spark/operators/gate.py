"""The one size gate of the data-pipeline operators: every choice between
a small-input and a corpus-scale path (broadcast or shuffle, checkpoint
or recompute, spread or pass through, collect to the driver or not)
reads a :func:`probe` or a :func:`fetch` against the two constants
below; tests reach the corpus paths by patching them."""

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
    def dup_heavy(self) -> bool:
        """>= 15% of rows repeat the ``distinct`` expression: the
        exact-duplicate collapse prepass pays for itself. The ~2% HLL
        error only moves the gate; results never depend on it."""
        return self.rows > 0 and (self.rows - self.distinct) / self.rows >= 0.15


def fixed_width(df: DataFrame, col: str) -> int:
    """Spark's per-value size of ``col`` (``DataType.defaultSize``)."""
    return df._jdf.schema().apply(col).dataType().defaultSize()


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

    Without ``distinct`` the scan stops after ``limit + 1`` rows
    (CollectLimit short-circuits, so the probe costs O(limit) rows even
    on a 100 TB input); ``limit`` defaults to the most rows of the
    fixed width that fit :data:`BUDGET_BYTES`. With ``distinct`` the
    probe is a full map-side-combined scan that also counts the
    approximate distinct values of that expression.
    """
    var = [c for c in cols if isinstance(df.schema[c].dataType, (StringType, BinaryType))]
    width = row_bytes + sum(fixed_width(df, c) for c in cols if c not in var)
    sums = [F.sum(F.octet_length(c)) for c in var]
    # collect()/count(), not first(): no CollectLimit over a one-row result
    if distinct is not None:
        r = df.agg(F.count(F.lit(1)), F.approx_count_distinct(distinct), *sums).collect()[0]
        rows = int(r[0])
        return Probe(rows, rows * width + sum(v or 0 for v in r[2:]), int(r[1]))
    if limit is None:
        limit = _row_limit(width)
    head = df.select(*(cols or [F.lit(1)])).limit(limit + 1)
    if sums:
        r = head.agg(F.count(F.lit(1)), *sums).collect()[0]
        rows, var_bytes = int(r[0]), sum(v or 0 for v in r[1:])
    else:
        rows, var_bytes = head.count(), 0
    if rows > limit:
        return Probe(rows, None)
    return Probe(rows, rows * width + var_bytes)


def fetch(df: DataFrame, cols: tuple[str, ...]) -> pa.Table | None:
    """``cols`` of ``df`` as one Arrow table on the driver, or None when
    they exceed :data:`BUDGET_BYTES`. ONE job shaped like the bounded
    :func:`probe`: it stops after the rows of the columns' fixed width
    (20 bytes a string) that fit, plus one; the table's bytes decide."""
    limit = _row_limit(sum(fixed_width(df, c) for c in cols))
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
