"""Report assembly: the ragged side-by-side summary + CSV sinks.

The reference pads three independent lists (missing-in-db1 ids,
missing-in-db2 ids, differing-value dicts) with ``None`` to equal
length and writes them as three columns (running_validation.py:262-275
and the string/date twins). Positional alignment is meaningless — it
is pure presentation — but the shape is part of the tool's contract,
so we reproduce it *distributed*: rank each list by id, then put the
i-th element of every list on row i.

Scale note: the naive encoding (``row_number() OVER (ORDER BY id)``)
serializes into a single-partition sort. Every rank here goes through
one sort-based primitive, ``grouped_row_number`` (``global_row_number``
is its group-less form): range-partition once on (group, order) keys,
sort within partitions, read each row's position from
``monotonically_increasing_id``, and add per-(partition, group)
offsets from a tiny count table. No ``Window``, no second exchange,
no single-task sort — so even a pathological discrepancy report
(everything differs) stays parallel. The three result DataFrames
remain the primary (unbounded) API; ``report_summary`` is the
presentation-compat sink on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .reconcile import ReconcileResult

# The rank primitive pins its numbered frame (see _rank): the pin
# must outlive the function, until the caller materializes the
# returned frame, so it is registered in the shared util registry.
# write_reports releases its own pin when its writes finish; other
# callers' pins go with the next release_pins().
from ..util import _PINNED, pin, release_pins as release_rank_pins, unpin  # noqa: F401

# monotonically_increasing_id() packs (partition index << 33) | row
# position within the partition.
_PID_SHIFT = 33


def _as_list(cols: str | list[str] | tuple[str, ...]) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def _rank(
    df: DataFrame,
    groups: list[str],
    orders: list[str],
    rn_col: str,
    partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(``df`` plus a 1-based bigint ``rn_col`` ranking rows by
    ``orders`` within each ``groups`` value, the pinned frame behind
    it).

    Range-partitioning on (groups, orders) puts each group in a run of
    consecutive partitions, and the sort inside each partition makes a
    group's rows contiguous there, so
    ``rn = mid − min(mid over (pid, group)) + rows of the group in
    earlier partitions + 1`` with ``mid`` the row's
    ``monotonically_increasing_id`` and ``pid = mid >> 33``. The last
    two terms come from one count/min aggregation over the
    ≤ partitions × |groups| (pid, group) pairs and its triangular
    self-join, broadcast back as a single per-pair shift.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in groups + orders]
    # pin: the numbered frame feeds both the shift table and the final
    # join. RangePartitioner samples its bounds per evaluation, so
    # without the pin the two branches can see different partition
    # assignments and the shifts stop matching the row positions.
    numbered = pin(
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
    )
    stats = numbered.groupBy(
        F.shiftright("__mid", _PID_SHIFT).alias("__pid"), *groups
    ).agg(F.count("*").alias("__cnt"), F.min("__mid").alias("__base"))
    # null-safe on the group key: a plain equality would drop NULL-group
    # rows, which row_number() OVER (PARTITION BY …) ranks as a group.
    earlier = F.col("b.__pid") < F.col("a.__pid")
    for c in groups:
        earlier = earlier & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    shifts = (
        stats.alias("a")
        .join(F.broadcast(stats).alias("b"), earlier, "left")
        .groupBy(
            F.col("a.__pid").alias("__pid"),
            *[F.col(f"a.{c}").alias(c) for c in groups],
        )
        .agg(
            (F.coalesce(F.sum("b.__cnt"), F.lit(0)) - F.min("a.__base") + 1).alias(
                "__shift"
            )
        )
    )
    back = F.shiftright(F.col("l.__mid"), _PID_SHIFT) == F.col("s.__pid")
    for c in groups:
        back = back & F.col(f"l.{c}").eqNullSafe(F.col(f"s.{c}"))
    ranked = (
        numbered.alias("l")
        .join(F.broadcast(shifts).alias("s"), back)
        .select("l.*", (F.col("l.__mid") + F.col("s.__shift")).alias(rn_col))
        .drop("__mid")
    )
    return ranked, numbered


def grouped_row_number(
    df: DataFrame,
    group_cols: str | list[str] | tuple[str, ...],
    order_cols: str | list[str] | tuple[str, ...],
    rn_col: str = "rn",
    partitions: int | None = None,
) -> DataFrame:
    """Per-group 1-based bigint rank: the distributed form of
    ``row_number() OVER (PARTITION BY group ORDER BY key)`` for when a
    SINGLE group's rows outgrow one partition (a bounded-cardinality
    group key — language, event type — over a data-grain frame, where
    the plain window sends a whole group to one reducer). An empty
    ``group_cols`` ranks the whole frame; see ``_rank`` for the plan.
    """
    return _rank(df, _as_list(group_cols), _as_list(order_cols), rn_col, partitions)[0]


def global_row_number(
    df: DataFrame,
    order_col: str | list[str] | tuple[str, ...],
    rn_col: str = "rn",
    partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank by ``order_col`` (one column name or a
    sequence for a composite sort key) WITHOUT a single-partition
    sort — the scalable form of ``row_number() OVER (ORDER BY …)``
    for unique keys: ``grouped_row_number`` with no group."""
    return grouped_row_number(df, [], order_col, rn_col, partitions)


def _summary(
    result: ReconcileResult, render: str, single_part: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(the padded summary: ``rn`` and one struct column per list,
    sorted by ``rn``; the pinned rank frame behind it).

    The three lists are tag-unioned and ranked in ONE ``_rank`` pass
    grouped by ``__tag``. The pin holds each id once plus the two check
    values, which are NULL on missing-id rows and let the differing
    detail be read back from the pin. The pivot runs on a frame
    range-partitioned on ``rn``: ``groupBy("rn")`` and
    ``sortWithinPartitions("rn")`` reuse that partitioning, so the
    output is in ``rn`` order with no further exchange. ``single_part``
    pivots in one task straight off the pin instead (one partition
    needs no exchange). ``(tag, rn)`` is unique, so one conditional max
    per tag pads exactly like a full-outer join on ``rn``.
    """
    c1 = f"{result.check_column}_{result.db1}"
    c2 = f"{result.check_column}_{result.db2}"
    if render == "dict":
        cell = F.concat(
            F.lit("{'id': '"), F.col("id"),
            F.lit(f"', '{c1}': "), _py_repr(F.col(c1)),
            F.lit(f", '{c2}': "), _py_repr(F.col(c2)),
            F.lit("}"),
        )
    else:
        cell = F.concat_ws(
            "|",
            F.concat_ws(":", F.col("id"), F.coalesce(F.col(c1).cast("string"), F.lit("NULL"))),
            F.coalesce(F.col(c2).cast("string"), F.lit("NULL")),
        )
    checks = result.differing.schema
    no_checks = [F.lit(None).cast(checks[c].dataType).alias(c) for c in (c1, c2)]
    tagged = (
        result.missing_in_first.select(F.lit("m1").alias("__tag"), "id", *no_checks)
        .unionByName(
            result.missing_in_second.select(F.lit("m2").alias("__tag"), "id", *no_checks)
        )
        .unionByName(result.differing.select(F.lit("dv").alias("__tag"), "id", c1, c2))
    )
    # the check values break ties between differing rows that share an
    # id (m:n fan-out on duplicate ids), so the row order is deterministic
    ranked, pinned = _rank(tagged, ["__tag"], ["id", c1, c2], "rn")
    if single_part:
        ranked = ranked.coalesce(1)
    else:
        n = tagged.sparkSession.sparkContext.defaultParallelism
        ranked = ranked.repartitionByRange(n, "rn")
    # each cell is wrapped in a one-field struct: the struct is non-NULL
    # exactly where the list has a row, even when the cell itself is
    # NULL, so counting structs counts rows
    cells = {"m1": F.col("id"), "m2": F.col("id"), "dv": cell}
    out = (
        ranked.groupBy("rn")
        .agg(
            *[
                F.max(F.when(F.col("__tag") == t, F.struct(v.alias("v")))).alias(t)
                for t, v in cells.items()
            ]
        )
        .sortWithinPartitions("rn")
    )
    return out, pinned


def _summary_columns(out: DataFrame, result: ReconcileResult) -> DataFrame:
    return out.select(
        F.col("m1.v").alias(f"missing_in_{result.db1}"),
        F.col("m2.v").alias(f"missing_in_{result.db2}"),
        F.col("dv.v").alias("differing_values"),
    )


def report_summary(result: ReconcileResult, render: str = "compact") -> DataFrame:
    """Side-by-side ragged summary.

    Columns: ``missing_in_{db1}``, ``missing_in_{db2}``,
    ``differing_values``; row i holds the i-th element of each list (or
    NULL past that list's end) — the distributed equivalent of the
    reference's pad-with-None assembly (running_validation.py:262-275).
    Rows come out in order, one sorted run per partition.

    ``render`` controls the differing cell:
    - ``"compact"``: ``id:left|right`` — deterministic across engines
      (used by the DuckDB oracle cross-check).
    - ``"dict"``: the reference's ``{'id': …, 'a': …, 'b': …}`` python
      dict repr (running_validation.py:256-259) for byte-parity with
      the golden CSV.
    """
    return _summary_columns(_summary(result, render)[0], result)


def _py_repr(col):
    """Render a string column the way the reference's pandas
    ``to_dict('records')`` repr does for the dict cell: quoted if
    non-null, unquoted ``nan`` if null (a one-sided missing value is
    NaN in the reference's merged frame, and ``repr(nan)`` is
    ``nan`` — reference running_validation.py:256-259)."""
    return F.when(col.isNull(), F.lit("nan")).otherwise(
        F.concat(F.lit("'"), col.cast("string"), F.lit("'"))
    )


def write_reports(
    result: ReconcileResult,
    output_prefix: str,
    *,
    single_file: bool = False,
    render: str = "dict",
) -> dict[str, int]:
    """CSV sinks mirroring the reference's two files
    (running_validation.py:283,:288-293): ``<prefix>`` (padded summary)
    and ``<prefix>_differing_values.csv`` (id-level detail, written
    only if non-empty — matching :288's emptiness guard).

    ``single_file`` writes each report as one part for small parity
    outputs; at scale leave it False and get a directory of parts.

    Returns the row count of each list (``missing_in_first``,
    ``missing_in_second``, ``differing``), observed while the summary
    is written — no extra job. The rank frame this call pins is
    released before it returns, on success or error.
    """
    out, pinned = _summary(result, render, single_part=single_file)
    try:
        # The Observation sits above the pin: when an equal rank frame
        # is already cached, everything under the pin is replaced by
        # the cached scan and an observation there would never fire.
        obs = Observation()
        observed = out.observe(
            obs,
            F.count("m1").alias("missing_in_first"),
            F.count("m2").alias("missing_in_second"),
            F.count("dv").alias("differing"),
        )
        _summary_columns(observed, result).write.mode("overwrite").option(
            "header", True
        ).csv(output_prefix)
        counts = obs.get
        if counts["differing"]:
            # read back from the pin: no second run of the diff join
            c1 = f"{result.check_column}_{result.db1}"
            c2 = f"{result.check_column}_{result.db2}"
            detail = pinned.filter(F.col("__tag") == "dv").select("id", c1, c2)
            if single_file:
                detail = detail.coalesce(1)
            detail.write.mode("overwrite").option("header", True).csv(
                f"{output_prefix}_differing_values.csv"
            )
    finally:
        unpin(pinned)
    return counts
