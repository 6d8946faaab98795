"""Small shared plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    The test fixtures are single-file, single-row-group parquet, so a
    scan yields ONE input partition and any expensive per-row work
    (shingling, md5, dot products) would run on one core. A cheap
    round-robin shuffle of the (small) source rows fans the compute
    across all cores. On a real cluster the input is already split
    across many files/row groups, so this is a tiny constant-cost
    shuffle — and for genuinely large single files it is still the
    correct move before CPU-heavy narrow transforms.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


# Persisted frames registered by operators that NEED the cache to
# survive until the caller materializes the result — either for
# partition-assignment determinism (the rank primitive in
# operators/report.py) or because a reused/iterated subtree would
# otherwise replicate in the plan (SemDeDup's Lloyd assignments).
# Spark's CacheManager keys by logical plan and never GCs, so a long
# session accumulates these without an explicit release: an owner that
# knows when its pin is done calls unpin(), and bench.py and
# scripts/scale100.py call release_pins() between specs (ADVICE r6).
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() + register for the next release_pins()."""
    df.persist()
    _PINNED.append(df)
    return df


def unpin(df: DataFrame) -> None:
    """Unpersist one pinned frame and drop it from the registry."""
    df.unpersist(False)
    _PINNED[:] = [p for p in _PINNED if p is not df]


def release_pins() -> None:
    """Unpersist every frame pinned since the last call."""
    while _PINNED:
        _PINNED.pop().unpersist(False)
