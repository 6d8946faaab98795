"""Data-pipeline lifecycle operators: upsert (CDC/SCD1 emulation),
deterministic hash sampling, and train/val/test splitting — the ops a
training-data pipeline runs between ingest and export.

No Delta/Iceberg in this image, so MERGE INTO is emulated
relationally (anti-join + union — the guide's recipe); the split and
sample are md5-prefix based so they are reproducible, stable under
re-partitioning, and identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import QuerySpec


# --- upsert (MERGE INTO emulation) ------------------------------------

def upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """SCD1 upsert: updated rows replace matching target rows, new
    rows append (the anti-join + union MERGE emulation; with a
    lakehouse format this becomes a real MERGE INTO via
    sources/lakehouse.py)."""
    survivors = target.join(updates.select(key), key, "left_anti")
    return updates.unionByName(survivors)


def q_scd_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic update batch: every %10 customer gets +100
    acctbal, plus brand-new customers (+1M keys) for every %25 —
    output is the fully merged dimension."""
    cust = load_table(spark, "customer", sf_dir)
    changed = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    new = cust.filter(F.col("c_custkey") % 25 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW-"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        "c_mktsegment",
    )
    updates = changed.unionByName(new)
    return upsert(cust, updates, "c_custkey")


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply an ordered change-log (op ∈ {'U','D'}, monotone
    ``seq_col`` per key) to a snapshot: last-writer-wins per key, a
    trailing delete removes the row, anything untouched passes
    through. This is the relational core of a lakehouse CDC MERGE
    (Delta CDF / Debezium-style apply) without the table format.

    Scale: the only window runs over the CHANGE-LOG (one batch,
    typically ≪ snapshot — per-key rows are the batch's updates to
    that key, never the table); the snapshot sees one anti-join on
    the key, broadcastable when the batch is small. No full-table
    window, no driver collect."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
    live = latest.filter(F.col(op_col) != "D").drop(seq_col, op_col)
    untouched = snapshot.join(changes.select(key).distinct(), key, "left_anti")
    return untouched.unionByName(live)


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log application with chained ops per key: every %7
    customer gets an update (seq 1), every %21 a delete (seq 2), and
    every %42 a re-insert (seq 3) — so %7-only keys end updated,
    %21-not-%42 keys vanish, %42 keys come back zeroed
    (42 = 6·7, 21 = 3·7, so the chains really nest). Extends
    ``scd_upsert`` (pure upsert) with deletes + ordering — the missing
    half of MERGE semantics."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    upd = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 10.0, 2).alias("c_acctbal"),
        F.lit("CDC1").alias("c_mktsegment"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = cust.filter(F.col("c_custkey") % 21 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    reins = cust.filter(F.col("c_custkey") % 42 == 0).select(
        "c_custkey",
        "c_name",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("CDC3").alias("c_mktsegment"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(reins)
    return apply_cdc(cust, changes, "c_custkey")


ORACLE_CDC_MERGE = """
WITH ch AS (
  SELECT c_custkey, c_name, ROUND(c_acctbal + 10.0, 2) AS c_acctbal,
         'CDC1' AS c_mktsegment, 1 AS seq, 'U' AS op
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, NULL, NULL, NULL, 2, 'D'
  FROM customer WHERE c_custkey % 21 = 0
  UNION ALL
  SELECT c_custkey, c_name, 0.0, 'CDC3', 3, 'U'
  FROM customer WHERE c_custkey % 42 = 0
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rk
    FROM ch
  ) WHERE rk = 1
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM latest WHERE op <> 'D'
UNION ALL
SELECT t.c_custkey, t.c_name, t.c_acctbal, t.c_mktsegment FROM customer t
WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.c_custkey = t.c_custkey)
"""


ORACLE_SCD_UPSERT = """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey,
         ROUND(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, concat('NEW-', c_name), c_nationkey,
         0.0, c_mktsegment
  FROM customer WHERE c_custkey % 25 = 0
)
SELECT * FROM updates
UNION ALL
SELECT t.* FROM customer t
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = t.c_custkey)
"""


# --- deterministic hash sampling --------------------------------------

SAMPLE_PCT_HEX = "1999"  # md5-prefix < 0x1999/0xffff ≈ 10%


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of orders by md5-prefix comparison.
    Unlike ``df.sample``, the selection is a pure function of the key:
    reproducible across runs, engines, partitionings — the property a
    pipeline needs for stable holdout sets."""
    orders = load_table(spark, "orders", sf_dir)
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    return orders.filter(h < F.lit(SAMPLE_PCT_HEX)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


ORACLE_SAMPLE_HASH = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 4) < '{SAMPLE_PCT_HEX}'
"""


# --- train/val/test split ---------------------------------------------

TRAIN_HEX = "cccc"  # ≈ 80%
VAL_HEX = "e666"    # ≈ 90% (next 10%)


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment for documents by md5
    prefix — stable under corpus growth (a doc's split never changes
    when other docs are added, unlike modulo-of-row-number schemes)."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(h < TRAIN_HEX, "train").when(h < VAL_HEX, "val").otherwise("test")
    )
    assigned = docs.select("doc_id", split.alias("split"))
    return assigned.groupBy("split").agg(F.count("*").alias("n_docs"))


ORACLE_TRAIN_SPLIT = f"""
SELECT CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{TRAIN_HEX}' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{VAL_HEX}' THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""



def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (importance) sampling: each document is
    kept with probability proportional to its length — keep iff
    u(doc_id) < n_chars / max_chars, where u is the md5-prefix uniform
    in [0,1). Reproducible, engine-portable, and stable per document
    (the id's hash never changes)."""
    docs = load_table(spark, "documents", sf_dir)
    max_chars = docs.agg(F.max("n_chars").alias("mx"))
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("double")
        / 65536.0
    )
    return (
        docs.crossJoin(F.broadcast(max_chars))
        .filter(u < F.col("n_chars").cast("double") / F.col("mx"))
        .select("doc_id", "n_chars")
    )


ORACLE_SAMPLE_WEIGHTED = """
WITH mx AS (SELECT max(n_chars) AS mx FROM documents)
SELECT doc_id, n_chars
FROM documents, mx
WHERE CAST(
        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 4096
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) * 256
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 3, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 4, 1)) - 1)
      AS DOUBLE) / 65536.0
      < CAST(n_chars AS DOUBLE) / mx
"""



STRATUM_K = 20


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly K docs per language, chosen by the
    md5-order of their ids (deterministic, uniform within stratum) —
    the balanced-subset op for eval-set construction."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_K)
        .select("lang", "doc_id", F.col("rk").cast("bigint").alias("rk"))
    )


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM documents
) WHERE rk <= {STRATUM_K}
"""


# --- weighted reservoir (A-ES) ----------------------------------------

RESERVOIR_K = 10


def q_sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis–Spirakis A-ES): per
    language, keep the K docs with the smallest exponential race key
    ``-ln(u) / w`` — each doc wins a slot with probability
    proportional to its weight (here ``n_chars``), without ever
    materializing the full sample space.

    The uniform is the deterministic md5-prefix draw
    ``u = (int(md5(doc_id)[:4], 16) + 1) / 65536`` ∈ (0, 1], so the
    sample is reproducible across runs, engines, and partitionings
    (unlike ``rand()``-keyed reservoirs). Keys are rounded to 6
    decimals FIRST and ordered with a doc_id tiebreak so Spark and
    DuckDB select identical rows despite last-ulp ``ln`` differences.

    Scale: per-group top-K by window = one shuffle on the stratum key;
    a global reservoir would instead use ``orderBy(key).limit(K)``,
    which Spark executes as per-partition partial top-K + a single
    K-row merge (TakeOrderedAndProject) — no full sort at 100 TB.
    """
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / 65536.0
    w_col = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.round(-F.log(u) / w_col, 6)
    win = Window.partitionBy("lang").orderBy("res_key", "doc_id")
    return (
        docs.select("lang", "doc_id", "n_chars", key.alias("res_key"))
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "doc_id", "n_chars", "res_key",
                F.col("rk").cast("bigint").alias("rk"))
    )


_U_SQL = """CAST(
        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 4096
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) * 256
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 3, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 4, 1)) - 1)
      + 1 AS DOUBLE) / 65536.0"""

ORACLE_SAMPLE_RESERVOIR_WEIGHTED = f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         ROUND(-ln({_U_SQL}) / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS res_key
  FROM documents
)
SELECT lang, doc_id, n_chars, res_key, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY res_key, doc_id) AS rk
  FROM keyed
) WHERE rk <= {RESERVOIR_K}
"""


def q_doc_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four deterministic sampling operators in one per-document
    assignment table (one scan + one per-stratum window):

    - ``split`` — stable 80/10/10 train/val/test by md5 prefix;
    - ``kept_10pct`` — the ~10% md5-prefix uniform sample flag
      (reproducible across runs/engines/partitionings, unlike
      ``df.sample``);
    - ``kept_weighted`` — length-proportional importance-sampling keep
      flag (u(doc_id) < n_chars / max_chars);
    - ``strat_rk`` — rank within the language stratum by md5 order,
      NULL beyond the K-per-stratum cutoff.

    Per-doc assignments are a strictly stronger check than the
    aggregate counts the individual queries reported.

    Scale: the flags are narrow per-row maps. ``strat_rk`` is NULL
    past the K-per-stratum cutoff, so only the top-K set ever needs a
    rank: the per-lang window runs behind a ``rk <= K`` FILTER (which
    compiles to WindowGroupLimit — per-partition partial top-K before
    the shuffle, never a full per-lang sort on one reducer) and the
    resulting K·|langs|-row table broadcast-joins back onto the doc
    frame. The old form ranked EVERY doc per lang because the cutoff
    lived in a ``when()``, which WindowGroupLimit cannot see."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    hid = F.md5(F.col("doc_id").cast("string"))
    h = F.substring(hid, 1, 4)
    split = (
        F.when(h < TRAIN_HEX, "train").when(h < VAL_HEX, "val").otherwise("test")
    )
    u = F.conv(h, 16, 10).cast("double") / 65536.0
    max_chars = docs.agg(F.max("n_chars").alias("mx"))
    w = Window.partitionBy("lang").orderBy(hid, "doc_id")
    strat = (
        docs.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= STRATUM_K)
        .select("doc_id", F.col("rk").cast("bigint").alias("strat_rk"))
    )
    return (
        docs.crossJoin(F.broadcast(max_chars))
        .join(F.broadcast(strat), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            split.alias("split"),
            (h < F.lit(SAMPLE_PCT_HEX)).alias("kept_10pct"),
            (u < F.col("n_chars").cast("double") / F.col("mx")).alias(
                "kept_weighted"
            ),
            "strat_rk",
        )
    )


_U_SQL = """CAST(
        (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 4096
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) * 256
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 3, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 4, 1)) - 1)
      AS DOUBLE) / 65536.0"""

ORACLE_DOC_SAMPLING = f"""
WITH mx AS (SELECT max(n_chars) AS mx FROM documents),
r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{TRAIN_HEX}' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{VAL_HEX}' THEN 'val'
            ELSE 'test' END AS split,
       (substr(md5(CAST(doc_id AS STRING)), 1, 4) < '{SAMPLE_PCT_HEX}') AS kept_10pct,
       ({_U_SQL} < CAST(n_chars AS DOUBLE) / mx) AS kept_weighted,
       CASE WHEN rk <= {STRATUM_K} THEN CAST(rk AS BIGINT) END AS strat_rk
FROM r, mx
"""


HIST_BINS = 20
HIST_LO, HIST_HI = 0.0, 600000.0


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of order totals — the one-pass distribution
    profile (bucket 0 = below range, n_bins+1 = above). The bucket
    arithmetic is spelled out (floor((x-lo)/(hi-lo)*n)+1, clamped)
    rather than width_bucket so the oracle evaluates the identical
    expression (DuckDB 1.0 has no width_bucket)."""
    orders = load_table(spark, "orders", sf_dir)
    x = F.col("o_totalprice")
    raw = (
        F.floor((x - HIST_LO) / (HIST_HI - HIST_LO) * HIST_BINS) + 1
    )
    bucket = (
        F.when(x < HIST_LO, F.lit(0))
        .when(x >= HIST_HI, F.lit(HIST_BINS + 1))
        .otherwise(raw)
    )
    return (
        orders.groupBy(bucket.cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .withColumn(
            "bin_lo",
            F.round(
                F.lit(HIST_LO)
                + (F.col("bucket") - 1) * F.lit((HIST_HI - HIST_LO) / HIST_BINS),
                2,
            ),
        )
    )


ORACLE_PRICE_HISTOGRAM = f"""
WITH b AS (
  SELECT CAST(CASE WHEN o_totalprice < {HIST_LO} THEN 0
              WHEN o_totalprice >= {HIST_HI} THEN {HIST_BINS + 1}
              ELSE floor((o_totalprice - {HIST_LO}) / ({HIST_HI} - {HIST_LO}) * {HIST_BINS}) + 1
         END AS BIGINT) AS bucket
  FROM orders
)
SELECT bucket, count(*) AS n,
       ROUND({HIST_LO} + (bucket - 1) * {(HIST_HI - HIST_LO) / HIST_BINS}, 2) AS bin_lo
FROM b GROUP BY 1
"""




# --- SCD2 history build -------------------------------------------------

def scd2_history(
    versions: DataFrame, key: str, ts_col: str
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a pile of
    versioned rows: per key ordered by ``ts_col``, each version is
    valid from its own timestamp until the next version's
    (``valid_to`` NULL = current, plus an ``is_current`` flag).
    One ``lead`` window per key — a single hash shuffle on the key,
    fully parallel across keys at any scale."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(ts_col)
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic update waves over the customer dimension
    (day 0: initial load; day 30: +100 acctbal for every %10 key;
    day 60: +250 for every %20 key) flattened into the SCD2 history
    table."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    day0 = cust.withColumn("update_date", F.lit("2024-01-01").cast("date"))
    day30 = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2))
        .withColumn("update_date", F.lit("2024-01-31").cast("date"))
    )
    day60 = (
        cust.filter(F.col("c_custkey") % 20 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 250.0, 2))
        .withColumn("update_date", F.lit("2024-03-01").cast("date"))
    )
    versions = day0.unionByName(day30).unionByName(day60)
    hist = scd2_history(versions, key="c_custkey", ts_col="update_date")
    # dates as ISO strings: DuckDB's pandas bridge widens DATE to
    # datetime64, which the comparator would render differently
    return hist.withColumn("valid_from", F.col("valid_from").cast("string")).withColumn(
        "valid_to", F.col("valid_to").cast("string")
    )


ORACLE_SCD2_HISTORY = """
WITH versions AS (
  SELECT c_custkey, c_name, c_acctbal, DATE '2024-01-01' AS update_date
  FROM customer
  UNION ALL
  SELECT c_custkey, c_name, ROUND(c_acctbal + 100.0, 2), DATE '2024-01-31'
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_name, ROUND(c_acctbal + 250.0, 2), DATE '2024-03-01'
  FROM customer WHERE c_custkey % 20 = 0
)
SELECT c_custkey, c_name, c_acctbal,
       strftime(update_date, '%Y-%m-%d') AS valid_from,
       strftime(lead(update_date) OVER (PARTITION BY c_custkey ORDER BY update_date),
                '%Y-%m-%d') AS valid_to,
       lead(update_date) OVER (PARTITION BY c_custkey ORDER BY update_date) IS NULL AS is_current
FROM versions
"""


SCD2_AS_OF = "2024-02-15"  # between the day-30 and day-60 update waves


def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup over the SCD2 history: the version of
    every customer valid AS OF 2024-02-15 (after the +100 wave,
    before the +250 one — %10 keys show the updated balance, the
    rest their initial row). One filter over the history — at scale
    the history table is partitioned by valid_from date, so the
    predicate prunes partitions."""
    hist = q_scd2_history(spark, sf_dir)
    d = F.lit(SCD2_AS_OF)
    return hist.filter(
        (F.col("valid_from") <= d) & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    ).select("c_custkey", "c_name", "c_acctbal", "valid_from")


ORACLE_SCD2_AS_OF = f"""
WITH hist AS ({ORACLE_SCD2_HISTORY})
SELECT c_custkey, c_name, c_acctbal, valid_from
FROM hist
WHERE valid_from <= '{SCD2_AS_OF}'
  AND (valid_to IS NULL OR valid_to > '{SCD2_AS_OF}')
"""


# --- group-aware split audit ---------------------------------------------

SPLIT_TEST_HEX = "c"  # md5 nibble ≥ 'c' → test (≈25%)


def q_group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/test splitting audit (the GroupKFold rule:
    all rows of a group must land in ONE split) at chunk grain: the
    same sliding chunks two ways — a NAIVE row hash over
    (doc_id, chunk_idx) vs a GROUP hash over doc_id alone — with, per
    strategy, the split sizes and the number of CONTAMINATED docs
    (docs with chunks in both splits). Adjacent chunks overlap by
    construction (64/48 stride), so a contaminated doc leaks
    near-duplicate text across the split boundary — the naive
    strategy shows the leak is large, the group strategy proves it is
    exactly zero. The audit every train/val/test cut of chunked or
    augmented data needs before any benchmark number is trusted.

    Scale: two narrow hash maps over the chunk table + one per-doc
    aggregation; output is 2 strategy rows."""
    from ..util import spread
    from .text import _STRIDE, CHUNK_SIZE, _tokens  # noqa: F401

    docs = spread(load_table(spark, "documents", sf_dir)).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_STRIDE)
    )
    chunks = docs.select(
        "doc_id", F.posexplode(starts).alias("chunk_idx", "st")
    ).select("doc_id", "chunk_idx")

    def audit(split_col, name):
        per_doc = (
            chunks.withColumn(
                "is_test", (split_col >= SPLIT_TEST_HEX).cast("int")
            )
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum("is_test").alias("n_test"),
            )
        )
        return per_doc.agg(
            F.lit(name).alias("strategy"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("n_test").cast("bigint").alias("n_test_chunks"),
            F.sum(
                F.when(
                    (F.col("n_test") > 0) & (F.col("n_test") < F.col("n_chunks")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("contaminated_docs"),
        )

    naive = F.substring(
        F.md5(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("chunk_idx").cast("string")
            )
        ),
        1,
        1,
    )
    grouped = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return audit(naive, "naive_row_hash").unionByName(
        audit(grouped, "group_by_doc")
    )


def _oracle_group_split_audit() -> str:
    from .text import _STRIDE, _tokens_sql

    return f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
           (greatest(len(toks), 1) + {_STRIDE} - 1) // {_STRIDE} - 1))
           AS chunk_idx
  FROM t
),
splits AS (
  SELECT 'naive_row_hash' AS strategy, doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#'
                   || CAST(chunk_idx AS VARCHAR)), 1, 1)
                   >= '{SPLIT_TEST_HEX}' THEN 1 ELSE 0 END AS is_test
  FROM chunks
  UNION ALL
  SELECT 'group_by_doc', doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   >= '{SPLIT_TEST_HEX}' THEN 1 ELSE 0 END
  FROM chunks
),
per_doc AS (
  SELECT strategy, doc_id, count(*) AS n_chunks, sum(is_test) AS n_test
  FROM splits GROUP BY strategy, doc_id
)
SELECT strategy,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(n_test) AS BIGINT) AS n_test_chunks,
       CAST(sum(CASE WHEN n_test > 0 AND n_test < n_chunks
                     THEN 1 ELSE 0 END) AS BIGINT) AS contaminated_docs
FROM per_doc GROUP BY strategy
"""


# --- out-of-fold target encoding ----------------------------------------

TE_FOLDS = 5


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TARGET ENCODING of a categorical feature — the
    ML-prep step that replaces a category with the target's mean for
    that category, computed OUT-OF-FOLD so a row never sees its own
    target (the standard K-fold trick against target leakage;
    Micci-Barreca 2001 for the encoding itself). Folds are the
    deterministic md5 hash of the order key (mod 5); for category c
    and fold f the encoding is (S_c − s_{c,f}) / (N_c − n_{c,f}) —
    per-category totals minus the row's own fold, all four terms
    EXACT integer cents/counts from ONE (category, fold) aggregation,
    so the only float is the final division (shared shape, rounded
    to 6). Output at (category, fold) grain: every order in that cell
    receives that encoding via a broadcast map join downstream.

    Scale: one map-side-combining groupBy to |categories| × K rows,
    then a tiny per-category rollup joined back — the fact table is
    scanned once and never shuffled at row grain; the encoder table
    is dimension-sized and broadcastable to any training pipeline."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % TE_FOLDS
    )
    cell = (
        orders.select(
            F.col("o_orderpriority").alias("category"),
            fold.alias("fold"),
            cents.alias("cents"),
        )
        .groupBy("category", "fold")
        .agg(
            F.count("*").cast("bigint").alias("n_fold"),
            F.sum("cents").alias("s_fold"),
        )
    )
    tot = cell.groupBy("category").agg(
        F.sum("n_fold").alias("n_cat"), F.sum("s_fold").alias("s_cat")
    )
    oof = (
        (F.col("s_cat") - F.col("s_fold"))
        / (F.col("n_cat") - F.col("n_fold")).cast("double")
        / F.lit(100.0)
    )
    return cell.join(F.broadcast(tot), "category").select(
        "category",
        "fold",
        "n_fold",
        F.round(oof, 6).alias("oof_mean"),
    )


ORACLE_TARGET_ENCODE = f"""
WITH base AS (
  SELECT o_orderpriority AS category,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % {TE_FOLDS} AS fold,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
cell AS (
  SELECT category, fold, CAST(count(*) AS BIGINT) AS n_fold,
         CAST(sum(cents) AS BIGINT) AS s_fold
  FROM base GROUP BY category, fold
),
tot AS (
  SELECT category, CAST(sum(n_fold) AS BIGINT) AS n_cat,
         CAST(sum(s_fold) AS BIGINT) AS s_cat
  FROM cell GROUP BY category
)
SELECT cell.category AS category, fold, n_fold,
       ROUND((s_cat - s_fold) / CAST(n_cat - n_fold AS DOUBLE) / 100.0, 6)
         AS oof_mean
FROM cell JOIN tot ON cell.category = tot.category
"""


# --- SCD2 temporal join at fact grain -----------------------------------

def q_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-ROW temporal join of a fact to its SCD2 dimension: every
    order is enriched with the customer-dimension version valid AT
    THAT ORDER'S date (`valid_from <= o_orderdate < valid_to`) — the
    lakehouse dimension-join shape that ``unit_scd2_as_of`` only
    covers for a single fixed timestamp. The version pile lives on
    the fact timeline (initial load 1995-01-01; +100 acctbal for %10
    keys on 1997-01-01; +250 for %20 keys on 1999-06-01), so orders
    genuinely straddle version boundaries and every order matches
    exactly one version.

    Scale: the dimension history is dimension-bound (keys ×
    versions), so it is explicitly ``F.broadcast`` and the plan is a
    BroadcastHashJoin on the KEY equality with the validity range
    riding as the join filter — the fact table NEVER shuffles. If the
    history ever outgrows broadcast, the fallback is banding the time
    axis: explode each version into the (key, month) cells it covers
    and equi-join on both — never a non-equi shuffle join at fact
    grain."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_acctbal"
    )
    day0 = cust.withColumn("update_date", F.lit("1995-01-01").cast("date"))
    wave2 = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2))
        .withColumn("update_date", F.lit("1997-01-01").cast("date"))
    )
    wave3 = (
        cust.filter(F.col("c_custkey") % 20 == 0)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 250.0, 2))
        .withColumn("update_date", F.lit("1999-06-01").cast("date"))
    )
    hist = scd2_history(
        day0.unionByName(wave2).unionByName(wave3),
        key="c_custkey",
        ts_col="update_date",
    )
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    j = orders.join(
        F.broadcast(hist),
        (orders["o_custkey"] == hist["c_custkey"])
        & (hist["valid_from"] <= F.col("od"))
        & (hist["valid_to"].isNull() | (F.col("od") < hist["valid_to"])),
    )
    return j.select(
        "o_orderkey",
        "o_custkey",
        F.col("od").cast("string").alias("order_date"),
        F.col("c_acctbal").alias("acctbal_at_order"),
        F.col("valid_from").cast("string").alias("valid_from"),
    )


ORACLE_SCD2_TEMPORAL_JOIN = """
WITH versions AS (
  SELECT c_custkey, c_acctbal, DATE '1995-01-01' AS update_date
  FROM customer
  UNION ALL
  SELECT c_custkey, ROUND(c_acctbal + 100.0, 2), DATE '1997-01-01'
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, ROUND(c_acctbal + 250.0, 2), DATE '1999-06-01'
  FROM customer WHERE c_custkey % 20 = 0
),
hist AS (
  SELECT c_custkey, c_acctbal, update_date AS valid_from,
         lead(update_date) OVER (PARTITION BY c_custkey
                                 ORDER BY update_date) AS valid_to
  FROM versions
)
SELECT o_orderkey, o_custkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       c_acctbal AS acctbal_at_order,
       strftime(valid_from, '%Y-%m-%d') AS valid_from
FROM orders JOIN hist
  ON o_custkey = c_custkey
 AND valid_from <= CAST(o_orderdate AS DATE)
 AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
"""


# --- greedy sequence packing ------------------------------------------

PACK_BUDGET = 256  # tokens per pack (context-window budget)
PACK_SHARDS = 16  # one stream per first md5 hex char


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents sharded into 16
    stable hash streams (first md5 hex char of doc_id — a doc's
    shard never changes as the corpus grows), each stream packed
    greedily in doc_id order into 256-token context windows via
    ``operators.packing.pack_greedy``. The oracle replays the same
    recurrence as a recursive CTE, pinning the applyInPandas loop's
    reset-on-overflow semantics row for row."""
    from ..operators.packing import pack_greedy
    from ..util import spread
    from .text import _tokens

    docs = spread(load_table(spark, "documents", sf_dir))
    base = docs.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return pack_greedy(
        base,
        group_col="shard",
        order_cols=["doc_id"],
        size_col="n_tokens",
        budget=PACK_BUDGET,
    )


def _oracle_pack_sequences() -> str:
    from .text import _tokens_sql

    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS STRING)), 1, 1) AS shard,
         len({_tokens_sql('text')}) AS n_tokens
  FROM documents
),
docs AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM base
),
packed AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN p.fill + d.n_tokens > {PACK_BUDGET}
              THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.fill + d.n_tokens > {PACK_BUDGET}
              THEN d.n_tokens ELSE p.fill + d.n_tokens END
  FROM docs d JOIN packed p ON d.shard = p.shard AND d.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, pack_id FROM packed
"""


# --- Z-order data layout ------------------------------------------------

ZORDER_BITS = 16
ZORDER_BUCKET_SHIFT = 24  # top 8 of the 32 z-bits → 256 layout buckets


def _z_interleave_spark(x: str, y: str) -> str:
    """Spark SQL expression interleaving the low 16 bits of two bigint
    columns into a 32-bit Morton (Z-order) value: bit i of x → bit 2i,
    bit i of y → bit 2i+1."""
    terms = [
        f"shiftleft((shiftright({x}, {i}) & 1), {2 * i}) + "
        f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})"
        for i in range(ZORDER_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


ZM_CHUNK_ORDERS = 1024      # "file" = l_orderkey DIV 1024 (arrival layout)
ZM_PRED_LO = "1997-01-01"   # audited predicate: shipdate in [lo, hi)
ZM_PRED_HI = "1997-07-01"


def q_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max statistics) pruning audit — the
    third data-skipping primitive next to Bloom pruning
    (`unit_bloom_prune`, exact-key) and Z-ordering
    (`unit_zorder_layout`, multi-column clustering): for a range
    predicate on l_shipdate, a chunk whose [min, max] misses the
    range is never opened. Audited under TWO deterministic layouts of
    the same rows — `arrival` (chunk = l_orderkey DIV 1024, the
    natural append order, only loosely date-correlated) and
    `clustered` (chunk = shipdate month, what OPTIMIZE/sorting
    produces) — so the result QUANTIFIES what clustering buys: the
    clustered layout prunes every non-overlapping chunk exactly,
    while arrival chunks' wide date ranges force scanning almost all
    of them. One row per layout: chunks, chunks surviving min/max
    pruning, rows scanned in surviving chunks, rows actually
    matching, and the false-positive scan fraction.

    Scale: two map-side-combining (chunk) aggs + a tiny audit rollup
    — the audit costs one scan; the DECISION it informs (which files
    to open) is what saves the other 99% at 100 TB. Parquet row-group
    stats and lakehouse file stats are exactly this mechanism
    (PushedFilters row-group pruning is pinned by tests/test_plans.py;
    this op makes the arithmetic inspectable)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    lo = F.lit(ZM_PRED_LO).cast("timestamp")
    hi = F.lit(ZM_PRED_HI).cast("timestamp")

    def audit(chunk_expr, name):
        chunks = (
            li.withColumn("chunk", chunk_expr)
            .groupBy("chunk")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
                F.sum(((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
                      .cast("bigint")).alias("n_match"),
            )
        )
        survives = (F.col("mx") >= lo) & (F.col("mn") < hi)
        return chunks.agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(survives.cast("bigint")).cast("bigint").alias("n_scanned"),
            F.sum(F.when(survives, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        ).select(
            F.lit(name).alias("layout"),
            "n_chunks", "n_scanned", "rows_scanned", "rows_matching",
        )

    # DIV (floor division) on both engines: Spark's bigint/int `/` is
    # true division and DuckDB's CAST-to-BIGINT ROUNDS while Spark's
    # truncates — floor division sidesteps the divergence entirely.
    arrival = audit(F.expr(f"l_orderkey DIV {ZM_CHUNK_ORDERS}"), "arrival")
    clustered = audit(F.date_trunc("month", "l_shipdate"), "clustered")
    return (
        arrival.unionByName(clustered)
        .withColumn(
            "waste_ratio",
            F.round(
                (F.col("rows_scanned") - F.col("rows_matching")).cast("double")
                / F.greatest(F.col("rows_scanned"), F.lit(1)),
                6,
            ),
        )
    )


ORACLE_ZONE_MAP_PRUNE = f"""
WITH li AS (SELECT l_orderkey, l_shipdate FROM lineitem),
a_chunks AS (
  SELECT l_orderkey // {ZM_CHUNK_ORDERS} AS chunk,
         count(*) AS n_rows, min(l_shipdate) AS mn, max(l_shipdate) AS mx,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '{ZM_PRED_LO}'
                        AND l_shipdate < TIMESTAMP '{ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM li GROUP BY 1
),
c_chunks AS (
  SELECT date_trunc('month', l_shipdate) AS chunk,
         count(*) AS n_rows, min(l_shipdate) AS mn, max(l_shipdate) AS mx,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '{ZM_PRED_LO}'
                        AND l_shipdate < TIMESTAMP '{ZM_PRED_HI}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM li GROUP BY 1
),
both_audits AS (
  SELECT 'arrival' AS layout, CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN mx >= TIMESTAMP '{ZM_PRED_LO}'
                        AND mn < TIMESTAMP '{ZM_PRED_HI}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_scanned,
         CAST(sum(CASE WHEN mx >= TIMESTAMP '{ZM_PRED_LO}'
                        AND mn < TIMESTAMP '{ZM_PRED_HI}' THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_scanned,
         CAST(sum(n_match) AS BIGINT) AS rows_matching
  FROM a_chunks
  UNION ALL
  SELECT 'clustered', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN mx >= TIMESTAMP '{ZM_PRED_LO}'
                        AND mn < TIMESTAMP '{ZM_PRED_HI}' THEN 1 ELSE 0 END)
              AS BIGINT),
         CAST(sum(CASE WHEN mx >= TIMESTAMP '{ZM_PRED_LO}'
                        AND mn < TIMESTAMP '{ZM_PRED_HI}' THEN n_rows ELSE 0 END)
              AS BIGINT),
         CAST(sum(n_match) AS BIGINT)
  FROM c_chunks
)
SELECT layout, n_chunks, n_scanned, rows_scanned, rows_matching,
       ROUND(CAST(rows_scanned - rows_matching AS DOUBLE)
             / greatest(rows_scanned, 1), 6) AS waste_ratio
FROM both_audits
"""


def _z_interleave_duck(x: str, y: str) -> str:
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(ZORDER_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout — the clustering primitive
    behind lakehouse `OPTIMIZE ZORDER BY` (Delta/Iceberg public docs;
    Morton 1966): interleave the bits of two filter dimensions so
    rows close in EITHER dimension land in the same layout bucket,
    letting min/max file statistics prune scans on both columns at
    once (a single-column sort prunes only its own column). Output is
    the per-bucket layout AUDIT: row count + min/max of each
    dimension — the narrow per-dim ranges per bucket ARE the pruning
    guarantee, and the result is bounded at 256 rows.

    Scale: the z-value is a pure integer narrow map (32 bit-ops per
    row, whole-stage codegen); the bucket agg partial-combines
    map-side to ≤256 rows. In a real deployment the bucket id feeds
    `repartitionByRange(z)` + per-file stats; here the audit table is
    the checkable artifact."""
    li = load_table(spark, "lineitem", sf_dir).select(
        (F.col("l_partkey") % (1 << ZORDER_BITS)).cast("bigint").alias("x"),
        (F.col("l_suppkey") % (1 << ZORDER_BITS)).cast("bigint").alias("y"),
    )
    z = F.expr(_z_interleave_spark("x", "y"))
    return (
        li.select("x", "y", z.alias("z"))
        .groupBy(F.expr(f"z >> {ZORDER_BUCKET_SHIFT}").cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_part"),
            F.max("x").alias("max_part"),
            F.min("y").alias("min_supp"),
            F.max("y").alias("max_supp"),
        )
    )


ORACLE_ZORDER_LAYOUT = f"""
WITH base AS (
  SELECT CAST(l_partkey % {1 << ZORDER_BITS} AS BIGINT) AS x,
         CAST(l_suppkey % {1 << ZORDER_BITS} AS BIGINT) AS y
  FROM lineitem
),
zz AS (SELECT x, y, {_z_interleave_duck('x', 'y')} AS z FROM base)
SELECT CAST(z >> {ZORDER_BUCKET_SHIFT} AS BIGINT) AS bucket,
       count(*) AS n_rows,
       min(x) AS min_part, max(x) AS max_part,
       min(y) AS min_supp, max(y) AS max_supp
FROM zz GROUP BY 1
"""


# --- crawl URL canonicalization + dedup ---------------------------------

def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic crawl-URL table: one URL per document
    with planted canonicalization variants (host case, default port,
    trailing slash, utm_* tracking params, fragments) so that many
    raw URLs collapse onto one canonical form. Same planted-corpus
    technique as doc_redact's PII corpus."""
    from ..util import spread

    docs = spread(load_table(spark, "documents", sf_dir).select("doc_id"))
    d = F.col("doc_id")
    k = (d % 50).cast("string")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://Example.COM")).otherwise(
            F.lit("https://example.com")
        ),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        k,
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit("?utm_source=rss&utm_medium=feed&id="), k))
        .when(d % 5 == 1, F.concat(F.lit("?id="), k))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


_URLS_SQL = """
SELECT doc_id,
       (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Example.COM' ELSE 'https://example.com' END)
       || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
       || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
       || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
       || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=rss&utm_medium=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
                WHEN doc_id % 5 = 1 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR)
                ELSE '' END)
       || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END) AS url
FROM documents
"""


def canonical_url(u) -> "F.Column":
    """Canonical URL form: lowercase scheme+host, default port
    stripped, trailing path slash stripped, utm_* tracking params
    dropped (others kept in order), fragment dropped. Pure JVM
    regexp/array expressions — a narrow map at any scale."""
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1))
    host = F.regexp_replace(hostport, ":(443|80)$", "")
    path = F.regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    path_c = F.regexp_replace(path, "/$", "")
    query = F.regexp_extract(u, "\\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.startswith("utm_"),
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path_c,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL dedup: canonicalize, then one hash groupBy on the
    canonical form — the exact-dedup shape (map-side combine,
    O(distinct) shuffle). Keeper = smallest doc_id of each group."""
    urls = _urls(spark, sf_dir)
    return (
        urls.withColumn("canonical_url", canonical_url(F.col("url")))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_raw"),
            F.countDistinct("url").alias("n_distinct_raw"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


_CANON_SQL = """lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
  || regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':(443|80)$', '')
  || regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/$', '')
  || (CASE WHEN len(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                                p -> p <> '' AND NOT starts_with(p, 'utm_'))) > 0
           THEN '?' || array_to_string(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                                                   p -> p <> '' AND NOT starts_with(p, 'utm_')), '&')
           ELSE '' END)"""

ORACLE_URL_DEDUP = f"""
WITH urls AS ({_URLS_SQL}),
c AS (SELECT doc_id, url, {_CANON_SQL} AS canonical_url FROM urls)
SELECT canonical_url, count(*) AS n_raw,
       count(DISTINCT url) AS n_distinct_raw,
       min(doc_id) AS keeper_doc_id
FROM c GROUP BY canonical_url
"""


# --- training-mix rebalancing -------------------------------------------

#: Target language proportions of the training mix.
MIX_TARGETS = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}


def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing: select the LARGEST corpus subset
    whose language proportions hit the configured targets. The
    budget is min over languages of available/target (the binding
    language is taken whole); each language contributes
    floor(budget · target) documents, chosen by the deterministic
    md5 order (stable under corpus growth, like every sampler here).

    Scale: counts are one map-side-combining groupBy; budget/quotas
    are a |langs|-row broadcast; selection ranks per language with the
    sort-based distributed `grouped_row_number` — lang is a ~5-value
    key, so the plain per-lang rank window would sort ~a fifth of the
    corpus on ONE reducer each; range-partitioning on (lang, md5 key)
    spreads every language across the cluster instead (the quota is
    data-dependent — ~40% of the corpus — so a WindowGroupLimit-style
    top-K cap can never bound this rank)."""
    from ..operators.report import grouped_row_number
    from ..util import spread

    docs = spread(load_table(spark, "documents", sf_dir).select("doc_id", "lang"))
    targets = spark.createDataFrame(
        sorted(MIX_TARGETS.items()), "lang string, target double"
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_avail"))
    j = counts.join(F.broadcast(targets), "lang")
    budget = j.agg(F.min(F.col("n_avail") / F.col("target")).alias("budget"))
    quotas = j.crossJoin(F.broadcast(budget)).select(
        "lang",
        F.floor(F.col("budget") * F.col("target")).cast("bigint").alias("quota"),
    )
    keyed = docs.withColumn(
        "__mixkey",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|mix"))),
    )
    ranked = grouped_row_number(
        keyed, "lang", ["__mixkey", "doc_id"], rn_col="rk"
    )
    return (
        ranked.join(F.broadcast(quotas), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("lang", "doc_id", "rk")
    )


_MIX_TARGETS_SQL = ", ".join(
    f"('{lang}', {t})" for lang, t in sorted(MIX_TARGETS.items())
)

ORACLE_MIX_REBALANCE = f"""
WITH targets(lang, target) AS (VALUES {_MIX_TARGETS_SQL}),
counts AS (SELECT lang, count(*) AS n_avail FROM documents GROUP BY lang),
j AS (SELECT counts.lang AS lang, n_avail, target FROM counts JOIN targets USING (lang)),
budget AS (SELECT min(n_avail / target) AS budget FROM j),
quotas AS (
  SELECT lang, CAST(floor(budget * target) AS BIGINT) AS quota
  FROM j CROSS JOIN budget
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR) || '|mix'), doc_id) AS rk
  FROM documents
)
SELECT ranked.lang AS lang, doc_id, CAST(rk AS BIGINT) AS rk
FROM ranked JOIN quotas USING (lang) WHERE rk <= quota
"""


# Unit operator surface (sampling variants merged into doc_sampling
# for the driver window); parity-tested locally.
# --- incremental aggregate (materialized-view) maintenance --------------

INCR_CUT = "1997-07-01"   # base snapshot / delta batch boundary
INCR_DEL_MOD = 97         # base orders with key % 97 == 0 arrive as deletes


IJV_ORD_MOD = 10  # orders with key % 10 == 0 arrive as the delta batch
IJV_CUST_MOD = 7  # customers with key % 7 == 0 arrive as the delta batch


def q_incr_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view under insert deltas on
    BOTH sides — the delta-join algebra (classic IVM, cf. DBToaster /
    differential-dataflow lineage, all public literature):

        Δ(O ⋈ C) = ΔO ⋈ C₀  ∪  O₀ ⋈ ΔC  ∪  ΔO ⋈ ΔC

    so a new batch refreshes the view by joining only the DELTAS
    against the stored sides — never re-joining the full history. The
    complement of `unit_incr_agg` (aggregate IVM): together they
    maintain the join+agg views a warehouse actually stores.

    The result is the per-mktsegment rollup of the maintained view
    with a `leg` column accounting for which maintenance leg produced
    each row — the oracle replays the identical four-leg algebra and
    the leg totals sum to the monolithic join by construction (the
    theorem being exercised; the base/delta split is deterministic
    key arithmetic).

    Scale: each leg is one equi-join keyed on custkey; the two delta
    legs are |Δ|-sized probes (broadcast when small), and the
    O₀ ⋈ ΔC leg scans the fact side once filtered by the
    (broadcastable) ΔC key set. Refresh cost is O(|ΔO| + matches of
    ΔC) — the whole point."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    o0 = orders.filter(F.col("o_orderkey") % IJV_ORD_MOD != 0)
    d_o = orders.filter(F.col("o_orderkey") % IJV_ORD_MOD == 0)
    c0 = cust.filter(F.col("c_custkey") % IJV_CUST_MOD != 0)
    d_c = cust.filter(F.col("c_custkey") % IJV_CUST_MOD == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def leg(o, c, name):
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .select(F.lit(name).alias("leg"), "c_mktsegment", cents.alias("cents"))
        )

    view = (
        leg(o0, c0, "base")
        .unionByName(leg(d_o, F.broadcast(c0), "delta_orders"))
        .unionByName(leg(o0, F.broadcast(d_c), "delta_cust"))
        .unionByName(leg(d_o, F.broadcast(d_c), "delta_both"))
    )
    return view.groupBy("leg", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


ORACLE_INCR_JOIN_VIEW = f"""
WITH o AS (SELECT o_orderkey, o_custkey,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
c AS (SELECT c_custkey, c_mktsegment FROM customer),
legs AS (
  SELECT 'base' AS leg, c_mktsegment, cents
  FROM o JOIN c ON o.o_custkey = c.c_custkey
  WHERE o_orderkey % {IJV_ORD_MOD} <> 0 AND c_custkey % {IJV_CUST_MOD} <> 0
  UNION ALL
  SELECT 'delta_orders', c_mktsegment, cents
  FROM o JOIN c ON o.o_custkey = c.c_custkey
  WHERE o_orderkey % {IJV_ORD_MOD} = 0 AND c_custkey % {IJV_CUST_MOD} <> 0
  UNION ALL
  SELECT 'delta_cust', c_mktsegment, cents
  FROM o JOIN c ON o.o_custkey = c.c_custkey
  WHERE o_orderkey % {IJV_ORD_MOD} <> 0 AND c_custkey % {IJV_CUST_MOD} = 0
  UNION ALL
  SELECT 'delta_both', c_mktsegment, cents
  FROM o JOIN c ON o.o_custkey = c.c_custkey
  WHERE o_orderkey % {IJV_ORD_MOD} = 0 AND c_custkey % {IJV_CUST_MOD} = 0
)
SELECT leg, c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM legs GROUP BY leg, c_mktsegment
"""


def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a per-customer order aggregate
    (n_orders, sum_cents) under a CDC delta batch — the materialized-
    view delta-apply primitive: inserts are orders on/after the cut
    date, deletes are the %97 base orders (the delete record carries
    the before-image, as a CDC stream does). The delta batch reduces
    to per-group (Δn, Δcents) partials, and the refreshed view is the
    stored view FULL OUTER the partials with group-wise addition;
    groups whose count reaches zero drop out.

    Correctness is the incremental-view-maintenance theorem for
    abelian-group aggregates (COUNT/SUM are subtractable; MIN/MAX are
    NOT delete-incremental — they'd need a rescan of the affected
    group): the oracle recomputes the view from scratch on
    (base \\ deletes) ∪ inserts and the match is hash-exact on integer
    cents.

    Scale: refresh cost is O(|delta| + |touched groups|) — one
    map-side-combining agg over the batch and one outer join against
    the view — never a rescan of the 100 TB fact history. Here the
    base view is derived in-DAG from the same fixture scan for
    determinism; in production it is the stored table."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter(F.col("o_orderdate") < INCR_CUT)
    base_mv = base.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum(cents).alias("sum_cents")
    )
    deletes = base.filter(F.col("o_orderkey") % INCR_DEL_MOD == 0).select(
        "o_custkey", F.lit(-1).alias("dn"), (-cents).alias("dc")
    )
    inserts = orders.filter(F.col("o_orderdate") >= INCR_CUT).select(
        "o_custkey", F.lit(1).alias("dn"), cents.alias("dc")
    )
    delta = (
        deletes.unionByName(inserts)
        .groupBy("o_custkey")
        .agg(F.sum("dn").cast("bigint").alias("dn"), F.sum("dc").alias("dc"))
    )
    merged = base_mv.join(delta, "o_custkey", "full_outer").select(
        F.col("o_custkey").alias("custkey"),
        (F.coalesce("n_orders", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("dc", F.lit(0)))
        .cast("bigint")
        .alias("sum_cents"),
        F.col("dn").isNotNull().alias("touched"),
    )
    return merged.filter(F.col("n_orders") > 0)


ORACLE_INCR_AGG = f"""
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{INCR_CUT}'
),
kept AS (
  SELECT * FROM base WHERE o_orderkey % {INCR_DEL_MOD} != 0
  UNION ALL
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{INCR_CUT}'
),
touched_keys AS (
  SELECT DISTINCT o_custkey FROM base WHERE o_orderkey % {INCR_DEL_MOD} = 0
  UNION
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '{INCR_CUT}'
)
SELECT k.o_custkey AS custkey,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       max(CASE WHEN t.o_custkey IS NOT NULL THEN TRUE ELSE FALSE END) AS touched
FROM kept k LEFT JOIN touched_keys t ON k.o_custkey = t.o_custkey
GROUP BY k.o_custkey
"""


# --- deterministic negative sampling --------------------------------------

NEG_K = 4            # negatives kept per customer
NEG_CANDIDATES = 12  # hash candidates drawn before the anti-join


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender/contrastive
    training: for each customer, K=4 part ids they have NOT purchased,
    drawn uniformly by hash — the (user, item⁻) pair generator that
    complements `unit_hard_negatives` (embedding-space hard negatives)
    with the classical random-negative baseline.

    The scale problem: "items the user did not interact with" is the
    complement of a sparse set over a huge catalog — never enumerable.
    The standard fix is REJECTION sampling, done declaratively: draw
    12 hash candidates per customer (md5 double hashing mod catalog
    size), anti-join the purchased (customer, part) pairs, keep the
    first 4 survivors per customer. P(candidate purchased) ≈
    |purchases per user| / |catalog| (~2% here), so 12 draws leave ≥4
    survivors with near-certainty; the audit column `n_found` exposes
    any customer that fell short rather than silently under-sampling.

    Scale: candidates are a narrow map (customers × 12, one md5 per
    customer); the anti-join shuffles on the (cust, part) pair key
    against the distinct purchase pairs; the keep-first-K window
    partitions by customer. All equi-joins."""
    from pyspark.sql import Window

    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    n_parts = part.agg(F.count("*").alias("n_parts"))
    purchased = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    m = F.md5(F.col("c_custkey").cast("string"))
    seeded = cust.select(
        "c_custkey",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    cand = (
        seeded.crossJoin(F.broadcast(n_parts))
        .select(
            "c_custkey",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(NEG_CANDIDATES)),
                    lambda i: (F.col("h1") + i * F.col("h2")) % F.col("n_parts"),
                )
            ).alias("draw", "p"),
        )
        # parts are keyed 0..n_parts-1 in the fixtures; the mod IS the
        # catalog id. A duplicate draw is not a second distinct
        # negative: keep each (cust, part) once at its EARLIEST draw
        # (min-agg, not dropDuplicates — which keeps an arbitrary row).
        .groupBy("c_custkey", "p")
        .agg(F.min("draw").alias("draw"))
    )
    neg = cand.join(
        purchased,
        (cand.c_custkey == purchased.c) & (cand.p == purchased.p),
        "left_anti",
    )
    w = Window.partitionBy("c_custkey").orderBy("draw", "p")
    kept = (
        neg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NEG_K)
        .select("c_custkey", F.col("p").alias("neg_partkey"), F.col("rk").cast("bigint").alias("rk"))
    )
    found = kept.groupBy("c_custkey").agg(F.count("*").alias("n_found"))
    return kept.join(found, "c_custkey").select(
        "c_custkey", "rk", "neg_partkey", "n_found"
    )


ORACLE_NEGATIVE_SAMPLING = f"""
WITH np AS (SELECT count(*) AS n_parts FROM part),
seeded AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
  FROM customer
),
cand AS (
  SELECT DISTINCT ON (c_custkey, p) c_custkey, draw, p FROM (
    SELECT c_custkey, gs.i AS draw, (h1 + gs.i * h2) % n_parts AS p
    FROM seeded, np, generate_series(1, {NEG_CANDIDATES}) AS gs(i)
  ) ORDER BY c_custkey, p, draw
),
purchased AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
neg AS (
  SELECT cand.* FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM purchased
                    WHERE purchased.c = cand.c_custkey AND purchased.p = cand.p)
),
kept AS (
  SELECT c_custkey, p AS neg_partkey,
         CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY draw, p) AS BIGINT) AS rk
  FROM neg
)
SELECT c_custkey, rk, neg_partkey,
       count(*) OVER (PARTITION BY c_custkey) AS n_found
FROM kept WHERE rk <= {NEG_K}
"""


# --- small-file compaction planner ---------------------------------------

COMPACT_TARGET = 4096  # target bucket size (bytes of n_chars, fixture scale)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse ``OPTIMIZE``
    bin-packing step: within each table partition (source), files
    (docs, sized by n_chars) are packed in file-id order into target-
    size output buckets by the running-sum rule ``bucket = (cumsum −
    size) DIV target`` — a bucket closes once it reaches the target,
    overflowing by at most one file (the classic streaming first-fit
    that needs ONE window pass, no iterative assignment). Output is
    the per-bucket work order: file count, bytes, id range, fill
    ratio.

    Scale: one per-partition cumsum window + one groupBy — O(files),
    never O(files × buckets); the planner output (not the rewritten
    data) is what the driver hands to compaction executors. Exact
    integers throughout."""
    from pyspark.sql import Window

    files = load_table(spark, "documents", sf_dir).select(
        "source", F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    )
    w = Window.partitionBy("source").orderBy("file_id")
    assigned = files.withColumn(
        "cum", F.sum("bytes").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("bucket", F.expr(f"(cum - bytes) DIV {COMPACT_TARGET}"))
    return assigned.groupBy("source", "bucket").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
        F.round(
            F.sum("bytes").cast("double") / COMPACT_TARGET, 6
        ).alias("fill_ratio"),
    )


ORACLE_COMPACTION_PLAN = f"""
WITH assigned AS (
  SELECT source, doc_id AS file_id, n_chars AS bytes,
         CAST((CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - n_chars) // {COMPACT_TARGET} AS BIGINT) AS bucket
  FROM documents
)
SELECT source, bucket, count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       min(file_id) AS first_file,
       max(file_id) AS last_file,
       ROUND(CAST(sum(bytes) AS DOUBLE) / {COMPACT_TARGET}, 6) AS fill_ratio
FROM assigned GROUP BY source, bucket
"""


# --- rendezvous-hash shard assignment -------------------------------------

HRW_K1 = 8
HRW_K2 = 9  # the resharded cluster: k1 → k2 shards


def q_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998) — the stable-routing primitive consistent
    hashing competes with: each doc goes to the shard whose
    md5(doc_id # shard) score is highest. Computed for an 8-shard and
    a 9-shard cluster side by side with a ``moved`` flag per doc: HRW
    guarantees only ~1/k2 of keys move on reshard (vs ~all for mod-k
    routing) — the property `tests/test_plans.py` asserts on this
    output, measured not asserted.

    Scale: a narrow map (k md5s per row, argmax over a k-literal
    array), zero shuffles; this is how you route 100 TB of docs to
    embedding/index workers and KEEP the routing when the fleet
    grows."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    def shard(k: int):
        arr = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda s: F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#"), s.cast("string"))),
        )
        return (F.array_position(arr, F.array_max(arr)) - 1).cast("bigint")

    return docs.select(
        "doc_id",
        shard(HRW_K1).alias("shard_k8"),
        shard(HRW_K2).alias("shard_k9"),
    ).withColumn("moved", F.col("shard_k8") != F.col("shard_k9"))


def _hrw_sql(k: int) -> str:
    return (
        f"CAST(list_indexof(l{k}, list_aggregate(l{k}, 'max')) - 1 AS BIGINT)"
    )


ORACLE_SHARD_RENDEZVOUS = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(0, {HRW_K1}),
           s -> md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR))) AS l{HRW_K1},
         list_transform(range(0, {HRW_K2}),
           s -> md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR))) AS l{HRW_K2}
  FROM documents
)
SELECT doc_id,
       {_hrw_sql(HRW_K1)} AS shard_k8,
       {_hrw_sql(HRW_K2)} AS shard_k9,
       {_hrw_sql(HRW_K1)} != {_hrw_sql(HRW_K2)} AS moved
FROM h
"""


SPECS = [
    # round 6 rotations: the never-driver-checked SCD2 temporal join,
    # out-of-fold target encoding, GroupKFold audit, and delta-join IVM
    # (verdict r5 risk list) take the window; scd_upsert (driver-green
    # r2–r5) moves to the unit surface.
    QuerySpec("unit_scd2_temporal_join", q_scd2_temporal_join,
              ORACLE_SCD2_TEMPORAL_JOIN,
              "per-row temporal join: fact enriched with its valid version"),
    QuerySpec("unit_target_encode", q_target_encode, ORACLE_TARGET_ENCODE,
              "leakage-safe out-of-fold target encoding, exact moments"),
    QuerySpec("unit_group_split_audit", q_group_split_audit,
              _oracle_group_split_audit(),
              "GroupKFold split audit: naive row-hash leaks, by-doc doesn't"),
    QuerySpec("unit_incr_join_view", q_incr_join_view, ORACLE_INCR_JOIN_VIEW,
              "delta-join IVM: four-leg maintenance of a join view"),
    # second round-6 rotation (never driver-checked before):
    QuerySpec("unit_cdc_merge", q_cdc_merge, ORACLE_CDC_MERGE,
              "ordered CDC apply: update/delete/re-insert, LWW by seq"),
]


UNIT_SPECS = [
    # rotated out of the driver window in round 5 (driver-green in r4;
    # pytest oracles keep them true):
    QuerySpec("unit_incr_agg", q_incr_agg, ORACLE_INCR_AGG,
              "incremental materialized-view maintenance under a CDC delta"),
    QuerySpec("unit_zone_map_prune", q_zone_map_prune, ORACLE_ZONE_MAP_PRUNE,
              "zone-map min/max pruning audit: arrival vs clustered layout"),
    QuerySpec("unit_pack_sequences", q_pack_sequences, _oracle_pack_sequences(),
              "greedy token-budget sequence packing per hash shard"),
    QuerySpec("unit_scd2_history", q_scd2_history, ORACLE_SCD2_HISTORY,
              "SCD2 versioned-dimension history via one lead window"),
    QuerySpec("unit_scd2_as_of", q_scd2_as_of, ORACLE_SCD2_AS_OF,
              "point-in-time (AS OF) lookup over the SCD2 history"),
    # rotated out in round 6 (driver-green r2–r5):
    QuerySpec("scd_upsert", q_scd_upsert, ORACLE_SCD_UPSERT,
              "MERGE INTO emulation: anti-join + union upsert"),
    QuerySpec("price_histogram", q_price_histogram, ORACLE_PRICE_HISTOGRAM,
              "fixed-bin width_bucket histogram"),
    QuerySpec("doc_sampling", q_doc_sampling, ORACLE_DOC_SAMPLING,
              "per-doc split + hash/weighted keep + stratified rank in one pass"),
    QuerySpec("unit_zorder_layout", q_zorder_layout, ORACLE_ZORDER_LAYOUT,
              "Z-order layout buckets with per-dimension pruning audit"),
    QuerySpec("unit_url_dedup", q_url_dedup, ORACLE_URL_DEDUP,
              "crawl URL canonicalization + exact dedup"),
    QuerySpec("unit_mix_rebalance", q_mix_rebalance, ORACLE_MIX_REBALANCE,
              "language-mix rebalancing to target proportions"),
    QuerySpec("unit_sample_hash", q_sample_hash, ORACLE_SAMPLE_HASH,
              "deterministic hash-based Bernoulli sample"),
    QuerySpec("unit_train_split", q_train_split, ORACLE_TRAIN_SPLIT,
              "hash-based train/val/test assignment"),
    QuerySpec("unit_sample_weighted", q_sample_weighted, ORACLE_SAMPLE_WEIGHTED,
              "weighted deterministic sample"),
    QuerySpec("unit_sample_stratified", q_sample_stratified,
              ORACLE_SAMPLE_STRATIFIED, "per-stratum top-k-by-hash sample"),
    QuerySpec("unit_sample_reservoir_weighted", q_sample_reservoir_weighted,
              ORACLE_SAMPLE_RESERVOIR_WEIGHTED,
              "A-ES weighted reservoir: K per stratum by -ln(u)/w race"),
    QuerySpec("unit_negative_sampling", q_negative_sampling,
              ORACLE_NEGATIVE_SAMPLING,
              "hash rejection-sampled unpurchased negatives per customer"),
    QuerySpec("unit_compaction_plan", q_compaction_plan, ORACLE_COMPACTION_PLAN,
              "small-file compaction bin-packing plan per partition"),
    QuerySpec("unit_shard_rendezvous", q_shard_rendezvous, ORACLE_SHARD_RENDEZVOUS,
              "rendezvous-hash shard routing, 8-vs-9-shard movement audit"),
]
