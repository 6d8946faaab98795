"""The report tail of a validation run: the rank pin's lifetime, the
list counts observed during the summary write, row alignment of the
written CSV parts, and the plan/job shape of the summary."""

from __future__ import annotations

import csv
import glob
import os
import threading

import pytest

from validation_database_spark.config import main, run_validation
from validation_database_spark.operators import report
from validation_database_spark.operators.reconcile import ReconcileResult, reconcile
from validation_database_spark.operators.report import report_summary, write_reports
from validation_database_spark.plans import physical_plan
from validation_database_spark.util import release_pins

# write_reports of the golden fixture at 4 shuffle partitions, as
# measured
GOLDEN_WRITE_JOBS = 20


def _bounded(fn, timeout: float = 300.0):
    """Run ``fn`` on a worker thread and fail if it is still running
    after ``timeout`` s — an Observation that never fires would block
    ``Observation.get`` forever."""
    box: dict = {}

    def work():
        try:
            box["out"] = fn()
        except BaseException as e:  # re-raised on the test thread
            box["err"] = e

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"still running after {timeout} s"
    if "err" in box:
        raise box["err"]
    return box["out"]


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


@pytest.fixture
def clean(spark):
    release_pins()
    spark.catalog.clearCache()
    yield
    release_pins()


GOLDEN_A = [("84", "CTS-VS"), ("94", "Ssierraa"), ("7", "Malibu")]
GOLDEN_B = [("84", "CTS-V"), ("94", "Sierra"), ("7", "Malibu")]


def _golden(spark, a_rows=GOLDEN_A, b_rows=GOLDEN_B):
    a = spark.createDataFrame(a_rows, "id string, MODEL string")
    b = spark.createDataFrame(b_rows, "id string, MODEL string")
    return reconcile(a, b, check_column="MODEL", mode="string",
                     db1="oracle", db2="postgres", threshold=1.0)


def _counts(res: ReconcileResult) -> dict[str, int]:
    return {
        "missing_in_first": res.missing_in_first.count(),
        "missing_in_second": res.missing_in_second.count(),
        "differing": res.differing.count(),
    }


def _config(sf_dir, tmp_path, **extra):
    return {
        "databases": ["dbA", "dbB"],
        "data_type": "string",
        "check_column": "o_orderpriority",
        "unique_key": ["o_orderkey"],
        "dbA_table_name": "orders",
        "dbB_table_name": "orders",
        "dbA_source": {"format": "parquet", "path": sf_dir},
        "dbB_source": {"format": "parquet", "path": sf_dir},
        "output": str(tmp_path / "report.csv"),
        **extra,
    }


# --- pin lifetime -------------------------------------------------------

def test_run_validation_leaves_no_persisted_frame(spark, sf_dir, tmp_path, clean):
    run = run_validation(spark, _config(sf_dir, tmp_path))
    assert run.counts == _counts(run.result)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert _cache_manager(spark).isEmpty()
    assert not report._PINNED


def test_cli_main_leaves_no_persisted_frame(spark, sf_dir, tmp_path, clean, capsys):
    import yaml

    path = tmp_path / "config.yaml"
    path.write_text(yaml.safe_dump(_config(sf_dir, tmp_path)))
    assert main([str(path)]) == 0
    assert "missing in dbA: 0; missing in dbB: 0; differing: 0" in capsys.readouterr().out
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_failed_write_releases_the_pin(spark, tmp_path, clean):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    with pytest.raises(Exception):
        write_reports(_golden(spark), str(blocker / "report.csv"), single_file=True)
    assert _cache_manager(spark).isEmpty()
    assert not report._PINNED


# --- observed counts ----------------------------------------------------

@pytest.mark.parametrize(
    "a_rows,b_rows",
    [(GOLDEN_A, GOLDEN_B), ([], []), ([("1", "x")], []), ([], [("1", "x"), ("1", "y")])],
    ids=["golden", "both_empty", "right_empty", "left_empty_dup_ids"],
)
def test_observed_counts_equal_count(spark, tmp_path, clean, a_rows, b_rows):
    res = _golden(spark, a_rows, b_rows)
    counts = _bounded(lambda: write_reports(res, str(tmp_path / "r.csv"), single_file=True))
    assert counts == _counts(res)


def test_logged_run_with_output_adds_no_jobs(spark, sf_dir, tmp_path, clean):
    sc = spark.sparkContext

    def jobs(group, **extra):
        sc.setJobGroup(group, group)
        try:
            run = run_validation(spark, _config(
                sf_dir, tmp_path, output=str(tmp_path / f"{group}.csv"), **extra))
        finally:
            sc.setJobGroup(None, None)
        return run, len(sc.statusTracker().getJobIdsForGroup(group))

    plain_run, plain = jobs("report_tail_unlogged")
    logged_run, logged = jobs(
        "report_tail_logged", log_counts=True, log_directory=str(tmp_path / "logs"))
    assert logged <= plain, (logged, plain)
    assert logged_run.counts == plain_run.counts
    text = open(logged_run.log_path).read()
    assert "IDs Missing in dbA: 0" in text and "Differing values: 0" in text


# --- Observation edge cases ---------------------------------------------

@pytest.mark.parametrize(
    "a_rows,b_rows",
    [([], []), ([("1", "x"), ("2", "y")], [("1", "x"), ("2", "y")])],
    ids=["both_empty", "identical"],
)
def test_clean_run_writes_no_detail(spark, tmp_path, clean, a_rows, b_rows):
    prefix = str(tmp_path / "r.csv")
    counts = _bounded(lambda: write_reports(_golden(spark, a_rows, b_rows), prefix,
                                            single_file=True))
    assert counts["differing"] == 0
    assert glob.glob(os.path.join(prefix, "part-*"))
    assert not os.path.exists(prefix + "_differing_values.csv")


def test_null_id_differing_row_still_writes_detail(spark, tmp_path, clean):
    """The dict cell of a NULL id is NULL, so the summary's differing
    column holds no value — the count must be of rows, not cells."""
    empty = spark.createDataFrame([], "id string")
    diff = spark.createDataFrame(
        [(None, "a", "b")], "id string, MODEL_oracle string, MODEL_postgres string")
    res = ReconcileResult(empty, empty, diff, "oracle", "postgres", "MODEL")
    prefix = str(tmp_path / "r.csv")
    counts = _bounded(lambda: write_reports(res, prefix, single_file=True, render="dict"))
    assert counts == {"missing_in_first": 0, "missing_in_second": 0, "differing": 1}
    assert glob.glob(os.path.join(prefix + "_differing_values.csv", "part-*"))


def test_write_with_summary_pin_already_cached(spark, tmp_path, clean):
    """report_summary materialized first leaves an equal rank frame
    cached; write_reports then hits Spark's "already cached" path and
    must still observe its counts."""
    res = _golden(spark)
    report_summary(res, render="dict").write.format("noop").mode("overwrite").save()
    assert not _cache_manager(spark).isEmpty()
    counts = _bounded(lambda: write_reports(res, str(tmp_path / "r.csv"), single_file=True))
    assert counts == {"missing_in_first": 0, "missing_in_second": 0, "differing": 2}


# --- ordered output -----------------------------------------------------

def _read_parts(path: str) -> list[list[str | None]]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="") as f:
            reader = csv.reader(f)
            next(reader, None)  # every part carries the header
            rows.extend([c if c != "" else None for c in r] for r in reader)
    return rows


@pytest.fixture(scope="module")
def ragged(spark, tmp_path_factory):
    """20k+ rows per side over 4 parquet files each: duplicate ids on
    the probe side of one anti-join, one-sided NULL check values, and
    an empty missing_in_second list."""
    root = tmp_path_factory.mktemp("ragged")

    def a_val(i):
        return None if i % 50 == 0 else f"v{i % 7}"

    def b_val(i):
        if i % 70 == 0:
            return None
        return f"w{i}" if i % 10 == 0 else f"v{i % 7}"

    a_rows = [(str(i), a_val(i)) for i in range(12000)]
    b_rows = [(str(i), b_val(i)) for i in range(22000)]
    b_rows += [(str(i), "dup") for i in range(15000, 16000)]
    paths = []
    for name, rows in (("a", a_rows), ("b", b_rows)):
        p = str(root / f"{name}.parquet")
        spark.createDataFrame(rows, "id string, MODEL string").repartition(4).write.parquet(p)
        assert len(glob.glob(os.path.join(p, "part-*.parquet"))) == 4
        paths.append(p)
    a, b = (spark.read.parquet(p) for p in paths)
    res = reconcile(a, b, check_column="MODEL", mode="string",
                    db1="a", db2="b", threshold=1.0)

    def quoted(v):
        return "nan" if v is None else f"'{v}'"

    diff = sorted(
        (r.id, f"{{'id': '{r.id}', 'MODEL_a': {quoted(r.MODEL_a)}, "
               f"'MODEL_b': {quoted(r.MODEL_b)}}}")
        for r in res.differing.collect()
    )
    lists = [
        sorted(r.id for r in res.missing_in_first.collect()),
        sorted(r.id for r in res.missing_in_second.collect()),
        [cell for _, cell in diff],
    ]
    assert len(lists[0]) == 11000 and not lists[1]
    assert len(lists[2]) > 1000 and any("nan" in c for c in lists[2])
    depth = max(map(len, lists))
    want = [[lst[i] if i < len(lst) else None for lst in lists] for i in range(depth)]
    return res, want


@pytest.mark.parametrize("single_file", [True, False], ids=["single_file", "parts"])
def test_summary_parts_are_row_aligned(spark, tmp_path, clean, ragged, single_file):
    res, want = ragged
    prefix = str(tmp_path / "r.csv")
    counts = write_reports(res, prefix, single_file=single_file)
    assert counts["missing_in_first"] == len(want)
    if single_file:
        assert len(glob.glob(os.path.join(prefix, "part-*"))) == 1
    assert _read_parts(prefix) == want


def test_sorted_ids_rank_is_dense_in_id_order(spark, sf_dir, clean):
    from validation_database_spark.suite.advanced import q_sorted_ids

    rows = sorted((r["rank"], r["id"]) for r in q_sorted_ids(spark, sf_dir).collect())
    assert [k for k, _ in rows] == list(range(1, len(rows) + 1))
    assert [i for _, i in rows] == sorted(i for _, i in rows)


# --- plan and job pins --------------------------------------------------

def test_report_summary_plan_is_one_range_sort_no_window(spark, clean):
    import re

    plan = physical_plan(report_summary(_golden(spark)))
    assert len(set(re.findall(r"rangepartitioning\(__tag#\d+", plan))) == 1, plan
    assert "WindowExec" not in plan and "Window " not in plan, plan
    assert "hashpartitioning(__pid" not in plan, plan
    # the pivot reuses the rn range partitioning: no hash pivot, no sort exchange
    assert re.search(r"rangepartitioning\(rn#\d+", plan), plan
    assert not re.search(r"hashpartitioning\(rn#\d+", plan), plan


def test_write_reports_job_count(spark, tmp_path, clean):
    res = _golden(spark)
    sc = spark.sparkContext
    sc.setJobGroup("report_tail_write", "write_reports")
    try:
        write_reports(res, str(tmp_path / "r.csv"), single_file=True)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("report_tail_write")
    assert len(jobs) <= GOLDEN_WRITE_JOBS, f"write_reports ran {len(jobs)} jobs"
