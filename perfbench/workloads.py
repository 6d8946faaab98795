"""The benchmark's workloads: inputs, the timed public call, the output
checks against the generator's truth, and the traced per-layer spans.

Each workload drives the package only through its public functions.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil

import pyarrow as pa
import pyarrow.csv as pacsv

import gen

# LSH S-curve midpoint of the default 4 bands x 4 rows geometry,
# (1/4) ** (1/4): a candidate pair at or above it counts as verified.
VERIFY_JACCARD = 0.707


def noop(df) -> None:
    """Run the whole plan of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class Recon:
    """``run_validation`` over a generated two-source pair."""

    # JIT warm-up: a call's time falls for several calls after the
    # first; a fixed count keeps the measured calls at the same point
    # of that curve in every run
    warm_calls = 3
    min_calls = 5  # measured calls, at least

    def __init__(self, work: str, seed: int, cpus: int, *, rows_a: int, rows_b: int,
                 shared: int, drift: float, threshold: float):
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out", "result.csv")
        self.seed, self.cpus = seed, cpus
        self.shape = dict(rows_a=rows_a, rows_b=rows_b, shared=shared,
                          drift_frac=drift, threshold=threshold)
        self.items = rows_a + rows_b
        self.config = {
            "databases": ["a", "b"],
            "data_type": "string",
            "check_column": "MODEL",
            "composite_id_columns": ["id"],
            "threshold": threshold,
            "a_table_name": "recon_a",
            "b_table_name": "recon_b",
            "a_source": {"format": "parquet", "path": self.data},
            "b_source": {"format": "parquet", "path": self.data},
            "output": self.out,
        }
        self.truth: gen.ReconTruth | None = None
        self.audit = None

    def describe(self) -> dict:
        return {**self.shape, "input_bytes": self.truth.bytes_on_disk,
                "planted_differing": len(self.truth.differing_ids)}

    def generate(self) -> None:
        self.truth = gen.recon_pair(self.data, self.seed, parts=self.cpus, **self.shape)

    def touch(self, spark) -> None:
        from validation_database_spark.sources import load_table

        for t in ("recon_a", "recon_b"):
            load_table(spark, t, self.data).schema

    def reset(self) -> None:
        """Remove the previous call's reports."""
        _clear(self.out)
        _clear(self.out + "_differing_values.csv")

    def call(self, spark):
        from validation_database_spark.config import run_validation

        return run_validation(spark, self.config)

    def check(self, run) -> list[str]:
        t = self.truth
        errs = []
        summary = _read_csv_dir(self.out)
        for col, want in (("missing_in_a", t.missing_in_a), ("missing_in_b", t.missing_in_b),
                          ("differing_values", len(t.differing_ids))):
            got = summary.num_rows - summary.column(col).null_count if col in summary.column_names else -1
            if got != want:
                errs.append(f"summary {col}: {got} != {want}")
        if summary.num_rows != max(t.missing_in_a, t.missing_in_b, len(t.differing_ids)):
            errs.append(f"summary rows {summary.num_rows}")
        detail_dir = self.out + "_differing_values.csv"
        ids = _read_csv_dir(detail_dir).column("id").to_pylist() if os.path.isdir(detail_dir) else []
        if len(ids) != len(set(ids)) or set(ids) != t.differing_ids:
            errs.append(f"differing ids: {len(set(ids) ^ t.differing_ids)} wrong of {len(t.differing_ids)}")
        return errs

    def spans(self, spark, tr) -> None:
        from pyspark.sql import functions as F

        from validation_database_spark.config import run_validation
        from validation_database_spark.operators.compare import differing_values
        from validation_database_spark.operators.keys import composite_id
        from validation_database_spark.operators.reconcile import join_pairs, missing_ids
        from validation_database_spark.operators.report import report_summary, write_reports
        from validation_database_spark.sources import load_table

        build_cfg = {k: v for k, v in self.config.items() if k != "output"}
        with tr.span("config.build"):
            r = run_validation(spark, build_cfg).result
            for df in (r.missing_in_first, r.missing_in_second, r.differing):
                df.schema
        with tr.span("sources.scan"):
            a, b = (
                load_table(spark, t, self.data).select(
                    composite_id(["id"]).alias("id"), F.col("MODEL")
                )
                for t in ("recon_a", "recon_b")
            )
            noop(a)
            noop(b)
        with tr.span("reconcile.missing_ids"):
            for df in missing_ids(a, b):
                noop(df)
        with tr.span("reconcile.join_pairs"):
            pairs = join_pairs(a, b, "MODEL", "a", "b")
            noop(pairs)
        with tr.span("compare.differing"):
            noop(differing_values(pairs, "MODEL_a", "MODEL_b", "string",
                                  threshold=self.config["threshold"]))
        with tr.span("report.summary"):
            noop(report_summary(r, render="dict"))
        self.reset()
        with tr.span("report.write"):
            write_reports(r, self.out, single_file=True)

    def layer_metrics(self, st) -> dict:
        report = [st["report.summary"], st["report.write"]]
        return {
            "config.build_s": st["config.build"].wall_s,
            "sources.scan_s": st["sources.scan"].wall_s,
            "sources.input_bytes": st["sources.scan"].input_bytes,
            "sources.rows": st["sources.scan"].input_rows,
            "reconcile.missing_ids_s": st["reconcile.missing_ids"].wall_s,
            "reconcile.join_pairs_s": st["reconcile.join_pairs"].wall_s,
            "reconcile.cpu_s": st["reconcile.missing_ids"].cpu_s + st["reconcile.join_pairs"].cpu_s,
            "compare.differing_s": st["compare.differing"].wall_s,
            "report.summary_s": st["report.summary"].wall_s,
            "report.write_s": st["report.write"].wall_s,
            "report.cpu_s": sum(s.cpu_s for s in report),
            "report.shuffle_bytes": sum(s.shuffle_bytes for s in report),
            "report.spill_bytes": sum(s.spill_bytes for s in report),
            "report.rows_written": st["report.write"].output_rows,
            "report.bytes_written": st["report.write"].output_bytes,
        }


class Curate:
    """``run_curation`` with all five stages and JSONL export over a
    generated corpus."""

    warm_calls = 2
    min_calls = 4

    def __init__(self, work: str, seed: int, cpus: int, *, docs: int):
        self.data = os.path.join(work, "corpus")
        self.out = os.path.join(work, "curated")
        self.seed, self.cpus, self.docs = seed, cpus, docs
        self.items = docs
        self.config = {
            "input": {"sf_dir": self.data},
            "stages": {
                "filter": {"min_chars": gen.MIN_CHARS, "langs": list(gen.KEEP_LANGS),
                           "classifier": True},
                "line_dedup": True,
                "near_dedup": True,
                "semantic_dedup": True,
                "span_corruption": True,
            },
            "output": {"dir": self.out, "shards": 2},
            "report_counts": False,
        }
        self.truth: gen.CorpusTruth | None = None
        self.counts: dict | None = None
        self.exported: set[int] | None = None
        self.export_dir = os.path.join(work, "export_span")
        self.verified = self.candidates = 0

    def describe(self) -> dict:
        t = self.truth
        return {"docs": self.docs, "input_bytes": t.bytes_on_disk,
                "exact_dup_losers": len(t.exact_dup_losers),
                "boilerplate_only": len(t.boilerplate_only),
                "boilerplate_docs": t.boilerplate_docs,
                "filtered_out": len(t.filtered_out)}

    def generate(self) -> None:
        self.truth = gen.corpus(self.data, self.seed, docs=self.docs, parts=self.cpus)

    def touch(self, spark) -> None:
        from validation_database_spark.sources import load_table

        for t in ("documents", "embeddings"):
            load_table(spark, t, self.data).schema

    def reset(self) -> None:
        """Remove the previous call's export."""
        _clear(self.out)

    def call(self, spark, report_counts: bool = False):
        from validation_database_spark.curation import run_curation

        return run_curation(spark, {**self.config, "report_counts": report_counts})

    def audit(self, spark) -> list[str]:
        """One untimed call with the per-stage survivor counts on: the
        counts never increase, start at the corpus size and end at the
        number of rows exported by every timed call."""
        self.reset()
        run = self.call(spark, report_counts=True)
        errs = self.check(run)
        counts = run.counts
        order = ["input", "filter", "line_dedup", "near_dedup", "semantic_dedup", "output"]
        seq = [counts.get(k) for k in order]
        if None in seq or seq[0] != self.truth.docs:
            errs.append(f"counts {counts}")
        elif any(b > a for a, b in zip(seq, seq[1:])):
            errs.append(f"survivor counts increase: {seq}")
        elif seq[-1] != len(self.exported):
            errs.append(f"counts say {seq[-1]} rows out, {len(self.exported)} exported")
        self.counts = counts
        return errs

    def check(self, run) -> list[str]:
        t = self.truth
        errs = []
        rows = []
        for path in run.shards:
            with gzip.open(path, "rt") as f:
                rows.extend(json.loads(line) for line in f)
        got = {r["doc_id"] for r in rows}
        if len(got) != len(rows) or not rows:
            errs.append(f"{len(rows)} rows exported for {len(got)} docs")
        if self.exported is None:
            self.exported = got
        elif got != self.exported:
            errs.append(f"exported docs differ from the first run: {len(got ^ self.exported)}")
        for what, ids in (("exact-duplicate losers", t.exact_dup_losers),
                          ("boilerplate-only docs", t.boilerplate_only),
                          ("short or off-language docs", t.filtered_out)):
            if got & ids:
                errs.append(f"{len(got & ids)} {what} exported")
        return errs

    def spans(self, spark, tr) -> None:
        from validation_database_spark.operators import dedup as D
        from validation_database_spark.sources import load_table
        from validation_database_spark.sources.export import export_jsonl_shards
        from validation_database_spark.suite.dedup import q_dedup_minhash_lsh
        from validation_database_spark.suite.similarity import semantic_dedup_hier_frame
        from validation_database_spark.suite.text import (
            q_line_dedup_rewrite,
            q_quality_classifier,
            q_span_corruption,
        )
        from validation_database_spark.util import release_pins

        d = self.data
        with tr.span("sources.scan"):
            docs = load_table(spark, "documents", d)
            emb = load_table(spark, "embeddings", d)
            noop(docs)
            noop(emb)
        with tr.span("text.classifier"):
            noop(q_quality_classifier(spark, d))
        with tr.span("text.line_dedup"):
            noop(q_line_dedup_rewrite(spark, d))
        with tr.span("text.span_corruption"):
            noop(q_span_corruption(spark, d))
        with tr.span("dedup.minhash"):
            pairs = q_dedup_minhash_lsh(spark, d).collect()
        release_pins()
        self.verified = sum(1 for p in pairs if p["jaccard"] >= VERIFY_JACCARD)
        with tr.span("dedup.candidates"):
            sh = D.exploded_shingles(docs)
            self.candidates = D.lsh_candidate_pairs(D.lsh_bands(D.minhash_signatures(sh))).count()
        with tr.span("similarity.semdedup"):
            noop(semantic_dedup_hier_frame(emb.select("vec_id", "embedding")))
        release_pins()
        examples = q_span_corruption(spark, d).persist()
        examples.count()
        try:
            with tr.span("export.write"):
                export_jsonl_shards(examples, self.export_dir, shards_hint=2)
        finally:
            examples.unpersist()

    def layer_metrics(self, st) -> dict:
        return {
            "sources.scan_s": st["sources.scan"].wall_s,
            "sources.input_bytes": st["sources.scan"].input_bytes,
            "sources.rows": st["sources.scan"].input_rows,
            "text.classifier_s": st["text.classifier"].wall_s,
            "text.line_dedup_s": st["text.line_dedup"].wall_s,
            "text.line_dedup.task_skew": st["text.line_dedup"].task_skew,
            "text.span_corruption_s": st["text.span_corruption"].wall_s,
            "dedup.minhash_s": st["dedup.minhash"].wall_s,
            "dedup.candidate_pairs": self.candidates,
            "dedup.verified_pairs": self.verified,
            "dedup.verify_yield": self.verified / self.candidates if self.candidates else 0.0,
            "similarity.semdedup_s": st["similarity.semdedup"].wall_s,
            "export.write_s": st["export.write"].wall_s,
            "export.bytes_written": sum(
                os.path.getsize(p) for p in glob.glob(os.path.join(self.export_dir, "part-*"))
            ),
        }


def _read_csv_dir(path: str) -> pa.Table:
    """Every part file of a Spark CSV output directory, all columns as
    nullable strings."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if not parts:
        raise FileNotFoundError(f"no CSV parts under {path}")
    tables = []
    for p in parts:
        with open(p, "rb") as f:
            header = f.readline().decode().rstrip("\r\n").split(",")
        tables.append(
            pacsv.read_csv(
                p,
                read_options=pacsv.ReadOptions(use_threads=False),
                convert_options=pacsv.ConvertOptions(
                    column_types={c: pa.string() for c in header},
                    strings_can_be_null=True,
                ),
            )
        )
    return pa.concat_tables(tables)


def make(name: str, work: str, seed: int, cpus: int):
    """The named workload at its benchmark size."""
    if name == "recon_ref":
        return Recon(work, seed, cpus, rows_a=2_000, rows_b=REF_ROWS, shared=1_980,
                     drift=0.05, threshold=1.0)
    if name == "curate":
        return Curate(work, seed, cpus, docs=CURATE_DOCS)
    raise KeyError(name)


WORKLOADS = ("recon_ref", "curate")
REF_ROWS = 200_000
CURATE_DOCS = 300
