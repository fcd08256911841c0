"""The benchmark's workloads: inputs made from the seed, per-rep dirs, and
the oracle every rep's output is checked against.

Each workload builds an oracle frame with one row per input doc:
doc_id, exp_todo (the job must process it), exp_error (it must fail with
POISON_ERROR_CLASS), exp_n_spans, exp_md5 (md5 of the expected markdown),
exp_spans_md5 (md5 of the expected span list; synthetic docs only) and
exp_attempt (its attempt number in the state afterwards).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil

import pandas as pd
from pyspark.sql import functions as F

EXTRA_DOCS = os.path.join("documentconvert_spark", "resources", "extra_docs")
EXPECTED_REAL_DOCS = os.path.join(
    "documentconvert_spark", "resources", "expected_real_docs.parquet")
# the generator's poison docs are all malformed minipdf inputs
POISON_ERROR_CLASS = "malformed_input"
# per workload: docs at full size and at the smoke-test size
SIZES = {
    "synthetic_fresh": {"full": 6_000, "tiny": 300},
    "realformat_fresh": {"full": 16, "tiny": 2},  # replicas of each fixture
    "resume_retry": {"full": 8_000, "tiny": 300},
}


def _expected_batches(batches, seed: int):
    """Generator-side truth for synthetic doc indices (runs on executors)."""
    from documentconvert_spark.corpus import make_doc_by_index
    from documentconvert_spark.kernels.markdown import spans_to_markdown

    for b in batches:
        docs = [make_doc_by_index(int(i), seed) for i in b["id"]]
        yield pd.DataFrame({
            "doc_id": [d.doc_id for d in docs],
            "exp_error": [d.expect_error for d in docs],
            "exp_n_spans": pd.array(
                [None if d.expect_error else len(d.expected) for d in docs], dtype="Int32"),
            "exp_md5": [
                None if d.expect_error
                else hashlib.md5(spans_to_markdown(d.expected).encode("utf-8")).hexdigest()
                for d in docs
            ],
            "exp_spans_md5": [
                None if d.expect_error else _spans_md5([s.as_dict() for s in d.expected])
                for d in docs
            ],
        })


def _spans_md5(spans) -> str:
    """Digest of a span list (dicts), independent of the markdown fold."""
    return hashlib.md5(
        json.dumps(list(spans), sort_keys=True, ensure_ascii=False).encode("utf-8")
    ).hexdigest()


class Workload:
    name = ""
    PRIOR_RUNS = 0  # committed runs in the state each rep resumes from

    def __init__(self, spark, root: str, work: str, seed: int, size: str, tracer) -> None:
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.n = SIZES[self.name][size]
        self.tracer = tracer
        self.cores = spark.sparkContext.defaultParallelism
        self.docs = None
        self.oracle = None
        self.n_docs = 0

    @classmethod
    def absent_reason(cls, root: str) -> str | None:
        return None

    def build(self, path: str) -> None:
        """Materialize the job's input under `path` (set-up, timed)."""
        raise NotImplementedError

    def build_state(self) -> None:
        """Prior state the job resumes from (set-up, timed, once)."""

    def build_oracle(self) -> None:
        """The expected outcome per doc (the benchmark's own, untimed)."""
        raise NotImplementedError

    def prepare(self, rep_dir: str) -> tuple[str, str]:
        """Fresh (out, state) dirs for one rep, outside the timed region."""
        out, state = os.path.join(rep_dir, "out"), os.path.join(rep_dir, "state")
        os.makedirs(rep_dir)
        return out, state

    def kernel_sample(self) -> list[tuple[str, bytes, float]]:
        """(doc_type, content, weight) docs for the in-process kernel probe;
        weights sum to the number of input docs."""
        raise NotImplementedError

    def _materialize_oracle(self, frame) -> None:
        path = os.path.join(self.work, "oracle")
        frame.write.mode("overwrite").parquet(path)
        self.oracle = pd.read_parquet(path)
        self.n_docs = len(self.oracle)


class SyntheticFresh(Workload):
    """`benchcorpus.build_bench_corpus` docs extracted into empty state."""

    name = "synthetic_fresh"

    @property
    def corpus_seed(self) -> int:
        return self.seed

    def build(self, path: str) -> None:
        from documentconvert_spark.benchcorpus import build_bench_corpus

        with self.tracer.span("benchcorpus.build"):
            self.docs = build_bench_corpus(
                self.spark, self.n, path, seed=self.corpus_seed,
                partitions=2 * self.cores)

    def _expected(self):
        seed = self.corpus_seed
        return self.spark.range(0, self.n, 1, 2 * self.cores).mapInPandas(
            lambda it: _expected_batches(it, seed),
            "doc_id string, exp_error boolean, exp_n_spans int, exp_md5 string, "
            "exp_spans_md5 string",
        )

    def build_oracle(self) -> None:
        self._materialize_oracle(
            self._expected().select(
                "doc_id", F.lit(True).alias("exp_todo"), "exp_error",
                "exp_n_spans", "exp_md5", "exp_spans_md5", F.lit(1).alias("exp_attempt")))

    def kernel_sample(self) -> list[tuple[str, bytes, float]]:
        from documentconvert_spark.corpus import make_doc_by_index

        k = min(self.n, 400)
        idx = random.Random(self.seed).sample(range(self.n), k)
        docs = [make_doc_by_index(i, self.corpus_seed) for i in idx]
        return [(d.doc_type, d.content, self.n / k) for d in docs]


class ResumeRetry(SyntheticFresh):
    """A synthetic corpus of its own seed whose state already holds
    PRIOR_RUNS committed runs covering 3/4 of the docs, its poison docs
    failed at attempt 1. Each rep restores that state and resumes."""

    name = "resume_retry"
    PRIOR_RUNS = 2
    SLICES = 8  # run k covers slices 3k..3k+2; slices 6 and 7 stay todo

    @property
    def corpus_seed(self) -> int:
        return self.seed + 1_000_003

    def _slice(self):
        return F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(self.SLICES))

    def build_state(self) -> None:
        from documentconvert_spark.pipeline import run_extraction_job
        from documentconvert_spark.state import StateStore

        self.pristine = os.path.join(self.work, "pristine")
        state = StateStore(self.spark, os.path.join(self.pristine, "state"))
        with self.tracer.span("pipeline.prior_runs"):
            for k in range(self.PRIOR_RUNS):
                part = self.docs.filter(self._slice().isin(*range(3 * k, 3 * k + 3)))
                run_extraction_job(
                    self.spark, part, os.path.join(self.pristine, "out"), state)

    def build_oracle(self) -> None:
        covered = self._slice() < 3 * self.PRIOR_RUNS
        self._materialize_oracle(
            self._expected().select(
                "doc_id",
                (~covered | F.col("exp_error")).alias("exp_todo"),
                "exp_error", "exp_n_spans", "exp_md5", "exp_spans_md5",
                F.when(covered & F.col("exp_error"), 2).otherwise(1).alias("exp_attempt")))

    def prepare(self, rep_dir: str) -> tuple[str, str]:
        out, state = super().prepare(rep_dir)
        shutil.copytree(os.path.join(self.pristine, "out"), out)
        shutil.copytree(os.path.join(self.pristine, "state"), state)
        return out, state


class RealformatFresh(Workload):
    """The in-repo real-format fixtures, ingested with
    `ingest.binary_dir_as_raw` and replicated under unique doc_ids
    (`<file name>#<replica>`) in a seed-shuffled order."""

    name = "realformat_fresh"

    @classmethod
    def absent_reason(cls, root: str) -> str | None:
        for rel in (EXTRA_DOCS, EXPECTED_REAL_DOCS):
            if not os.path.exists(os.path.join(root, rel)):
                return f"{rel} is not in this checkout"
        return None

    def build(self, path: str) -> None:
        from documentconvert_spark.ingest import binary_dir_as_raw

        with self.tracer.span("ingest.build"):
            base = binary_dir_as_raw(self.spark, os.path.join(self.root, EXTRA_DOCS))
            replicas = self.spark.range(self.n).withColumnRenamed("id", "replica")
            (
                base.crossJoin(F.broadcast(replicas))
                .withColumn("doc_id", F.concat_ws("#", "doc_id", F.col("replica").cast("string")))
                .drop("replica")
                .orderBy(F.xxhash64("doc_id", F.lit(self.seed)))
                .write.mode("overwrite").parquet(path)
            )
            self.docs = self.spark.read.parquet(path)

    def build_oracle(self) -> None:
        exp = pd.read_parquet(os.path.join(self.root, EXPECTED_REAL_DOCS))
        exp = exp[exp["status"] == "completed"][["doc_id", "n_spans", "markdown_md5"]]
        expected = self.spark.createDataFrame(
            exp.rename(columns={"doc_id": "base_id"}),
            "base_id string, n_spans int, markdown_md5 string")
        self._materialize_oracle(
            self.docs.select(
                "doc_id", F.regexp_replace("doc_id", "#[0-9]+$", "").alias("base_id"))
            .join(expected, "base_id", "left")
            .select(
                "doc_id", F.lit(True).alias("exp_todo"), F.lit(False).alias("exp_error"),
                F.col("n_spans").alias("exp_n_spans"),
                F.col("markdown_md5").alias("exp_md5"),
                F.lit(None).cast("string").alias("exp_spans_md5"),
                F.lit(1).alias("exp_attempt")))

    def kernel_sample(self) -> list[tuple[str, bytes, float]]:
        from documentconvert_spark.ingest import binary_dir_as_raw

        rows = binary_dir_as_raw(self.spark, os.path.join(self.root, EXTRA_DOCS)) \
            .select("doc_type", "content").collect()
        return [(r.doc_type, bytes(r.content), float(self.n)) for r in rows]


WORKLOADS = {w.name: w for w in (SyntheticFresh, RealformatFresh, ResumeRetry)}


def _wrong_docs(oracle: pd.DataFrame, out_path: str, state_path: str, run_id: str) -> int:
    """Docs whose rows written by one run are missing, duplicated or
    wrong, read with pyarrow. A doc to do has exactly one output row, with
    the expected n_spans, markdown md5 and, where the oracle has them, the
    expected spans (a poison doc: status failed,
    POISON_ERROR_CLASS), and exactly one state row with the expected status
    and attempt. A doc not to do has neither; a doc_id outside the input
    is always wrong."""
    import pyarrow.parquet as pq

    run = f"run_id={run_id}"
    out = pq.read_table(
        os.path.join(out_path, run),
        columns=["doc_id", "status", "n_spans", "markdown", "error_class", "spans"],
    ).to_pandas()
    state = pq.read_table(
        os.path.join(state_path, run), columns=["doc_id", "status", "attempt"]
    ).to_pandas().rename(columns={"status": "st_status", "attempt": "st_attempt"})
    out["md5"] = [
        None if m is None else hashlib.md5(m.encode("utf-8")).hexdigest()
        for m in out["markdown"]
    ]
    out["spans_md5"] = [None if sp is None else _spans_md5(sp) for sp in out["spans"]]
    j = (
        oracle.set_index("doc_id")
        .join(out.drop_duplicates("doc_id").set_index("doc_id"), how="outer")
        .join(state.drop_duplicates("doc_id").set_index("doc_id"), how="outer")
    )
    n_out = out.groupby("doc_id").size().reindex(j.index).fillna(0)
    n_state = state.groupby("doc_id").size().reindex(j.index).fillna(0)
    # plain float/object columns: a missing value compares unequal, never NA
    for col in ("n_spans", "exp_n_spans", "st_attempt", "exp_attempt"):
        j[col] = j[col].astype("float64")
    poison, clean = j["exp_error"] == True, j["exp_error"] == False  # noqa: E712
    status = j["status"].where(j["status"] == j["st_status"])
    row_ok = (poison & (status == "failed") & (j["error_class"] == POISON_ERROR_CLASS)) | (
        clean & (status == "completed")
        & (j["n_spans"] == j["exp_n_spans"]) & (j["md5"] == j["exp_md5"])
        & (j["exp_spans_md5"].isna() | (j["spans_md5"] == j["exp_spans_md5"])))
    row_ok &= j["st_attempt"] == j["exp_attempt"]
    ok = ((j["exp_todo"] == True) & (n_out == 1) & (n_state == 1) & row_ok) | (  # noqa: E712
        (j["exp_todo"] == False) & (n_out == 0) & (n_state == 0))  # noqa: E712
    return int((~ok).sum())


def _wrong_tables(spark, oracle: pd.DataFrame, reps: list[dict]) -> int:
    """Docs wrong in each rep's whole tables, read through the package's
    own readers, all reps in one Spark action: `StateStore.latest()` must
    hold the expected count per (status, attempt), and
    `read_committed_output` every completed doc exactly once. A count off
    by k adds k wrong docs."""
    from documentconvert_spark.pipeline import read_committed_output
    from documentconvert_spark.state import StateStore

    parts = []
    for i, r in enumerate(reps):
        state = StateStore(spark, r["state"])
        parts.append(
            state.latest().groupBy("status", "attempt")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(i).alias("rep"), F.lit("latest").alias("kind"), "status",
                    F.col("attempt").cast("int").alias("attempt"), "n", F.col("n").alias("docs")))
        parts.append(
            read_committed_output(spark, r["out"], state)
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("docs"))
            .select(F.lit(i).alias("rep"), F.lit("committed").alias("kind"),
                    F.lit(None).cast("string").alias("status"),
                    F.lit(None).cast("int").alias("attempt"), "n", "docs"))
    got = functools.reduce(lambda a, b: a.unionByName(b), parts).collect()

    expected = oracle.assign(
        status=oracle["exp_error"].map({True: "failed", False: "completed"})
    ).groupby(["status", "exp_attempt"]).size().to_dict()
    n_completed = int((oracle["exp_error"] == False).sum())  # noqa: E712
    wrong = 0
    for i in range(len(reps)):
        latest = {(g["status"], g["attempt"]): g["n"]
                  for g in got if g["rep"] == i and g["kind"] == "latest"}
        keys = set(latest) | set(expected)
        wrong += (sum(abs(latest.get(k, 0) - expected.get(k, 0)) for k in keys) + 1) // 2
        committed = next(g for g in got if g["rep"] == i and g["kind"] == "committed")
        wrong += abs(committed["n"] - n_completed) + committed["n"] - committed["docs"]
    return int(wrong)


def check_reps(spark, wl: Workload, reps: list[dict]) -> tuple[int, int]:
    """(docs checked, docs wrong), summed over reps. Every rep's own rows
    are checked per doc; a resumed workload's whole tables are checked
    through the package's readers as well."""
    wrong = sum(_wrong_docs(wl.oracle, r["out"], r["state"], r["run_id"]) for r in reps)
    if wl.PRIOR_RUNS:
        wrong += _wrong_tables(spark, wl.oracle, reps)
    return wl.n_docs * len(reps), wrong
