"""Cluster job entrypoint: resumable corpus extraction.

Submit (north_rule launch shape):

    scripts/make_pyfiles.sh   # builds dist/documentconvert_spark.zip
    spark-submit \
      <cluster options> \
      --driver-memory 8g \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_extract.py \
      --input  <documents_raw parquet/iceberg path> \
      --output <spans_out path> \
      --state  <state table path> \
      [--partitions N] [--rounds 3] [--max-docs N]

Rerunning the same command after any interruption resumes from the state
table (anti-join work selection); the rounds, their 1/2/4 s retry
backoff and --max-docs batching are pipeline.run_extraction_rounds.
--callback-url POSTs one completion payload
per terminal doc after the rounds finish (documentconvert_spark/
callbacks.py — executor-side dispatch, _SUCCESS-gated delivery log,
rerun-safe).
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    # absent round flags stay unset: run_extraction_rounds's signature holds their defaults
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", dest="out_path", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--partitions", dest="target_partitions", type=int)
    ap.add_argument("--rounds", type=int)
    ap.add_argument(
        "--max-docs",
        type=int,
        help="bounded batches: process at most this many docs per round "
        "(the reference fetch-worker pulls limit=max_concurrent_tasks "
        "pending tasks per poll); rounds continue until a round finds "
        "nothing left, still capped by --rounds",
    )
    ap.add_argument(
        "--compact-state",
        action="store_true",
        default=False,
        help="after the rounds finish, collapse the state table's run "
        "directories into one committed snapshot holding the latest row "
        "per doc_id (Iceberg expire_snapshots + rewrite analogue): at "
        "corpus scale the per-run directory count is what makes latest() "
        "reconstruction slow, so long-lived pipelines should compact "
        "periodically; resume semantics are unchanged",
    )
    ap.add_argument(
        "--callback-url",
        default=None,
        help="after the rounds finish, POST one task-completion payload "
        "per terminal doc to this URL (the reference's per-task "
        "callback_url, api/unified_document_api.py:157; its processor "
        "left the POST a TODO). Delivery results land in "
        "<state>_callbacks with the declared status-code/message/time "
        "fields; already-delivered docs are skipped on rerun",
    )
    ap.add_argument(
        "--warmup-docs",
        type=int,
        default=0,
        help="process this many docs against a throwaway state first, so "
        "JIT/codegen compile and Python-worker imports don't land in the "
        "first measured round (benchmarking aid; output is discarded)",
    )
    opts = vars(ap.parse_args())
    input_path, callback_url = opts.pop("input"), opts.pop("callback_url")
    compact_state, warmup_docs = opts.pop("compact_state"), opts.pop("warmup_docs")

    import shutil
    import tempfile

    from documentconvert_spark.callbacks import deliver_callbacks
    from documentconvert_spark.pipeline import run_extraction_job, run_extraction_rounds
    from documentconvert_spark.session import build_session
    from documentconvert_spark.state import StateStore

    spark = build_session(app_name="documentconvert-extract")
    docs = spark.read.parquet(input_path)
    state = StateStore(spark, opts.pop("state"))

    if warmup_docs > 0:
        scratch = tempfile.mkdtemp(prefix="extract_warmup_")
        try:
            run_extraction_job(
                spark,
                docs.limit(warmup_docs),
                f"{scratch}/out",
                StateStore(spark, f"{scratch}/state"),
                target_partitions=opts.get("target_partitions"),
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    results = run_extraction_rounds(spark, docs, state=state, **opts)
    for rnd, r in enumerate(results, start=1):
        print(json.dumps({"round": rnd, **r.__dict__}))
    if callback_url:
        print(json.dumps(deliver_callbacks(state, log=None, callback_url=callback_url)))
    if compact_state and not state.is_empty():
        n_before = len(state._committed_run_dirs())
        state.compact()
        print(json.dumps({"compacted_runs": n_before,
                          "runs_after": len(state._committed_run_dirs())}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
