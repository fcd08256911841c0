"""Cluster job entrypoint: training-data curation over a documents table.

The batch pipeline a 100 TB corpus runs between crawling and training:

    dedup (prefix-fingerprint keep-first)
      → optional benchmark decontamination (--decontaminate-bench: the
        benchmark's 8-gram shingles folded into a broadcast Bloom
        bitmap; docs over --contamination-max dropped)
      → optional duplicated-substring filter (--dup-frac-max: drop docs
        whose Lee-style 8-gram duplicated-token fraction is too high)
      → optional per-source cap (--cap-per-source: C4-style host
        frequency capping, skew-proof two-phase top-K)
      → quality scoring + threshold filter
      → optional unigram-LM filter (--lm-min: CCNet-style mean token
        log-prob under a model estimated from the corpus itself)
      → optional length-tail trim (--trim-length-tails: per-language
        nearest-rank p05/p95 token-count bounds)
      → deterministic stratified sampling (per-language rates, or
        --mix-by-source: temperature t=0.5 token-budget mixing)
      → range-clustered sorted write (file-level data skipping)

Submit:

    scripts/make_pyfiles.sh
    spark-submit <cluster options> \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_curate.py \
      --input <documents parquet/iceberg path> \
      --output <curated path> \
      [--quality-min 0.5] [--sample-en 200] [--sample-other 400] [--files 64]

Prints one JSON summary line (rows in/kept at each stage). Deterministic:
rerunning on the same input yields byte-identical selection (content
fingerprints and multiplicative-hash sampling — no RNG).
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    # absent flags stay unset, so run_curation's signature holds every default
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--quality-min", type=float)
    ap.add_argument("--lm-min", type=float,
                    help="drop docs whose mean unigram log-prob (model "
                         "estimated from the post-dedup corpus itself) is "
                         "below this; off by default")
    ap.add_argument("--cap-per-source", type=int,
                    help="keep at most N docs per source (C4-style host "
                         "capping, lowest doc_id first); off by default")
    ap.add_argument("--decontaminate-bench",
                    help="path to a benchmark documents table; drop docs "
                         "whose Bloom-estimated 8-gram contamination "
                         "exceeds --contamination-max; off by default")
    ap.add_argument("--contamination-max", type=float)
    ap.add_argument("--dup-frac-max", type=float,
                    help="drop docs whose Lee-style duplicated-substring "
                         "token fraction (8-gram, corpus-wide) exceeds "
                         "this; off by default")
    ap.add_argument("--mix-by-source", action="store_true",
                    help="replace per-language sampling with temperature "
                         "t=0.5 source mixing at --mix-budget-mille of "
                         "the corpus tokens")
    ap.add_argument("--mix-budget-mille", type=int)
    ap.add_argument("--gopher-gate", action="store_true",
                    help="apply the Gopher rule ladder (word count, mean "
                         "word length, symbol/bullet/ellipsis ratios, "
                         "alpha-word fraction, stopwords) as a narrow "
                         "filter; off by default")
    ap.add_argument("--ppl-drop-tail", action="store_true",
                    help="CCNet-style: drop the per-language tail tertile "
                         "by unigram-LM score; off by default")
    ap.add_argument("--trim-length-tails", action="store_true",
                    help="drop docs outside their language's nearest-rank "
                         "p05/p95 token-count bounds; off by default")
    ap.add_argument("--sample-en", type=int, help="per-mille keep rate for lang=en")
    ap.add_argument("--sample-other", type=int, help="per-mille keep rate otherwise")
    ap.add_argument("--files", type=int)
    opts = vars(ap.parse_args())

    from documentconvert_spark.functions import run_curation
    from documentconvert_spark.session import build_session
    from documentconvert_spark.tableio import read_table

    spark = build_session(app_name="curate")
    docs = read_table(spark, opts.pop("input"))
    print(json.dumps(run_curation(docs, **opts)))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
