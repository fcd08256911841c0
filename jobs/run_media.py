"""Cluster job entrypoint: multimodal media curation over a binary table.

The media pass a training pipeline runs over opaque image/audio/video
columns:

    sniff (container metadata inventory, no decode)
      → decode stats (AVI and animated GIF → per-frame stats; WAV/FLAC
        → sample stats; images → 64-bit difference hash through the
        raster decoders; GIFs take BOTH routes — first-frame dhash and
        per-frame animation signatures)
      → near-dup pairs per modality (multiset-Jaccard over
        audio/video fingerprints; banded Hamming join over image
        difference hashes)
      → parquet outputs + one JSON summary line

Submit:

    scripts/make_pyfiles.sh
    spark-submit <cluster options> \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_media.py \
      --input <parquet with doc_id string, content binary> \
      --output <dir> [--jaccard-num 3 --jaccard-den 5] [--files 16]

Scale shape: sniff and decode are narrow Arrow-batched passes over the
scan (bytes never shuffle); only per-chunk/per-frame fingerprints reach
the pairwise joins. Undecodable blobs are contained as error rows /
dropped from dedup, never fail the stage.
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    # absent flags stay unset, so curate_media's signature holds every default
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--jaccard-num", type=int)
    ap.add_argument("--jaccard-den", type=int)
    ap.add_argument("--files", type=int)
    opts = vars(ap.parse_args())

    from documentconvert_spark.ops.multimodal import curate_media
    from documentconvert_spark.session import build_session
    from documentconvert_spark.tableio import read_table

    spark = build_session(app_name="media")
    media = read_table(spark, opts.pop("input"))
    print(json.dumps(curate_media(media, **opts)))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
