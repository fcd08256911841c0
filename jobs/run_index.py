"""Cluster job entrypoint: ANN index build over an embeddings table.

The one-time corpus-side pass a 100 TB similarity-search deployment
persists, using the SAME oracle-certified definitions as the driver
contract queries (documentconvert_spark/ops/ann.py):

    coarse IVF quantizer (Lloyd's k-means, --k cells, --iters rounds)
      → cell assignment (vec_id → centroid_id, the inverted lists)
      → PQ codebooks (--pq-m subspaces × --pq-k centroids each)
      → packed PQ codes + per-vector distortion (codebook-drift monitor)
      → optional search demo (--demo-queries N: nProbe=2 top-5 for the
        N lowest vec_ids, written alongside the index)
      → optional SemDeDup prune table (--semdedup-tau: Abbas 2023
        semantic dedup over the SAME Lloyd quantizer, k scaled to the
        corpus via ops.ann.semdedup_cells so the within-cluster pair
        join stays linear in n)

Output layout (all parquet):
    <out>/centroids/      (c_id, ce double[], cn)
    <out>/assignments/    (vec_id, centroid_id, cos_sim)
    <out>/pq_centroids/   (s, c_id, ce double[])
    <out>/codes/          (vec_id, packed_code, distortion)
    <out>/demo_topk/      (q_id, n_id, cos_sim)        [--demo-queries]
    <out>/semdedup_prune/ (vec_id, cluster, dup_of, cos_sim)  [--semdedup-tau]

Submit:

    scripts/make_pyfiles.sh
    spark-submit <cluster options> \
      --py-files dist/documentconvert_spark.zip \
      jobs/run_index.py --input <embeddings parquet> --output <dir> \
      [--k 8] [--iters 2] [--pq-m 8] [--pq-k 16] [--demo-queries 10]

Prints one JSON summary line. Deterministic: k-means seeds from the k
lowest vec_ids and every centroid mean rounds to 6dp per update, so a
rerun (or the DuckDB oracle at contract scale) reproduces the index
bit-for-bit.
"""

from __future__ import annotations

import argparse
import json
import sys

import _bootstrap  # noqa: F401  (self-sufficient launch; see jobs/_bootstrap.py)


def main() -> None:
    # absent flags stay unset, so build_ann_index's signature holds every default
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, help="IVF cells (scale with corpus size)")
    ap.add_argument("--iters", type=int, help="Lloyd rounds")
    ap.add_argument("--pq-m", type=int, help="PQ subspaces")
    ap.add_argument("--pq-k", type=int, help="PQ centroids per subspace (<=16 packs to 4 bits)")
    ap.add_argument("--demo-queries", type=int,
                    help="also run nProbe=2 top-5 search for the N lowest vec_ids")
    ap.add_argument("--semdedup-tau", type=float,
                    help="also write a SemDeDup prune table (Abbas 2023): "
                         "drop vectors with a lower-id cluster-mate above "
                         "this cosine similarity; off by default")
    ap.add_argument("--semdedup-block", type=int,
                    help="target expected cluster size for the SemDeDup "
                         "quantizer: k = max(8, ceil(n/block)), so pair "
                         "work stays LINEAR in the corpus")
    ap.add_argument("--files", type=int)
    opts = vars(ap.parse_args())

    from documentconvert_spark.ops.ann import build_ann_index
    from documentconvert_spark.session import build_session
    from documentconvert_spark.tableio import read_table

    spark = build_session(app_name="ann-index")
    emb_df = read_table(spark, opts.pop("input"))
    print(json.dumps(build_ann_index(emb_df, **opts)))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
