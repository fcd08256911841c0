"""State compaction, priority-bounded work selection, salted aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from documentconvert_spark.corpus import corpus_rows, generate_corpus
from documentconvert_spark.ops.skew import salted_agg, salted_distinct_count
from documentconvert_spark.pipeline import run_extraction_job, run_extraction_rounds
from documentconvert_spark.schemas import DOCUMENTS_RAW
from documentconvert_spark.state import StateStore

SF = "/root/testdata/sf0.001"


def test_state_compaction(spark, tmp_path):
    docs = spark.createDataFrame(
        corpus_rows(generate_corpus(40, big_every=0)), schema=DOCUMENTS_RAW
    )
    st = StateStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    for _ in range(3):  # 3 runs → 3 run dirs (poison retries)
        run_extraction_job(spark, docs, out, st, target_partitions=4)
    latest_before = {(r.doc_id, r.attempt, r.status) for r in st.latest().collect()}
    n_dirs_before = len([e for e in os.listdir(st.path) if e.startswith("run_id=")])
    assert n_dirs_before == 3

    st.compact()
    n_dirs_after = len([e for e in os.listdir(st.path) if e.startswith("run_id=")])
    assert n_dirs_after == 1
    latest_after = {(r.doc_id, r.attempt, r.status) for r in st.latest().collect()}
    assert latest_after == latest_before
    # resume semantics intact: nothing left to do
    r = run_extraction_job(spark, docs, out, st, target_partitions=4)
    assert r.processed == 0


def test_priority_bounded_selection(spark, tmp_path):
    docs_list = generate_corpus(30, big_every=0)
    docs = spark.createDataFrame(corpus_rows(docs_list), schema=DOCUMENTS_RAW)
    st = StateStore(spark, str(tmp_path / "state"))
    out = str(tmp_path / "out")
    # priority: markup docs first (rank 0), then pdf, then image
    prio = (
        F.when(F.col("doc_type") == "markup", 0)
        .when(F.col("doc_type") == "pdf", 1)
        .otherwise(2)
    )
    r1 = run_extraction_job(
        spark, docs, out, st, target_partitions=4, priority_expr=prio, max_docs=10
    )
    assert r1.processed == 10
    done = {r.doc_id for r in st.latest().collect()}
    n_markup = sum(1 for d in docs_list if d.doc_type == "markup")
    # all markup docs (highest priority) were selected in the first slice
    if n_markup <= 10:
        assert all(d.doc_id in done for d in docs_list if d.doc_type == "markup")
    # repeated bounded runs drain the rest without duplicates
    total = r1.processed
    for _ in range(10):
        r = run_extraction_job(spark, docs, out, st, target_partitions=4, max_docs=10)
        total += r.processed
        if r.processed == 0:
            break
    assert st.latest().count() == 30
    spans = spark.read.parquet(out).filter(F.col("error").isNull())
    assert spans.select("doc_id").distinct().count() == spans.count()


def test_salted_agg_matches_plain(spark):
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    salted = salted_agg(
        events,
        "event_type",
        {"n": (F.count("*"), F.sum("n")), "total": (F.sum("value"), F.round(F.sum("total"), 6))},
        n_salt=8,
    )
    plain = events.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total")
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_salted_distinct_exact(spark):
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    salted = salted_distinct_count(events, "event_type", "user_id", n_salt=8)
    plain = events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_distinct"))
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}


def test_p5_result_file_filter(spark):
    """P5 (reference gradio_app.py:180-219): the main-artifact pick among
    an output listing — expected ext, temp/intermediate markers excluded,
    length cap, hash-run exclusion."""
    from pyspark.sql import functions as F

    from documentconvert_spark.functions import is_main_result_file

    names = [
        ("report.md", True),
        ("report.json", True),
        ("report.temp.md", False),         # temp marker
        ("output_report.md", False),       # intermediate prefix
        ("report.txt", False),             # wrong extension
        ("d41d8cd98f00b204e9800998ecf8427e.md", False),  # 32-hex run
        ("x" * 120 + ".md", False),        # name too long
        ("REPORT.MD", True),               # case-insensitive
    ]
    df = spark.createDataFrame([(n,) for n, _e in names], "name string")
    got = {r.name: r.keep for r in df.select(
        "name", is_main_result_file(F.col("name")).alias("keep")).collect()}
    assert got == {n: e for n, e in names}


def test_run_curate_cli_end_to_end(spark, tmp_path):
    """The run_curate job body (functions.run_curation: stage counts,
    persist, sorted write) against a small documents table: check the
    returned stage funnel plus the written output."""
    import pyarrow.parquet as pq

    from documentconvert_spark.functions import run_curation
    from documentconvert_spark.tableio import read_table

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")
    summary = run_curation(
        read_table(spark, src), out,
        quality_min=0.3, sample_en=500, sample_other=500,
        lm_min=-100, cap_per_source=10, trim_length_tails=True, files=4,
    )
    # funnel must be monotone and the write must match the final count;
    # -100 is permissively below any real mean log-prob, so the LM stage
    # must pass everything through (its wiring, not its threshold, is
    # what the job run checks — threshold behavior is unit-tested)
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_source_cap"] >= summary["after_quality"]
            >= summary["after_length_trim"] >= summary["after_sampling"] > 0)
    assert summary["after_lm_filter"] == summary["after_quality"]
    # cap 10 with >10 docs on some source must actually drop rows, and the
    # length trim (p05/p95) must drop at least the extreme tails (per-lang
    # groups stay >= 20 rows here, so the nearest-rank p95 sits strictly
    # inside the distribution)
    assert summary["after_source_cap"] < summary["after_dedup"]
    assert summary["after_length_trim"] < summary["after_lm_filter"]
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]
    assert "fingerprint" not in written.schema.names  # internals dropped


def test_run_curate_cli_decontaminates_and_mixes(spark, tmp_path):
    """run_curation's decontaminate_bench and mix_by_source stages end to
    end: a benchmark built from the first documents must knock those
    documents (contamination 1.0) out of the corpus, and source mixing
    must still produce a non-empty sorted write."""
    import pyarrow.parquet as pq

    from documentconvert_spark.functions import run_curation
    from documentconvert_spark.tableio import read_table

    src = "/root/testdata/sf0.001/documents.parquet"
    bench = str(tmp_path / "bench.parquet")
    docs = pq.read_table(src)
    pq.write_table(docs.slice(0, 10), bench)
    out = str(tmp_path / "curated")
    summary = run_curation(
        read_table(spark, src), out,
        quality_min=0.0,
        decontaminate_bench=bench, contamination_max=0.3,
        dup_frac_max=0.9,
        mix_by_source=True, mix_budget_mille=500,
        files=2,
    )
    # the bench docs are IN the corpus: their self-contamination is 1.0,
    # far over the 0.3 ceiling, so decontamination must drop rows; the
    # dup-frac stage slots into the funnel between it and quality
    assert summary["after_decontamination"] < summary["after_dedup"]
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_decontamination"] >= summary["after_dup_frac"]
            >= summary["after_quality"] >= summary["after_sampling"] > 0)
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]
    assert "sample_mille" not in written.schema.names  # mixing internals dropped


def test_run_index_cli_builds_ann_index(spark, tmp_path):
    """The run_index job body (ops.ann.build_ann_index): the persisted
    index must cover every vector (assignments and codes), the coarse
    cells must be non-degenerate, and the demo search must return top-5
    rows per query. Out-of-range PQ shapes are refused up front."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from documentconvert_spark.ops.ann import build_ann_index
    from documentconvert_spark.tableio import read_table

    out = str(tmp_path / "index")
    emb_df = read_table(spark, f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="--pq-k 17 cannot pack"):
        build_ann_index(emb_df, out, pq_k=17)
    with pytest.raises(ValueError, match="--pq-m 16 overflows"):
        build_ann_index(emb_df, out, pq_m=16)
    summary = build_ann_index(emb_df, out, k=8, demo_queries=10, files=2)
    assert summary["vectors"] == 500
    assert 1 < summary["ivf_cells"] <= 8          # empty cells may drop out
    assert summary["coded_vectors"] == 500        # every vector coded
    assert 0 < summary["avg_distortion"] < 1      # unit vectors: bounded
    assert summary["demo_topk_rows"] == 50        # 10 queries x top-5
    assigns = pq.read_table(out + "/assignments")
    assert assigns.num_rows == 500
    codes = pq.read_table(out + "/codes")
    # 4-bit nibbles x 8 subspaces fit one positive int32 range
    assert pc.max(codes["packed_code"]).as_py() < 1 << 32
    assert pc.min(codes["packed_code"]).as_py() >= 0


def test_run_index_cli_semdedup_scaled_k(spark, tmp_path):
    """build_ann_index with semdedup_tau: the prune table must be written
    with corpus-scaled k (500 vectors / block 32 -> 16 cells, NOT the
    index's fixed k=8), every pruned vector must point at a lower-id
    keeper, and no vector may be pruned twice — the production path the
    k=8 contract query certifies the semantics of."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from documentconvert_spark.ops.ann import build_ann_index
    from documentconvert_spark.tableio import read_table

    out = str(tmp_path / "index")
    summary = build_ann_index(
        read_table(spark, f"{SF}/embeddings.parquet"), out,
        k=8, semdedup_tau=0.4, semdedup_block=32, files=2,
    )
    assert summary["semdedup_cells"] == 16      # ceil(500/32), not k
    assert summary["semdedup_pruned"] > 0
    prune = pq.read_table(out + "/semdedup_prune")
    assert prune.num_rows == summary["semdedup_pruned"]
    assert prune.schema.names == ["vec_id", "cluster", "dup_of", "cos_sim"]
    # keep-first determinism: keeper always the lower id, one row per drop
    assert pc.all(pc.less(prune["dup_of"], prune["vec_id"])).as_py()
    assert len(set(prune["vec_id"].to_pylist())) == prune.num_rows
    assert pc.min(prune["cos_sim"]).as_py() >= 0.4


def test_run_extract_cli_compacts_state(spark, tmp_path):
    """run_extract's retry rounds then --compact-state, in process: the
    rounds leave multiple state run directories (poison docs fail and
    re-append); compaction must collapse them into ONE committed
    snapshot, and a rerun must resume to 'nothing left' — the scale guard
    for latest() reconstruction, which reads every run directory
    (state.py)."""
    docs = spark.createDataFrame(
        corpus_rows(generate_corpus(30, big_every=0)), schema=DOCUMENTS_RAW
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")

    def run_job():
        st = StateStore(spark, state)
        return st, run_extraction_rounds(
            spark, spark.read.parquet(src), out, st, rounds=3, target_partitions=4
        )

    st, rounds = run_job()
    assert rounds and rounds[0].processed == 30
    compacted_runs = len(st._committed_run_dirs())
    st.compact()
    assert compacted_runs == len(rounds)
    assert len(st._committed_run_dirs()) == 1
    dirs = [e for e in os.listdir(state) if e.startswith("run_id=")]
    assert len(dirs) == 1

    # resume on the compacted snapshot: nothing left (poison docs are
    # terminal-failed at the attempt cap, completed docs stay completed)
    _, rounds2 = run_job()
    assert rounds2[0].processed == 0


def test_run_extraction_rounds_backoff_and_stopping(spark, tmp_path, monkeypatch):
    """The retry-round loop: failing rounds back off 1 s then 2 s (no
    sleep after the last round), a clean corpus stops after one round,
    and bounded batches drain the corpus until a batch comes up short."""
    import time
    from types import SimpleNamespace

    from documentconvert_spark import pipeline

    sleeps = []
    monkeypatch.setattr(
        pipeline, "time", SimpleNamespace(monotonic=time.monotonic, sleep=sleeps.append)
    )

    def rounds_over(name, docs_list, **kw):
        docs = spark.createDataFrame(corpus_rows(docs_list), schema=DOCUMENTS_RAW)
        st = StateStore(spark, str(tmp_path / name / "state"))
        res = run_extraction_rounds(
            spark, docs, str(tmp_path / name / "out"), st, target_partitions=4, **kw
        )
        return st, res

    poisoned = generate_corpus(30, big_every=0)
    assert any(d.expect_error for d in poisoned)
    _, res = rounds_over("poison", poisoned, rounds=3)
    assert len(res) == 3 and all(r.failed for r in res)
    assert sleeps == [1.0, 2.0]

    clean = [d for d in generate_corpus(40, big_every=0) if not d.expect_error][:30]
    sleeps.clear()
    _, res = rounds_over("clean", clean, rounds=3)
    assert [(r.processed, r.failed) for r in res] == [(30, 0)]

    st, res = rounds_over("batched", clean, rounds=10, max_docs=10)
    assert [r.processed for r in res] == [10, 10, 10, 0]
    assert st.latest().filter(F.col("status") == "completed").count() == 30
    assert sleeps == []


def test_run_media_cli_end_to_end(spark, tmp_path, df_cache_rdd_ids):
    """The run_media job body (ops.multimodal.curate_media: sniff
    inventory → per-modality decode stats → near-dup pairs) against a
    mixed media table with planted dups and a corrupt blob: check the
    summary funnel and the outputs."""
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    from documentconvert_spark.corpus import encode_flac, render_avi
    from documentconvert_spark.ops.multimodal import curate_media
    from documentconvert_spark.queries_extraction import _wav_pcm_bytes
    from documentconvert_spark.tableio import read_table

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    grids = [[bytearray([255] * 20) for _ in range(10)] for _ in range(4)]
    for f, g in enumerate(grids):
        for y in range(2, 4 + f):
            g[y][:] = bytes(20)
    mono = [((i * 7) % 4001) - 2000 for i in range(2000)]
    sys.path.insert(0, os.path.join(repo, "scripts"))
    from gen_extra_fixtures import encode_vp8l

    from documentconvert_spark.corpus import encode_gray_png

    from documentconvert_spark.corpus import encode_gif_anim

    img = [bytearray(min(255, 30 + 3 * x + y) for x in range(48)) for y in range(24)]
    img_argb = [0xFF000000 | (v << 16) | (v << 8) | v for r in img for v in r]
    anim = encode_gif_anim(16, 10, [
        {"idx": [(x + y + f) % 2 for y in range(10) for x in range(16)]}
        for f in range(3)], [(0, 0, 0), (255, 255, 255)], 2)
    rows = [
        ("m-avi-a", render_avi(20, 10, grids, fps=5, codec="MJPG")),
        ("m-avi-b", render_avi(20, 10, grids, fps=5, codec="DIB ")),  # dup
        ("m-wav", _wav_pcm_bytes(8000, [mono], 16)),
        ("m-flac", encode_flac(8000, [mono], mode="fixed1")),  # cross-codec dup
        ("m-png", encode_gray_png(48, 24, img)),
        ("m-webp", encode_vp8l(48, 24, img_argb)),  # cross-codec image dup
        ("m-gif", anim),  # animated: takes both the image and video routes
        ("m-bad", b"not a container at all"),
    ]
    src = str(tmp_path / "media.parquet")
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                             "content": [r[1] for r in rows]}), src)
    out = str(tmp_path / "media_out")
    before = df_cache_rdd_ids()
    summary = curate_media(read_table(spark, src), out, files=2)
    assert df_cache_rdd_ids() - before == set()  # every cached frame released
    assert summary["docs_in"] == 8
    assert summary["by_format"] == {"avi": 2, "wav": 1, "flac": 1, "gif": 1,
                                    "png": 1, "webp": 1, "unknown": 1}
    assert summary["video_frames_decoded"] == 11  # 2 AVIs x 4 + gif x 3
    assert summary["audio_decoded"] == 2
    assert summary["images_hashed"] == 3  # png, webp + the gif first frame
    assert summary["video_dup_pairs"] == 1 and summary["audio_dup_pairs"] == 1
    assert summary["image_dup_pairs"] == 1
    ip = pq.read_table(out + "/image_pairs").to_pylist()
    assert ip[0]["doc_a"] == "m-png" and ip[0]["doc_b"] == "m-webp"
    assert ip[0]["hamming"] == 0  # lossless cross-codec: identical hash
    vp = pq.read_table(out + "/video_pairs").to_pylist()
    assert vp[0]["doc_a"] == "m-avi-a" and vp[0]["doc_b"] == "m-avi-b"
    assert vp[0]["matches"] == 4  # exact cross-codec frame match


def test_run_curate_cli_gopher_gate_and_ppl_tail(spark, tmp_path):
    """run_curation's gopher_gate and ppl_drop_tail stages end to end:
    the Gopher ladder must drop the sub-50-word docs, the CCNet tail drop
    must remove roughly the per-language bottom tertile, and the funnel
    stays monotone into a non-empty sorted write."""
    import pyarrow.parquet as pq

    from documentconvert_spark.functions import run_curation
    from documentconvert_spark.tableio import read_table

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")
    summary = run_curation(
        read_table(spark, src), out,
        quality_min=0.0, sample_en=1000, sample_other=1000,
        gopher_gate=True, ppl_drop_tail=True, files=2,
    )
    assert (summary["docs_in"] >= summary["after_dedup"]
            >= summary["after_quality"] > summary["after_gopher_gate"]
            > summary["after_ppl_tail_drop"] >= summary["after_sampling"] > 0)
    # the tail drop removes at most half and at least a fifth — a loose
    # band around the tertile that still catches an inverted or no-op
    # filter (ties land whole in tail, so exact 1/3 is not guaranteed)
    kept = summary["after_ppl_tail_drop"] / summary["after_gopher_gate"]
    assert 0.5 <= kept <= 0.8
    written = pq.read_table(out)
    assert written.num_rows == summary["after_sampling"]


def _smoke_media(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from documentconvert_spark.corpus import encode_gray_png

    src = str(tmp_path / "media.parquet")
    img = [bytearray(min(255, 30 + 3 * x + y) for x in range(48)) for y in range(24)]
    pq.write_table(pa.table({"doc_id": ["m-png", "m-bad"],
                             "content": [encode_gray_png(48, 24, img), b"junk"]}), src)
    return ["--input", src, "--output", str(tmp_path / "out"), "--files", "1"]


def _smoke_extract(spark, tmp_path):
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        corpus_rows(generate_corpus(20, big_every=0)), schema=DOCUMENTS_RAW
    ).write.parquet(src)
    return ["--input", src, "--output", str(tmp_path / "out"),
            "--state", str(tmp_path / "state"), "--rounds", "1", "--compact-state"]


_SMOKE = {
    "run_extract": (_smoke_extract, "runs_after"),
    "run_curate": (lambda spark, tmp_path: [
        "--input", f"{SF}/documents.parquet",
        "--output", str(tmp_path / "out"), "--files", "1"], "after_sampling"),
    "run_index": (lambda spark, tmp_path: [
        "--input", f"{SF}/embeddings.parquet",
        "--output", str(tmp_path / "out"), "--files", "1"], "avg_distortion"),
    "run_media": (_smoke_media, "by_format"),
    # an empty state table: the job starts, parses and reports, no POSTs
    "run_callbacks": (lambda spark, tmp_path: [
        "--state", str(tmp_path / "state"),
        "--callback-url", "http://127.0.0.1:9/hook"], "callbacks_delivered"),
}


@pytest.mark.parametrize("job", sorted(_SMOKE))
def test_jobs_self_sufficient_without_pythonpath(spark, tmp_path, job):
    """Operator ergonomics: `python jobs/run_X.py` must work from ANY cwd
    with NO PYTHONPATH export — the jobs bootstrap the repo root onto
    sys.path for the driver and into the PYTHONPATH env for the executor
    Python workers (which import the package's module-level UDFs; a
    driver-side sys.path alone does not reach them). One fresh-JVM smoke
    run per job on a tiny input; the job bodies themselves are tested in
    process above."""
    import json
    import subprocess
    import sys

    make_args, key = _SMOKE[job]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_MASTER"] = "local[2]"
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", f"{job}.py"),
         *make_args(spark, tmp_path)],
        capture_output=True, text=True, cwd=str(tmp_path), env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert key in summary
