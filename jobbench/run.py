"""Extraction-job benchmark: times the literal `pipeline.run_extraction_job`
on local[<usable cores>], one process, fresh output and state dirs per rep.

    python3 jobbench/run.py --workload synthetic_fresh --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Workloads: synthetic_fresh,
realformat_fresh, resume_retry (see jobbench/README.md). With --trace 0
the last stdout line carries the end-to-end metrics; with --trace 1 it
carries the per-layer metrics of a traced run, whose spans are written to
.bench_work/traces/. The line before it records the host shape and the
raw reps. Exit codes: 0 ok, 2 package not importable, 3 workload absent.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_REPS = 2
MAX_REPS = 40
BUILDS = 2  # input builds per run; setup_s takes their median
WARMUP_JOBS = 1
# the columns run_extraction_job carries through extract_spans; the
# separate no-op UDF stage mirrors them
PASSTHROUGH = ("source_bucket", "source_path", "attempt")


def _declared_metrics(kind: str) -> dict[str, str]:
    """name → unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares; the result reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _start_session(master: str, work: str):
    from documentconvert_spark.session import build_session

    spark = build_session(
        app_name="jobbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files (and its hsperfdata, which ignores
            # java.io.tmpdir) out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem",
        },
    )
    spark.range(1).count()  # the first action pays the JVM's lazy start
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and every process under it, and
    wait for each to end."""
    from pyspark import SparkContext

    from jobbench.probes import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        if pid == getattr(proc, "pid", None):
            continue
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGTERM)
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def _committed_state(state_path: str) -> tuple[int, int]:
    """(committed run dirs, rows in them) from directory listing and
    parquet footers — no Spark job."""
    import pyarrow.parquet as pq

    if not os.path.isdir(state_path):
        return 0, 0
    dirs = [
        os.path.join(state_path, d) for d in os.listdir(state_path)
        if d.startswith("run_id=") and os.path.exists(os.path.join(state_path, d, "_SUCCESS"))
    ]
    rows = sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d in dirs for f in os.listdir(d) if f.endswith(".parquet")
    )
    return len(dirs), rows


def _run_rep(spark, wl, tracer, jvm_pid: int, rep_dir: str, traced: bool) -> dict:
    from documentconvert_spark.pipeline import run_extraction_job
    from documentconvert_spark.state import StateStore

    from jobbench import probes
    from jobbench.tracing import layer_patches

    out, state_path = wl.prepare(rep_dir)
    run_dirs, rows_read = _committed_state(state_path)
    bytes_before = probes.data_bytes(out) + probes.data_bytes(state_path)
    state = StateStore(spark, state_path)
    tracer.run_id = os.path.basename(rep_dir)
    patches = layer_patches(tracer, out) if traced else contextlib.nullcontext()
    job_span = tracer.span("pipeline.run_extraction_job") if traced else contextlib.nullcontext()
    cpu0, jit0 = probes.tree_cpu_s(jvm_pid), probes.jit_cpu_s(jvm_pid)
    with patches, job_span as rec, probes.timed() as clock:
        result = run_extraction_job(spark, wl.docs, out, state)
    cpu = probes.tree_cpu_s(jvm_pid) - cpu0
    rep = {
        "rep": tracer.run_id,
        "traced": traced,
        **clock,
        "cpu_s": cpu,
        "jit_cpu_s": probes.jit_cpu_s(jvm_pid) - jit0,
        "processed": result.processed,
        "run_id": result.run_id,
        "out": out,
        "state": state_path,
        "bytes": probes.data_bytes(out) + probes.data_bytes(state_path) - bytes_before,
        "rss_mb": probes.python_peak_rss_mb(jvm_pid),
        "state.run_dirs": run_dirs,
        "state.rows_read": rows_read,
    }
    if traced:
        run_dir = os.path.join(out, f"run_id={result.run_id}")
        rep["job_span"] = rec["id"]
        rep["tableio.bytes_out"] = probes.data_bytes(run_dir)
        rep["pipeline.split_partitions"] = sum(
            1 for f in os.listdir(run_dir) if f.endswith(".parquet"))
    return rep


def _layer_metrics(spark, wl, tracer, reps: list[dict], setup: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run: span totals per traced rep
    (median over reps), then the separate no-op UDF stage, partition busy
    skew and the in-process kernel probe."""
    from pyspark.sql import functions as F

    from documentconvert_spark.pipeline import extract_spans
    from documentconvert_spark.tableio import read_table

    from jobbench.probes import kernel_probe

    traced = [r for r in reps if r["traced"]]
    plain = [r for r in reps if not r["traced"]]

    def med(fn) -> float:
        return statistics.median(fn(r) for r in traced)

    def span_s(name: str) -> float:
        return med(lambda r: tracer.total(name, r["rep"]))

    def heavy_docs(r) -> int:
        return sum(
            s.get("heavy_docs", 0) for s in tracer.spans
            if s["run"] == r["rep"] and s["name"] == "pipeline.size_aware_split")

    m = dict(setup)
    m.update({
        "pipeline.corpus_stats_s": span_s("pipeline.corpus_stats"),
        "pipeline.size_aware_split_s": span_s("pipeline.size_aware_split"),
        "pipeline.split_heavy_docs": med(heavy_docs),
        "pipeline.split_partitions": med(lambda r: r["pipeline.split_partitions"]),
        "pipeline.select_work_ids_s": span_s("pipeline.select_work_ids"),
        "pipeline.todo_docs": med(lambda r: r["processed"]),
        "pipeline.unattributed_share": med(lambda r: 1 - tracer.children_share(r["job_span"])),
        "state.read_plan_s": span_s("state.read"),
        "state.run_dirs": med(lambda r: r["state.run_dirs"]),
        "state.rows_read": med(lambda r: r["state.rows_read"]),
        "state.append_s": span_s("state.append"),
        "tableio.extract_write_s": span_s("tableio.extract_write"),
        "tableio.bytes_out": med(lambda r: r["tableio.bytes_out"]),
    })

    last = traced[-1]
    busy = (
        read_table(spark, os.path.join(last["out"], f"run_id={last['run_id']}"))
        .groupBy("partition_id").agg(F.sum("processing_s").alias("busy"))
        .collect()
    )
    loads = [r["busy"] for r in busy]
    m["udfs.partition_busy_skew"] = max(loads) / statistics.mean(loads) if loads else 0.0

    light, heavy = tracer.split_frames
    with tracer.span("udfs.stage_noop") as rec:
        (
            extract_spans(light, passthrough=PASSTHROUGH)
            .unionByName(extract_spans(heavy, passthrough=PASSTHROUGH))
            .write.format("noop").mode("overwrite").save()
        )
    m["udfs.stage_noop_s"] = rec["end"] - rec["start"]

    with tracer.span("kernels.probe"):
        kernels = kernel_probe(wl.kernel_sample())
    kernel_cpu_s = kernels.pop("kernel_cpu_s") * m["pipeline.todo_docs"] / wl.n_docs
    m["udfs.boundary_share"] = 1 - kernel_cpu_s / (m["udfs.stage_noop_s"] * cores)
    m.update(kernels)

    m["trace.overhead_share"] = (
        statistics.median(r["net_s"] for r in traced)
        / statistics.median(r["net_s"] for r in plain) - 1
    )
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few hundred docs, for the smoke test")
    args = ap.parse_args(argv)

    # the package under test is imported from this checkout, by this
    # process and by Spark's Python workers alike, whatever the cwd
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import documentconvert_spark  # noqa: F401
    except ImportError as exc:
        print(f"jobbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2

    from jobbench import probes, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    host = probes.host_shape(ROOT, master)
    wl_cls = workloads.WORKLOADS[args.workload]
    reason = wl_cls.absent_reason(ROOT)
    if reason:
        print(json.dumps({"workload": args.workload, "absent": reason, "host": host}))
        return 3

    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    tracer = tracing.Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        setup = {}
        with tracer.span("session.start"), probes.timed() as setup["session"]:
            spark = _start_session(master, work)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        wl = wl_cls(spark, ROOT, work, args.seed, args.size, tracer)

        setup["builds"] = []
        for b in range(BUILDS):
            with probes.timed() as clock:
                wl.build(os.path.join(work, f"input{b}"))
            setup["builds"].append(clock)
        with probes.timed() as setup["state"]:
            wl.build_state()
        wl.build_oracle()

        # The first job of a fresh JVM takes about 2x a steady one (the JIT
        # compiles the planning, scheduling and codegen paths); a resumed
        # workload's prior runs already are such jobs.
        with probes.timed() as setup["warmup"]:
            for i in range(0 if wl.PRIOR_RUNS else WARMUP_JOBS):
                _run_rep(spark, wl, tracer, jvm_pid, os.path.join(work, f"warmup{i}"), False)
        setup_s = (
            setup["session"]["net_s"]
            + statistics.median(b["net_s"] for b in setup["builds"])
            + setup["state"]["net_s"] + setup["warmup"]["net_s"]
        )

        reps = []
        deadline = time.perf_counter() + args.seconds
        while len(reps) < MAX_REPS and (len(reps) < MIN_REPS or time.perf_counter() < deadline):
            traced = bool(args.trace) and len(reps) % 2 == 1
            reps.append(_run_rep(
                spark, wl, tracer, jvm_pid, os.path.join(work, f"rep{len(reps)}"), traced))

        t = time.perf_counter()
        attempted, failed = workloads.check_reps(spark, wl, reps)

        check_s = time.perf_counter() - t
        measured = [r for r in reps if not r["traced"]]
        if args.trace:
            def setup_span(name: str) -> float:
                runs = [s["end"] - s["start"] for s in tracer.spans if s["name"] == name]
                return statistics.median(runs) if runs else 0.0

            metrics = _layer_metrics(spark, wl, tracer, reps, {
                "session.start_s": setup["session"]["wall_s"],
                "benchcorpus.build_s": setup_span("benchcorpus.build"),
                "ingest.build_s": setup_span("ingest.build"),
            }, cores)
        else:
            metrics = {
                "docs_per_s": statistics.median(r["processed"] / r["net_s"] for r in measured),
                "cpu_ms_per_doc": statistics.median(
                    1e3 * r["cpu_s"] / r["processed"] for r in measured),
                "op_ok_share": 1 - failed / attempted,
                "bytes_written_per_doc": statistics.median(
                    r["bytes"] / r["processed"] for r in measured),
                "worker_peak_rss_mb": max(r["rss_mb"] for r in reps),
                "setup_s": setup_s,
            }
        print(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "host": host,
            "docs": wl.n_docs,
            "setup": setup,
            "check_s": check_s,
            "reps": [{k: r[k] for k in ("rep", "traced", "wall_s", "net_s", "steal_share",
                                        "cpu_s", "jit_cpu_s", "processed")}
                     for r in reps],
            "wall_s": time.perf_counter() - t0,
        }))
    finally:
        if spark is not None:
            _stop_session(spark)
        if args.trace:
            os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
            tracer.dump(os.path.join(
                bench_dir, "traces", f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    declared = _declared_metrics("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
