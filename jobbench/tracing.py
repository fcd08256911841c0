"""In-memory span recorder and the outside-in layer patches.

Spans are recorded from the benchmark's own files only: `layer_patches`
swaps each layer's public function for a wrapper that opens a span around
the original call and restores the original afterwards. Nothing inside
the package changes, and untraced reps run the unwrapped functions.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out once, at the end of the benchmark."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id = "setup"
        self.split_frames = None  # (light, heavy) of the last traced job
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, run: str | None = None) -> float:
        """Summed duration of every span called `name` (in one run)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (run is None or s["run"] == run)
        )

    def children_share(self, span_id: int) -> float:
        """Share of a span's duration covered by its direct children."""
        root = self.spans[span_id]
        covered = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == span_id
        )
        return covered / max(root["end"] - root["start"], 1e-9)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _wrapped(tracer: Tracer, name, fn):
    """`name` is a span name, or a callable naming the span from the
    call's arguments."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        label = name(*args, **kwargs) if callable(name) else name
        with tracer.span(label):
            return fn(*args, **kwargs)

    return wrapper


@contextlib.contextmanager
def layer_patches(tracer: Tracer, out_path: str):
    """Wrap each layer's public entry points for the duration of one job.

    `pipeline` calls corpus_stats / select_work_ids / size_aware_split /
    extract_spans through its module globals and imports `tableio`'s
    writers at call time, so patching the module attributes reaches every
    call the job makes. The size-aware split's one `count()` (the heavy
    slice) is captured into the span as `heavy_docs`, and the split's
    frames are kept on the tracer for the separate no-op UDF stage."""
    from documentconvert_spark import pipeline, tableio
    from documentconvert_spark.state import StateStore

    out_prefix = os.path.abspath(out_path)

    def write_name(df, path, *a, **k):
        inside = os.path.abspath(path).startswith(out_prefix)
        return "tableio.extract_write" if inside else "tableio.state_write"

    def split(docs, *args, **kwargs):
        counted = []
        frame = type(docs)
        count = frame.count

        def counting(df):
            n = count(df)
            counted.append(n)
            return n

        with tracer.span("pipeline.size_aware_split") as rec:
            frame.count = counting
            try:
                light, heavy = originals[(pipeline, "size_aware_split")](docs, *args, **kwargs)
            finally:
                frame.count = count
            rec["heavy_docs"] = sum(counted)
        tracer.split_frames = (light, heavy)
        return light, heavy

    targets = {
        (pipeline, "corpus_stats"): "pipeline.corpus_stats",
        (pipeline, "prepare_documents"): "pipeline.prepare_documents",
        (pipeline, "select_work_ids"): "pipeline.select_work_ids",
        (pipeline, "extract_spans"): "pipeline.extract_spans",
        (tableio, "overwrite_table"): write_name,
        (tableio, "read_table"): "tableio.read_table",
        (StateStore, "is_empty"): "state.is_empty",
        (StateStore, "read"): "state.read",
        (StateStore, "append"): "state.append",
    }
    originals = {key: getattr(*key) for key in [*targets, (pipeline, "size_aware_split")]}
    try:
        for (owner, attr), name in targets.items():
            setattr(owner, attr, _wrapped(tracer, name, originals[(owner, attr)]))
        pipeline.size_aware_split = split
        yield
    finally:
        for (owner, attr), fn in originals.items():
            setattr(owner, attr, fn)
