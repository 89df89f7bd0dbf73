"""Spans around the library's layer calls, recorded from outside the library.

``Tracer.install()`` replaces the operator functions that
``curator_spark.pipeline`` imported (and the checkpoint manager's
``write``/``read``) with wrappers. Each wrapper records a span
``(layer, start, end, parent)`` and tags the Spark jobs it submits with
``sparkContext.setJobGroup(layer)``. ``uninstall()`` puts the originals back.

Job groups are sticky: most operators return a lazy plan whose first action
runs in the pipeline's own code right after the call (the ``localCheckpoint``
after ``assign_dedup_ids``, the LSH collision-stats aggregation after the
bucket write, the survivor checkpoint after ``remove``). Leaving the group set
until the next span starts tags those jobs with the layer that built the
plan. Checkpoint reads are the exception: they restore the previous group, so
a read between a write and its consumer does not steal the tag.

Deferred counts (edges into connected components, substring candidates,
SimHash filter in/out) keep a reference to the frame at the call and count
it after the timed run, so counting adds no job to the traced wall time.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

# checkpoint stage name (its first path component) -> layer that produced it
STAGE_LAYER = {
    "IdMapping": "ids",
    "ExactIdMapping": "ids",
    "MinHashStage": "minhash",
    "LSHBuckets": "lsh",
    "Edges": "edges",
    "SimHashStage": "simhash",
    "SubstringEdges": "substring",
    "ConnectedComponents": "connected_components",
    "FuzzyDuplicateIds": "duplicates",
    "ExactDuplicateIds": "duplicates",
}

# (module, attribute, layer) of every function wrapped
PIPELINE_CALLS = (
    ("curator_spark.pipeline", "assign_dedup_ids", "ids"),
    ("curator_spark.pipeline", "minhash_stage_arrow", "minhash"),
    ("curator_spark.pipeline", "minhash_stage", "minhash"),
    ("curator_spark.pipeline", "lsh_bucket_ids", "lsh"),
    ("curator_spark.pipeline", "edges_from_buckets", "edges"),
    ("curator_spark.pipeline", "simhash_stage", "simhash"),
    ("curator_spark.pipeline", "filter_edges_by_simhash", "simhash"),
    ("curator_spark.pipeline", "substring_candidate_edges", "substring"),
    ("curator_spark.pipeline", "verify_substring_edges", "substring"),
    ("curator_spark.pipeline", "connected_components", "connected_components"),
    ("curator_spark.pipeline", "identify_duplicates", "duplicates"),
    # ExactDedupPipeline.run imports these from the module at call time
    ("curator_spark.operators.duplicates", "exact_duplicates", "duplicates"),
    ("curator_spark.operators.duplicates", "identify_duplicates", "duplicates"),
    ("curator_spark.pipeline", "FuzzyDedupPipeline.remove", "duplicates.remove"),
    ("curator_spark.pipeline", "ExactDedupPipeline.remove", "duplicates.remove"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    stage: str | None = None


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)
    # name -> list of frames to count after the run
    deferred: dict = field(default_factory=dict)
    _stack: list = field(default_factory=list)
    _group: str | None = None
    _saved: list = field(default_factory=list)

    # -- spans -----------------------------------------------------------
    def _set_group(self, layer: str | None) -> None:
        if layer != self._group:
            self.spark.sparkContext.setJobGroup(layer or "", layer or "")
            self._group = layer

    def span(self, layer: str, stage: str | None = None, sticky: bool = True):
        return _SpanCtx(self, layer, stage, sticky)

    def root(self):
        """The whole timed iteration; jobs outside any layer span fall in
        the ``pipeline`` group."""
        return self.span("pipeline")

    # -- patching -------------------------------------------------------------
    def install(self) -> None:
        import importlib

        from curator_spark.io.checkpoint import CheckpointManager

        for mod_name, attr, layer in PIPELINE_CALLS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap_call(orig, layer, leaf))

        orig_write, orig_read = CheckpointManager.write, CheckpointManager.read
        self._saved += [(CheckpointManager, "write", orig_write), (CheckpointManager, "read", orig_read)]
        tracer = self

        @functools.wraps(orig_write)
        def write(mgr, df, stage, *a, **kw):
            layer = STAGE_LAYER.get(stage.split("/")[0], "checkpoint")
            with tracer.span(layer, stage=stage):
                return orig_write(mgr, df, stage, *a, **kw)

        @functools.wraps(orig_read)
        def read(mgr, spark, stage, *a, **kw):
            with tracer.span("checkpoint", stage=stage, sticky=False):
                return orig_read(mgr, spark, stage, *a, **kw)

        CheckpointManager.write, CheckpointManager.read = write, read

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, orig = self._saved.pop()
            setattr(owner, leaf, orig)
        self._set_group(None)

    def _wrap_call(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if name == "connected_components":
                tracer.deferred.setdefault("cc_edges_in", []).append(args[0] if args else kwargs["edges"])
            elif name == "substring_candidate_edges":
                tracer.deferred.setdefault("substring_candidates", []).append(out)
            elif name == "filter_edges_by_simhash":
                tracer.deferred.setdefault("simhash_in", []).append(args[0] if args else kwargs["edges"])
                tracer.deferred.setdefault("simhash_kept", []).append(out)
            return out

        return wrapper

    def count_deferred(self) -> dict:
        """Row counts of the frames kept at the calls, summed per name."""
        self._set_group("perfbench.counts")
        return {k: sum(f.count() for f in frames) for k, frames in self.deferred.items()}


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, stage: str | None, sticky: bool):
        self.t, self.layer, self.stage, self.sticky = tracer, layer, stage, sticky

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.prev_group = t._group
        t._set_group(self.layer)
        t.spans.append(Span(self.layer, time.time(), parent=parent, stage=self.stage))
        t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[t._stack.pop()].end = time.time()
        if not self.sticky:
            t._set_group(self.prev_group)
        return False
