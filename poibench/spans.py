"""Layer spans timed from outside the engine.

Every call into a layer goes through :meth:`Tracer.call`. With tracing
off it is a plain call. With tracing on it records a span (name, start,
end, parent, run id), runs the call under its own Spark job group so the
jobs, stages and tasks it launched can be read back from the status
tracker, and materialises a DataFrame result once (persist + ``noop``
write) so the next layer reads it instead of recomputing it. Row counts
are taken after the traced pass (:meth:`Tracer.settle`), so they cost
no span time.

Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: the package modules the benchmark reports as layers
MODULES = [
    "session", "pipeline", "ingestion", "spatial", "candidates",
    "mentions", "classifier", "collections", "text_index",
]

#: every layer function a workload times, as ``<module>.<function>``
FUNCTIONS = [
    "session.get_spark",
    "pipeline.ingest_places",
    "ingestion.snapshot_if_due",
    "pipeline.run_auto_pipeline",
    "spatial.associate_pois",
    "candidates.exclude_domains",
    "mentions.score_candidates",
    "mentions.windowed_dedup",
    "candidates.cap_accepted_per_poi",
    "classifier.classify",
    "classifier.score_percentiles",
    "classifier.status_transitions",
    "collections.with_effective_tags",
    "collections.filter_by_tag_criteria",
    "collections.top_k_collection",
    "collections.assemble_collections",
    "pipeline.write_outputs",
    "text_index.write_minhash_index",
    "text_index.minhash_probe",
    "text_index.extend_minhash_index",
    "text_index.remove_from_minhash_index",
    "text_index.compact_minhash_index",
]

#: functions whose input/output row counts are reported
ROW_COUNTED = [
    "pipeline.ingest_places",
    "spatial.associate_pois",
    "candidates.exclude_domains",
    "mentions.score_candidates",
    "mentions.windowed_dedup",
    "candidates.cap_accepted_per_poi",
    "classifier.classify",
    "text_index.minhash_probe",
    "text_index.extend_minhash_index",
]

#: names ``run_auto_pipeline`` resolves in the pipeline module's namespace
PIPELINE_CALLS = {
    "associate_pois": "spatial.associate_pois",
    "exclude_domains": "candidates.exclude_domains",
    "score_candidates": "mentions.score_candidates",
    "windowed_dedup": "mentions.windowed_dedup",
    "cap_accepted_per_poi": "candidates.cap_accepted_per_poi",
    "classify": "classifier.classify",
    "score_percentiles": "classifier.score_percentiles",
    "status_transitions": "classifier.status_transitions",
    "with_effective_tags": "collections.with_effective_tags",
    "filter_by_tag_criteria": "collections.filter_by_tag_criteria",
    "top_k_collection": "collections.top_k_collection",
    "assemble_collections": "collections.assemble_collections",
}

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._persisted: list[DataFrame] = []
        self._to_count: list[tuple[dict, list[DataFrame], object]] = []

    # -- spans -------------------------------------------------------------

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._start(name)
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = out.persist()
                out.write.format("noop").mode("overwrite").save()
                self._persisted.append(out)
        finally:
            self._end(span)
        if name in ROW_COUNTED:  # counted in settle(), outside every span
            self._to_count.append((span, [a for a in (*args, *kwargs.values())
                                          if isinstance(a, DataFrame)], out))
        return out

    def record(self, name: str, start: float, end: float) -> None:
        """A span for work timed elsewhere (the session start)."""
        self.spans.append(dict(name=name, run=self.run_id, id=len(self.spans), parent=None,
                               start=start, end=end, group=None))

    def _start(self, name: str) -> dict:
        span = dict(name=name, run=self.run_id, id=len(self.spans),
                    parent=self._open[-1]["id"] if self._open else None,
                    group=f"{self.run_id}:{len(self.spans)}")
        self.spans.append(span)
        self._open.append(span)
        self.sc.setLocalProperty(_GROUP, span["group"])
        span["start"] = time.perf_counter()
        return span

    def _end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._open.pop()
        self.sc.setLocalProperty(_GROUP, self._open[-1]["group"] if self._open else None)

    @contextmanager
    def patched(self, module, names: dict[str, str]):
        """Route ``module.<name>`` through :meth:`call` while the block
        runs, so a composed entry point (``run_auto_pipeline``) gets a
        child span per layer it calls."""
        if not self.enabled:
            yield
            return
        saved = {n: getattr(module, n) for n in names}
        for n, layer in names.items():
            setattr(module, n, functools.partial(self.call, layer, saved[n]))
        try:
            yield
        finally:
            for n, fn in saved.items():
                setattr(module, n, fn)

    def release(self) -> None:
        """Unpersist what the spans materialised."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- job accounting ----------------------------------------------------

    def settle(self) -> None:
        """Fill jobs/stages/tasks for closed spans from the status
        tracker, then row counts. Call after each traced pass, before
        :meth:`release`: the tracker keeps only the most recent jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for span in self.spans:
            if span.get("group") and "jobs" not in span and "end" in span:
                span.update(group_counts(self.sc, span["group"]))
        for span, frames, out in self._to_count:
            span["rows_in"] = sum(f.count() for f in frames)
            span["rows_out"] = out.count() if isinstance(out, DataFrame) else 0
        self._to_count.clear()

    # -- reports -----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus what its direct children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def per_function(self, runs: set[str] | None = None, per: int = 1) -> dict[str, dict]:
        """Per layer function: self seconds, calls, rows, jobs, stages,
        tasks over the spans of ``runs`` (all when None), divided by
        ``per`` (the number of passes they cover)."""
        selft = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            if runs is not None and s["run"] not in runs:
                continue
            a = agg.setdefault(s["name"], dict(s=0.0, calls=0, rows_in=0, rows_out=0,
                                               jobs=0, stages=0, tasks=0))
            a["s"] += selft[s["id"]]
            a["calls"] += 1
            for k in ("rows_in", "rows_out", "jobs", "stages", "tasks"):
                a[k] += s.get(k, 0)
        return {n: {k: v / per for k, v in a.items()} for n, a in agg.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages run and tasks completed under one job group, read
    from the status tracker. Skipped stages (shuffle output reused)
    count as neither."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = {sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds}
    run = [si for sid in stages if (si := st.getStageInfo(sid)) and si.numCompletedTasks > 0]
    return dict(jobs=len(jobs), stages=len(run), tasks=sum(si.numCompletedTasks for si in run))


@contextmanager
def job_group(sc, group: str):
    """Run a block under one job group (untraced pass accounting)."""
    sc.setLocalProperty(_GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, None)
