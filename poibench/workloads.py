"""The benchmark's workloads: inputs staged as parquet files, a closed
loop of timed operations, and a check of every operation's output
against a plain-Python expectation.

Each workload class has the same shape:

- ``setup()`` stages the seeded inputs (and builds whatever state the
  workload reads) in a fresh directory; the runner repeats it and keeps
  the median;
- ``warm()`` runs whatever must happen once before timing;
- ``step()`` runs timed operations, checks each, and appends its record
  to ``ops``;
- ``summary()`` turns the records into the end-to-end metrics and
  ``aliases()`` into the workload's own names for them;
- ``traced_steps``, ``compare_s()`` and ``layer_metrics()`` serve the
  traced run.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import spans
from trendr_data_pipeline_spark import pipeline as P
from trendr_data_pipeline_spark.operators import text_index as TI
from trendr_data_pipeline_spark.operators.ingestion import snapshot_if_due
from trendr_data_pipeline_spark.schemas import DOMAIN

AS_OF_SQL = "2026-08-01 00:00:00"
STATUSES = {"approved", "eligible", "hold"}

# ---------------------------------------------------------------------------
# staging: generated rows -> one parquet file, read back with a Spark schema
# ---------------------------------------------------------------------------

PLACES = T.StructType([
    T.StructField("place_id", T.StringType()), T.StructField("name", T.StringType()),
    T.StructField("types", T.ArrayType(T.StringType())), T.StructField("rating", T.DoubleType()),
    T.StructField("reviews_count", T.LongType()), T.StructField("lat", T.DoubleType()),
    T.StructField("lng", T.DoubleType()), T.StructField("address", T.StringType()),
])
CANDIDATES = T.StructType(
    [T.StructField(c, T.StringType()) for c in gen.CANDIDATE_COLS[:7]]
    + [T.StructField("poi_lat", T.DoubleType()), T.StructField("poi_lng", T.DoubleType()),
       T.StructField("published_at", T.TimestampType())]
)
_STRS = T.ArrayType(T.StringType())
PROFILES = T.StructType([
    T.StructField("city_slug", T.StringType()), T.StructField("city_names_aliases", _STRS),
    T.StructField("country_code", T.StringType()), T.StructField("admin_names", _STRS),
    T.StructField("postal_prefixes", _STRS),
    *[T.StructField(c, T.DoubleType()) for c in
      ("lat_min", "lat_max", "lng_min", "lng_max", "centroid_lat", "centroid_lng")],
    T.StructField("competing_cities", _STRS),
])
DOCS = T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])


def _arrow(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.StructType):
        return pa.struct([pa.field(f.name, _arrow(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow(dt.keyType), _arrow(dt.valueType))
    return {
        T.StringType: pa.string(), T.DoubleType: pa.float64(), T.LongType: pa.int64(),
        T.IntegerType: pa.int32(), T.BooleanType: pa.bool_(),
        T.TimestampType: pa.timestamp("us", tz="UTC"),
    }[type(dt)]


def stage(path: str, schema: T.StructType, rows: list) -> None:
    """Write rows (dicts, or tuples in schema order) as one parquet file
    under ``path``: the shape an upstream job hands over."""
    names = schema.fieldNames()
    if rows and not isinstance(rows[0], dict):
        rows = [dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(
        [{n: r.get(n) for n in names} for r in rows],
        schema=pa.schema([pa.field(f.name, _arrow(f.dataType)) for f in schema.fields]),
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def read(spark, path: str, schema: T.StructType):
    return spark.read.schema(schema).parquet(path)


def _poi_rows(pois: list[dict]) -> list[dict]:
    out = []
    for p in pois:
        tags = p.get("tags")
        out.append({**p, "tags": None if tags is None else [
            (k, dict(confidence=c, category=cat, sources_count=n)) for k, (c, cat, n) in tags.items()
        ]})
    return out


@dataclass
class Op:
    kind: str
    s: float
    ok: bool
    items: int = 0
    extra: dict = field(default_factory=dict)


def _check(ok: bool, what: str, failures: list[str]) -> None:
    if not ok:
        failures.append(what)


def _timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _rows(path: str, columns: list[str]) -> list[dict]:
    """Read written parquet back outside Spark (no jobs, no timing)."""
    return pq.read_table(path, columns=columns).to_pylist()


def _dir_stats(root: str) -> dict[int, int]:
    """inode -> bytes of every data file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[st.st_ino] = st.st_size
    return out


class Workload:
    name = ""
    #: traced steps the traced run takes
    traced_steps = 1

    def __init__(self, spark, tracer: spans.Tracer, work: str, seed: int, size: gen.Size):
        self.spark, self.tracer, self.work, self.seed, self.size = spark, tracer, work, seed, size
        self.ops: list[Op] = []
        self.warm_ops: list[Op] = []   # checked like the rest, untimed
        self.as_of = F.lit(AS_OF_SQL).cast("timestamp")
        self._setups = 0

    def fresh_dir(self, what: str) -> str:
        self._setups += 1
        d = os.path.join(self.work, f"{what}-{self._setups}")
        os.makedirs(d)
        return d

    def warm(self) -> None:
        pass

    def step(self) -> None:
        self.run_op(self.op)

    def at_boundary(self) -> bool:
        """Whether the timed window may end after the current step."""
        return True

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def trace_figures(self, untraced: list[Op], traced: list[Op], runs: list[str]) -> dict:
        """Tracing overhead: traced minus untraced time of one unit."""
        return {"trace.overhead_s": self.compare_s(traced) - self.compare_s(untraced)}

    def run_op(self, fn, *args) -> Op:
        """One timed operation; an exception counts it as failed."""
        try:
            op = fn(*args)
        except Exception:  # the loop must go on and report the failure
            traceback.print_exc(file=sys.stderr)
            op = Op("error", float("nan"), False)
        self.ops.append(op)
        return op


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------


def oracle_collections(pois: list[dict]) -> dict[str, list[str]]:
    """Template -> ordered member ids, transcribed from the collection
    rules: a required tag at min confidence, no excluded tag at min
    confidence, match = sum of qualifying confidences, top 8 by
    (match desc, id asc), templates with fewer than 2 members dropped."""
    out = {}
    for key, tpl in P.COLLECTION_TEMPLATES.items():
        mc = tpl["min_confidence"]
        rows = []
        for p in pois:
            tags = p.get("tags") or {}
            hits = [tags[t][0] for t in tpl["required_tags"] if t in tags and tags[t][0] >= mc]
            if hits and not any(t in tags and tags[t][0] >= mc for t in tpl["excluded_tags"]):
                rows.append((-sum(hits), p["id"]))   # summed in required-tag order, as the engine
        top = [pid for _s, pid in sorted(rows)[:8]]
        if len(top) >= 2:
            out[key] = top
    return out


def nearest_rank(sorted_scores: list[float], p: float) -> float:
    return sorted_scores[int(len(sorted_scores) * p)]


class DailyPipeline(Workload):
    """One city batch through ingest -> auto-pipeline -> sinks, in a
    fresh session: the daily job. The first pass of a process is the
    timed operation (the job pays its cold start every day); passes
    after it are warm and reported apart."""

    name = "daily_pipeline"

    def setup(self) -> None:
        d = gen.daily_inputs(self.seed, self.size)
        root = self.fresh_dir("daily")
        stage(f"{root}/poi", DOMAIN["poi"], _poi_rows(d.pois))
        stage(f"{root}/places", PLACES, d.places)
        stage(f"{root}/areas", DOMAIN["urban_areas"], d.areas)
        stage(f"{root}/snapshots", DOMAIN["rating_snapshot"], d.snapshots)
        stage(f"{root}/incoming", DOMAIN["rating_snapshot"], d.incoming_snapshots)
        stage(f"{root}/candidates", CANDIDATES, d.candidates)
        stage(f"{root}/profiles", PROFILES, gen.PROFILES)
        stage(f"{root}/catalog", DOMAIN["source_catalog"],
              [dict(source_id=s, base_url=u, type=t, authority_weight=a, is_active=True)
               for s, u, t, a in gen.CATALOG])
        self.root, self.n_candidates = root, len(d.candidates)
        self._expect(d)

    def _expect(self, d: gen.DailyInputs) -> None:
        self.kind = {c["url"]: c["kind"] for c in d.candidates}
        self.accept_urls = {u for u, k in self.kind.items() if k == "accept"}
        self.never_urls = {u for u, k in self.kind.items()
                           if k in ("wrong_country", "no_signal", "excluded")}
        self.poi_ids = {p["id"] for p in d.pois}
        last = {}
        for pid, _src, _r, _n, ts in d.snapshots:
            last[pid] = max(ts, last.get(pid, ts))
        cut = gen.AS_OF - timedelta(days=7)
        self.due = sum(1 for p in d.pois if p["id"] not in last or last[p["id"]] <= cut)
        self.collections = oracle_collections(d.pois)

    def _frames(self):
        r, s = self.root, self.spark
        return dict(
            poi=read(s, f"{r}/poi", DOMAIN["poi"]), places=read(s, f"{r}/places", PLACES),
            areas=read(s, f"{r}/areas", DOMAIN["urban_areas"]),
            snapshots=read(s, f"{r}/snapshots", DOMAIN["rating_snapshot"]),
            incoming=read(s, f"{r}/incoming", DOMAIN["rating_snapshot"]),
            candidates=read(s, f"{r}/candidates", CANDIDATES),
            profiles=read(s, f"{r}/profiles", PROFILES),
            catalog=read(s, f"{r}/catalog", DOMAIN["source_catalog"]),
        )

    def op(self) -> Op:
        tr, R = self.tracer, self._frames()
        out = os.path.join(self.root, f"out-{len(self.ops)}")
        t0 = time.perf_counter()
        ingested = tr.call("pipeline.ingest_places", P.ingest_places, R["places"])
        poi = R["poi"].join(ingested.select(F.col("place_id").alias("id")), "id", "left_semi")
        due = tr.call("ingestion.snapshot_if_due", snapshot_if_due,
                      R["snapshots"], R["incoming"], self.as_of)
        snaps = R["snapshots"].unionByName(due)
        with tr.patched(P, spans.PIPELINE_CALLS):
            res = tr.call("pipeline.run_auto_pipeline", P.run_auto_pipeline,
                          poi, R["areas"], R["candidates"], R["profiles"], R["catalog"],
                          snaps, self.as_of)
        _, write_s = _timed(tr.call, "pipeline.write_outputs", P.write_outputs, res, out)
        pct = res.score_percentiles.collect()
        trans = res.status_transitions.collect()
        total = time.perf_counter() - t0
        failures = self.check(out, pct, trans, due)
        for f in failures:
            print(f"check failed: {self.name}: {f}", file=sys.stderr)
        return Op("pass", total, not failures, items=self.n_candidates,
                  extra=dict(write_s=write_s, out=out))

    def check(self, out: str, pct, trans, due) -> list[str]:
        fails: list[str] = []
        scored = _rows(f"{out}/poi_scored", ["id", "gatto_score", "eligibility_status"])
        ids = [r["id"] for r in scored]
        _check(len(ids) == len(set(ids)) and set(ids) == self.poi_ids,
               f"poi_scored: {len(ids)} rows, want one per POI ({len(self.poi_ids)})", fails)
        _check(all(0 <= r["gatto_score"] <= 100 for r in scored), "gatto_score out of [0, 100]", fails)
        _check(all(r["eligibility_status"] in STATUSES for r in scored), "bad eligibility_status", fails)
        men = _rows(f"{out}/source_mention", ["poi_id", "url", "decision"])
        urls = {r["url"] for r in men}
        missing = self.accept_urls - urls
        _check(not missing, f"{len(missing)} planted ACCEPT candidates not accepted", fails)
        leaked = urls & self.never_urls
        _check(not leaked, f"planted REJECT/excluded candidates accepted: "
               f"{sorted(self.kind[u] for u in leaked)}", fails)
        _check(all(r["decision"] == "ACCEPT" for r in men), "non-ACCEPT mention written", fails)
        per_poi: dict[str, int] = {}
        for r in men:
            per_poi[r["poi_id"]] = per_poi.get(r["poi_id"], 0) + 1
        _check(max(per_poi.values(), default=0) <= 5, "per-POI cap exceeded", fails)
        scores = sorted(r["gatto_score"] for r in scored)
        _check(bool(pct) and pct[0]["p50"] == nearest_rank(scores, 0.5)
               and pct[0]["p95"] == nearest_rank(scores, 0.95), "score percentiles", fails)
        _check(sum(r["n"] for r in trans) == len(self.poi_ids)
               and all(r["transition"].startswith("hold->") for r in trans),
               "status transitions", fails)
        cols = {r["template"]: r["poi_ids"] for r in
                _rows(f"{out}/collections", ["template", "poi_ids"])}
        _check(cols == self.collections, "collections differ from the template rules", fails)
        _check(due.count() == self.due, "snapshot_if_due appended the wrong rows", fails)
        return fails

    def compare_s(self, ops: list[Op]) -> float:
        return _median([o.s for o in ops])

    def trace_figures(self, untraced: list[Op], traced: list[Op], runs: list[str]) -> dict:
        """One more untraced (warm) pass under a job group: its job,
        stage and task counts, the overhead of the traced pass against
        it, and the recomputation gap (warm pass minus the summed layer
        self times of the traced pass)."""
        sc = self.spark.sparkContext
        with spans.job_group(sc, "untraced-pass"):
            self.step()
        self.tracer.settle()
        warm = self.ops[-1]
        out = {f"pipeline.pass.{k}": v for k, v in spans.group_counts(sc, "untraced-pass").items()}
        layer_s = sum(f["s"] for f in self.tracer.per_function(set(runs), len(runs)).values())
        files = [os.path.join(d, f) for d, _ds, fs in os.walk(warm.extra["out"])
                 for f in fs if f.endswith(".parquet")]
        out.update({
            "pipeline.pass_cold_s": untraced[0].s,
            "pipeline.pass_warm_s": warm.s,
            "trace.overhead_s": self.compare_s(traced) - warm.s,
            "trace.recompute_gap_s": warm.s - layer_s,
            "pipeline.write_outputs.bytes": float(sum(os.path.getsize(f) for f in files)),
            "pipeline.write_outputs.files": float(len(files)),
        })
        return out

    def summary(self) -> dict[str, float]:
        first = self.ops[0]
        return dict(op_p50_s=first.s, write_p50_s=first.extra.get("write_s", float("nan")),
                    items_per_s=first.items / first.s)

    def aliases(self) -> dict[str, tuple[float, str]]:
        first = self.ops[0]
        return {"pipeline_s": (first.s, "s"), "candidates_per_s": (first.items / first.s, "1/s")}


# ---------------------------------------------------------------------------
# dedup_index
# ---------------------------------------------------------------------------

THRESHOLD = 0.7
TOP_K = 5
MAINTAIN_EVERY = 3
#: compaction rewrites a subtree holding more than this many files; at
#: the default (8) it never fires here, since each takedown rewrites the
#: files it touches and a cycle adds only three extends
COMPACT_OVER = 2
#: untimed rounds before the window: one whole maintenance cycle. The
#: first rounds of a process pay Python worker start-up and JIT
#: compilation, and the first compaction merges the files the base build
#: and the first extends left; timed cycles then all start from a
#: compacted index.
WARM_ROUNDS = MAINTAIN_EVERY


class DedupIndex(Workload):
    """Screen incoming batches against a persisted MinHash index, then
    add the novel docs; every few rounds apply takedowns and compact."""

    name = "dedup_index"
    traced_steps = MAINTAIN_EVERY   # one maintenance cycle

    def setup(self) -> None:
        src = gen.DocSource(self.seed, self.size)
        base = [src.novel() for _ in range(self.size.base_docs)]
        root = self.fresh_dir("index")
        stage(f"{root}/base", DOCS, base)
        self.tracer.call("text_index.write_minhash_index", TI.write_minhash_index,
                         read(self.spark, f"{root}/base", DOCS), f"{root}/idx")
        self.root, self.index, self.src = root, f"{root}/idx", src
        self.live = dict(base)
        self.removed: list[int] = []
        self.removed_text: dict[int, str] = {}
        self.rounds = 0
        self.found = self.planted = 0
        self.extend_bytes = self.extend_docs = self.compact_bytes = 0

    def warm(self) -> None:
        for _ in range(WARM_ROUNDS):
            self.step()
        self.warm_ops, self.ops = self.ops, []
        self.found = self.planted = 0
        self.extend_bytes = self.extend_docs = self.compact_bytes = 0

    def step(self) -> None:
        """One round: probe, extend with the novel docs, and every few
        rounds a takedown and a compaction."""
        n = self.rounds
        self.rounds += 1
        rows, plan = self.src.round_batch(self.live, self.size.round_docs,
                                          self.removed, self.removed_text)
        self.removed = []
        path = f"{self.root}/in-{n}"
        stage(path, DOCS, rows)
        probe = self.run_op(self.probe, path, plan, dict(rows))
        if probe.kind == "error":
            return
        novel = [(i, t) for i, t in rows if i not in probe.extra["matched"]]
        self.run_op(self.extend, n, novel)
        if self.rounds % MAINTAIN_EVERY == 0:
            self.run_op(self.compact)    # before the takedown, which rewrites files
            self.run_op(self.takedown)

    def at_boundary(self) -> bool:
        """A window ends only after whole maintenance cycles, so every
        run times the same mix of fresh and maintained index states."""
        return self.rounds % MAINTAIN_EVERY == 0

    def probe(self, path: str, plan: dict, texts: dict) -> Op:
        incoming = read(self.spark, path, DOCS)

        def screen():
            return self.tracer.call("text_index.minhash_probe", TI.minhash_probe,
                                    incoming, self.index, THRESHOLD, TOP_K).collect()

        matches, s = _timed(screen)
        fails = self.check_probe(matches, plan, texts)
        for f in fails:
            print(f"check failed: {self.name}: {f}", file=sys.stderr)
        return Op("probe", s, not fails, items=len(texts),
                  extra=dict(matched={m["id_a"] for m in matches}))

    def check_probe(self, matches, plan: dict, texts: dict) -> list[str]:
        fails: list[str] = []
        by_a: dict[int, dict[int, float]] = {}
        for m in matches:
            by_a.setdefault(m["id_a"], {})[m["id_b"]] = m["jaccard"]
        for m in matches:
            b = self.live.get(m["id_b"])
            if b is None:
                fails.append(f"match {m['id_a']}->{m['id_b']}: not a live doc")
                continue
            want = round(gen.jaccard(texts[m["id_a"]], b), 6)
            if abs(m["jaccard"] - want) > 1e-9 or m["jaccard"] < THRESHOLD:
                fails.append(f"match {m['id_a']}->{m['id_b']}: jaccard {m['jaccard']} != {want}")
        for doc_id, (kind, src) in plan.items():
            got = by_a.get(doc_id, {})
            if kind == "exact" and got.get(src) != 1.0:
                fails.append(f"exact copy {doc_id} of {src} not found")
            elif kind in ("removed", "novel") and got:
                fails.append(f"{kind} doc {doc_id} matched {sorted(got)}")
            if kind in ("exact", "edited"):
                self.planted += 1
                self.found += src in got
        return fails

    def extend(self, n: int, novel: list[tuple[int, str]]) -> Op:
        path = f"{self.root}/novel-{n}"
        stage(path, DOCS, novel)
        before = _dir_stats(self.index)
        _, s = _timed(self.tracer.call, "text_index.extend_minhash_index",
                      TI.extend_minhash_index, read(self.spark, path, DOCS), self.index)
        after = _dir_stats(self.index)
        added = sum(b for ino, b in after.items() if ino not in before)
        self.extend_bytes += added
        self.extend_docs += len(novel)
        ok = set(before) <= set(after) and (added > 0 or not novel)
        self.live.update(novel)
        return Op("extend", s, ok, items=len(novel))

    def takedown(self) -> Op:
        doomed = self.src.rng.sample(sorted(self.live), self.size.takedowns)
        ids = self.spark.createDataFrame([(i,) for i in doomed], "doc_id long")
        _, s = _timed(self.tracer.call, "text_index.remove_from_minhash_index",
                      TI.remove_from_minhash_index, ids, self.index)
        for i in doomed:
            self.removed_text[i] = self.live.pop(i)
        self.removed = doomed      # next round plants copies that must match nothing
        return Op("remove", s, True, items=len(doomed))

    def compact(self) -> Op:
        before = _dir_stats(self.index)
        _, s = _timed(self.tracer.call, "text_index.compact_minhash_index",
                      TI.compact_minhash_index, self.index, COMPACT_OVER)
        after = _dir_stats(self.index)
        self.compact_bytes += sum(b for ino, b in after.items() if ino not in before)
        return Op("compact", s, len(after) <= len(before))

    def compare_s(self, ops: list[Op]) -> float:
        """Median probe plus median extend: one round's screening work."""
        return (_median([o.s for o in ops if o.kind == "probe"])
                + _median([o.s for o in ops if o.kind == "extend"]))

    def _of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind and o.ok]

    def summary(self) -> dict[str, float]:
        """Throughput is a typical round's docs over its median probe
        plus median extend: medians, because a run holds few rounds, and
        docs averaged over the schedule, because the round after a
        takedown carries the extra copies of the removed docs."""
        probes, extends = self._of("probe"), self._of("extend")
        probe_s, extend_s = _median([o.s for o in probes]), _median([o.s for o in extends])
        docs = sum(o.items for o in probes) / len(probes) if probes else float("nan")
        return dict(op_p50_s=probe_s, write_p50_s=extend_s, items_per_s=docs / (probe_s + extend_s))

    def aliases(self) -> dict[str, tuple[float, str]]:
        m = self.summary()
        return {"probe_p50_s": (m["op_p50_s"], "s"), "extend_p50_s": (m["write_p50_s"], "s"),
                "docs_per_s": (m["items_per_s"], "1/s")}

    def layer_metrics(self) -> dict[str, float]:
        stats = _dir_stats(self.index)
        return {
            "text_index.probe_recall": self.found / self.planted if self.planted else 0.0,
            "text_index.bytes_per_live_doc": sum(stats.values()) / max(1, len(self.live)),
            "text_index.files": float(len(stats)),
            "text_index.extend_bytes_per_doc": self.extend_bytes / max(1, self.extend_docs),
            "text_index.compact_bytes_rewritten": float(self.compact_bytes),
        }


WORKLOADS = {w.name: w for w in (DailyPipeline, DedupIndex)}
