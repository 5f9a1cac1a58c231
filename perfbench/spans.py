"""Spans at the engine's layer seams, for the traced run.

:func:`seams` wraps, for the duration of a ``with`` block, the functions
``plans/resolve.py`` and ``operators/hygiene.py`` call: the stage seam
``CheckpointManager.stage`` and the operators. Nothing in the package is
edited; the wrappers are module attributes swapped in and restored, so
the traced run executes the shipped plan and cannot drift from it.

A span records name, start, end, parent and run id. Each span runs its
Spark work under a job group of its own, so the jobs a layer fired are
read back from the status tracker. A stage span also materializes its
stage (``count``), so a stage's jobs and wall land inside its span rather
than in whichever later stage first reads it. That extra action per stage
is part of the tracing overhead the benchmark reports.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

STAGES = (
    "01_normalized",
    "02_pairs",
    "03_scored",
    "04_clusters",
    "04b_hygiene",
    "05_resolved",
)
HYGIENE = (
    "attach_singletons",
    "merge_similar_clusters",
    "consolidate_identical_entities",
    "split_clusters_by",
    "assign_new_documents",
)
RESOLVE = "plans.resolve"
SCORE = "operators.scoring.score_pairs"
CC = "operators.connected_components"
CANON = "operators.canonical.canonical_map"
# Operators whose call time and jobs are per-layer metrics.
TIMED_OPS = (SCORE, CC, CANON) + tuple(f"operators.hygiene.{f}" for f in HYGIENE)
# score_pairs calls made directly under these spans score the unit's own
# candidate pairs (merge's re-scoring of cluster representatives is not).
PAIR_SCORING_PARENTS = (
    f"{RESOLVE}.03_scored",
    "operators.hygiene.assign_new_documents",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.frames: dict[int, dict] = {}  # span id -> captured DataFrames
        self.run_id = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{self.run_id}-{sid}",
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def close_run(self) -> list[dict]:
        """Attach each span's own job count and failed tasks (read from the
        status tracker) to the spans of the current run; return them."""
        tracker = self.sc.statusTracker()
        spans = [s for s in self.spans if s["run"] == self.run_id]
        for rec in spans:
            ids = tracker.getJobIdsForGroup(rec["group"])
            failed = 0
            for job in ids:
                info = tracker.getJobInfo(job)
                for stage_id in info.stageIds if info else ():
                    st = tracker.getStageInfo(stage_id)
                    failed += st.numFailedTasks if st else 0
            rec["jobs_own"] = len(ids)
            rec["tasks_failed_own"] = failed
        return spans

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _wrap(tracer: Tracer, name: str, fn, capture=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        if capture is not None:
            tracer.frames[rec["id"]] = capture(args, kwargs, out)
        return out

    return traced


@contextlib.contextmanager
def seams(tracer: Tracer):
    """Install spans at every seam; restore the package on exit."""
    from gpu_entity_resolver_spark.operators import (
        blocking,
        canonical,
        connected_components,
        hygiene,
        scoring,
    )
    from gpu_entity_resolver_spark.plans import resolve
    from gpu_entity_resolver_spark.sources.checkpoint import CheckpointManager

    def score_frames(args, kwargs, out):
        return {"pairs": args[0] if args else kwargs["pairs"], "out": out}

    # (span name, defining module, attribute, capture); the wrapper is also
    # installed where plans/resolve.py bound the name at import time.
    targets = [
        ("operators.blocking.blocking_plan", blocking, "blocking_plan", None),
        ("operators.blocking.candidate_pairs", blocking, "candidate_pairs", None),
        (SCORE, scoring, "score_pairs", score_frames),
        (CC, connected_components, "connected_components",
         lambda a, k, out: {"out": out}),
        (CANON, canonical, "canonical_map", None),
    ] + [(f"operators.hygiene.{f}", hygiene, f, None) for f in HYGIENE]

    saved = []
    for name, module, attr, capture in targets:
        wrapped = _wrap(tracer, name, getattr(module, attr), capture)
        for mod in (module, resolve):
            if hasattr(mod, attr):
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, wrapped)

    orig_stage = CheckpointManager.stage

    def stage(self, name, build):
        with tracer.span(f"{RESOLVE}.{name}") as rec:
            df = orig_stage(self, name, build)
            rec["rows"] = df.count()
        tracer.frames[rec["id"]] = {"df": df}
        return df

    CheckpointManager.stage = stage
    try:
        yield tracer
    finally:
        CheckpointManager.stage = orig_stage
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


# --- metrics derived from one run's spans ----------------------------------


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


class RunSpans:
    """Spans of one traced unit of work (a resolve call or an assign pass)."""

    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] in self.by_id:
                self.children.setdefault(s["parent"], []).append(s)

    def jobs(self, s: dict) -> int:
        """Jobs fired inside the span, its children's included."""
        return s["jobs_own"] + sum(self.jobs(c) for c in self.children.get(s["id"], []))

    def self_s(self, s: dict) -> float:
        return _dur(s) - sum(_dur(c) for c in self.children.get(s["id"], []))

    def parent_name(self, s: dict) -> str | None:
        p = self.by_id.get(s["parent"])
        return p["name"] if p else None

    def outermost(self, name: str) -> list[dict]:
        """Spans named ``name`` not nested inside another span of that name."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            p = self.by_id.get(s["parent"])
            while p is not None and p["name"] != name:
                p = self.by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] not in self.by_id]


def stage_metrics(run: RunSpans) -> dict[str, float]:
    """plans.resolve.* from a run that called resolve_documents once."""
    (root,) = run.named(RESOLVE)
    out = {
        f"{RESOLVE}.wall_s": _dur(root),
        f"{RESOLVE}.self_s": run.self_s(root),
    }
    for stage in STAGES:
        (s,) = run.named(f"{RESOLVE}.{stage}")
        out[f"{RESOLVE}.{stage}.wall_s"] = _dur(s)
        out[f"{RESOLVE}.{stage}.jobs"] = run.jobs(s)
        out[f"{RESOLVE}.{stage}.rows"] = s["rows"]
    return out


def operator_metrics(
    run: RunSpans, frames: dict[int, dict], docs_in: int, edge_threshold: float
) -> dict[str, float]:
    """operators.* call times and jobs, plus the counters read back from
    the frames the seams captured. The counting runs after the unit ended,
    outside every span."""
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    for name in TIMED_OPS:
        spans = run.outermost(name)
        out[f"{name}.call_s"] = sum(_dur(s) for s in spans)
        out[f"{name}.jobs"] = sum(run.jobs(s) for s in spans)

    pairs = exact = edges = 0
    for s in run.named(SCORE):
        if run.parent_name(s) in PAIR_SCORING_PARENTS:
            fr = frames[s["id"]]
            pairs += fr["pairs"].count()
            exact += fr["out"].count()
            edges += (
                fr["out"]
                .where((F.col("score") >= edge_threshold) & (F.col("src") != F.col("dst")))
                .count()
            )
    out["operators.blocking.candidate_pairs"] = pairs
    out["operators.blocking.pairs_per_doc"] = pairs / docs_in
    out["operators.scoring.exact_rows"] = exact
    out["operators.scoring.exact_share"] = exact / pairs if pairs else 0.0
    out["operators.scoring.edges"] = edges
    out["operators.scoring.edge_yield"] = edges / exact if exact else 0.0

    out[f"{CC}.components"] = sum(
        frames[s["id"]]["out"].select("component").distinct().count()
        for s in run.named(CC)
        if run.parent_name(s) == f"{RESOLVE}.04_clusters"
    )

    relabeled = 0
    before = run.named(f"{RESOLVE}.04_clusters")
    after = run.named(f"{RESOLVE}.04b_hygiene")
    if before and after:
        a = frames[before[0]["id"]]["df"].select("doc_id", F.col("cluster").alias("_c0"))
        b = frames[after[0]["id"]]["df"].select("doc_id", "cluster")
        relabeled = a.join(b, "doc_id").where(F.col("_c0") != F.col("cluster")).count()
    out["operators.hygiene.relabeled_docs"] = relabeled
    out["operators.hygiene.relabeled_share"] = relabeled / docs_in

    roots = run.roots()
    out["jobs_total"] = sum(run.jobs(s) for s in roots)
    out["tasks_failed"] = sum(s["tasks_failed_own"] for s in run.spans)
    return out


def self_time_table(run: RunSpans) -> list[tuple[str, int, float, float, int]]:
    """(layer, calls, inclusive wall s, self s, jobs) per span name, in
    first-seen order."""
    rows: dict[str, list] = {}
    for s in run.spans:
        r = rows.setdefault(s["name"], [0, 0.0, 0.0, 0])
        r[0] += 1
        r[2] += run.self_s(s)
        r[3] += s["jobs_own"]
    for name in rows:
        rows[name][1] = sum(_dur(s) for s in run.outermost(name))
    return [(name, *vals) for name, vals in rows.items()]
