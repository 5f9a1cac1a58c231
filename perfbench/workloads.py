"""The benchmark's workloads.

Each workload sets up once (the corpus and, for assign_stream, the fit),
then repeats its unit of work in a closed loop with one client until
``seconds`` have passed:

- a resolve workload's unit is one ``resolve_documents`` call over the
  whole corpus, from the call until its output is collected;
- ``assign_stream``'s unit is one pass over the held-out docs in
  fixed-size micro-batches, each sent through ``prepare_documents`` and
  ``assign_new_documents`` after the previous one has been collected.

With ``trace`` the loop alternates untraced and traced units; traced units
run under :func:`spans.seams` and give the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import corpus as corpus_mod
import kernels
import spans
from host import TreeMeter

F1_FLOOR = 0.99
ACCURACY_FLOOR = 0.95


@dataclass
class Unit:
    """One measured unit of work."""

    wall_s: float
    cpu_s: float
    peak_rss_mb: float
    docs: int
    batch_latencies: list[float]
    pairwise_f1: float
    assign_accuracy: float
    traced: bool = False


@dataclass
class Outcome:
    units: list[Unit] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    run_layers: dict[str, float] = field(default_factory=dict)  # once per run
    layers: list[dict[str, float]] = field(default_factory=list)
    kernel_items: dict[str, int] = field(default_factory=dict)
    tables: list[list[tuple]] = field(default_factory=list)


class DigestBook:
    """Digests of one seed's output, kept in the work directory so every
    later run of the same workload and seed must reproduce them."""

    def __init__(self, path: str, key: str):
        self.path, self.key = path, key

    def check(self, digest: str) -> str | None:
        book = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                book = json.load(f)
        known = book.get(self.key)
        if known is None:
            book[self.key] = digest
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(book, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
            return None
        if known != digest:
            return f"digest {digest} differs from {known} recorded for {self.key}"
        return None


def _loop(seconds: float, trace: bool, cold_start: bool):
    """Yield (index, traced) until ``seconds`` have passed and at least one
    unit ran. With ``trace``, alternate traced and untraced units, ending on
    an untraced one; when the first unit of the process runs cold
    (``cold_start``), an untraced unit goes first so that no traced unit is
    compared with a cold one."""
    t0 = time.perf_counter()
    lead = 1 if trace and cold_start else 0
    i = 0
    while i == 0 or time.perf_counter() - t0 < seconds or (
        trace and (i < lead + 2 or (i - lead) % 2 == 1)
    ):
        yield i, trace and i >= lead and (i - lead) % 2 == 0
        i += 1


def _attempt(out: Outcome, fn) -> Unit | None:
    """Run one unit; count it, and count it failed if it raised or an
    output check failed."""
    out.attempted += 1
    try:
        unit, problems = fn()
    except Exception:  # a failed unit is reported, not fatal
        out.failed += 1
        traceback.print_exc(file=sys.stderr)
        return None
    if problems:
        out.failed += 1
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
    out.units.append(unit)
    return unit


def _layer_row(tracer, unit_run, stage_run, docs_in, cfg) -> dict[str, float]:
    row = spans.stage_metrics(stage_run)
    row.update(
        spans.operator_metrics(
            unit_run, tracer.frames, docs_in, cfg.scoring.edge_threshold
        )
    )
    return row


def _stage_frame(tracer, run, stage: str):
    (s,) = run.named(f"{spans.RESOLVE}.{stage}")
    return tracer.frames[s["id"]]["df"]


def _kernels(out: Outcome, tracer, run, corpus, seed: int, cfg) -> dict[str, float]:
    prepared = _stage_frame(tracer, run, "01_normalized")
    scored = _stage_frame(tracer, run, "03_scored")
    sketches = kernels.sample_sketches(
        scored, prepared, seed, cfg.scoring.sketch_chars
    )
    docs = kernels.sample_docs(corpus.docs, prepared, seed)
    metrics, out.kernel_items = kernels.kernel_metrics(sketches, docs, cfg)
    return metrics


def _finish_trace(out: Outcome, kernel_row: dict, cold_start: bool) -> None:
    """Add the kernel timings to every traced row, and the tracing overhead:
    median traced wall minus median untraced wall, leaving out a cold first
    unit."""
    for row in out.layers:
        row.update(kernel_row)
    traced = [u.wall_s for u in out.units if u.traced]
    plain = [u.wall_s for u in out.units if not u.traced][int(cold_start):]
    if traced and plain:
        out.run_layers["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(plain)
        )


# --- resolve workloads ------------------------------------------------------


@dataclass(frozen=True)
class ResolveWorkload:
    n_base: int
    amplify: int

    def run(self, spark, ctx) -> Outcome:
        from gpu_entity_resolver_spark.config import ResolverConfig
        from gpu_entity_resolver_spark.plans.resolve import resolve_documents

        cfg = ResolverConfig()
        out = Outcome()
        t0 = time.perf_counter()
        corpus = corpus_mod.build_corpus(
            spark, ctx.work_dir, self.n_base, self.amplify, ctx.seed
        )
        docs = corpus_mod.input_rows(corpus.docs)
        truth = corpus.truth.set_index("doc_id")["entity_id"]
        book = DigestBook(ctx.digest_path, f"{ctx.workload}:{ctx.seed}")
        out.run_layers["sources.webgen.generate_s"] = corpus.gen_s

        def resolve_unit(tracer=None):
            with TreeMeter() as meter:
                start = time.perf_counter()
                if tracer is None:
                    res = resolve_documents(spark, docs)
                    pdf = res.select("doc_id", "cluster").toPandas()
                else:
                    with spans.seams(tracer), tracer.span(spans.RESOLVE):
                        res = resolve_documents(spark, docs)
                        pdf = res.select("doc_id", "cluster").toPandas()
                wall = time.perf_counter() - start
            problems = []
            if len(pdf) != corpus.n_docs or pdf["doc_id"].duplicated().any():
                problems.append(
                    f"{len(pdf)} output rows for {corpus.n_docs} input docs"
                )
            entity = truth.reindex(pdf["doc_id"]).to_numpy()
            if pd.isna(entity).any():
                problems.append("output doc ids missing from the input")
                entity = np.nan_to_num(entity, nan=-1)
            cluster = pdf["cluster"].to_numpy()
            f1 = corpus_mod.pairwise_f1(cluster, entity)
            if f1 < F1_FLOOR:
                problems.append(f"pairwise_f1 {f1:.4f} < {F1_FLOOR}")
            bad = book.check(
                corpus_mod.partition_digest(pdf["doc_id"].to_numpy(), cluster)
            )
            if bad:
                problems.append(bad)
            unit = Unit(
                wall_s=wall,
                cpu_s=meter.cpu_s,
                peak_rss_mb=meter.peak_rss / 2**20,
                docs=corpus.n_docs,
                batch_latencies=[wall],
                pairwise_f1=f1,
                assign_accuracy=corpus_mod.majority_accuracy(cluster, entity),
                traced=tracer is not None,
            )
            return unit, problems

        # No warm-up call: a batch resolve job runs once per session, so the
        # measured call pays what such a job pays. Corpus generation has
        # already started the Python workers.
        out.setup_s = time.perf_counter() - t0

        kernel_row: dict[str, float] = {}
        for i, traced in _loop(ctx.seconds, ctx.trace, cold_start=True):
            if not traced:
                _attempt(out, resolve_unit)
                continue
            tracer = ctx.tracer
            tracer.run_id = f"call{i}"
            unit = _attempt(out, lambda: resolve_unit(tracer))
            run = spans.RunSpans(tracer.close_run())
            if unit is None:
                continue
            out.layers.append(_layer_row(tracer, run, run, corpus.n_docs, cfg))
            out.tables.append(spans.self_time_table(run))
            if not kernel_row:
                kernel_row = _kernels(out, tracer, run, corpus, ctx.seed, cfg)
            tracer.frames.clear()
        if ctx.trace:
            _finish_trace(out, kernel_row, cold_start=True)
        return out


# --- incremental assign -----------------------------------------------------


def split_held_out(truth: pd.DataFrame, seed: int) -> pd.Series:
    """Boolean mask over ``truth`` rows: the held-out docs.

    About 8% of entities are held out entirely; of the remaining entities
    with at least two docs, about 40% lose one doc to the held-out set.
    With 500 entities that is about 180 + 160 docs, so the 256 sent are
    roughly half variants of known entities and half new entities."""
    rng = np.random.default_rng([seed, 13])
    ents = np.sort(truth["entity_id"].unique())
    gone = pd.Series(rng.random(len(ents)) < 0.08, index=ents)
    lose_one = pd.Series(rng.random(len(ents)) < 0.40, index=ents)
    key = pd.Series(rng.random(len(truth)), index=truth.index)
    size = truth.groupby("entity_id")["doc_id"].transform("size")
    first = key.groupby(truth["entity_id"]).rank(method="first") == 1
    ent = truth["entity_id"]
    return gone.reindex(ent).to_numpy() | (
        lose_one.reindex(ent).to_numpy()
        & ~gone.reindex(ent).to_numpy()
        & (size >= 2).to_numpy()
        & first.to_numpy()
    )


@dataclass(frozen=True)
class AssignWorkload:
    n_base: int
    batch_docs: int
    batches: int

    def run(self, spark, ctx) -> Outcome:
        from pyspark.sql import functions as F

        from gpu_entity_resolver_spark.config import ResolverConfig
        from gpu_entity_resolver_spark.operators import hygiene
        from gpu_entity_resolver_spark.plans.resolve import (
            prepare_documents,
            resolve_documents,
        )

        cfg = ResolverConfig()
        out = Outcome()
        t0 = time.perf_counter()
        corpus = corpus_mod.build_corpus(spark, ctx.work_dir, self.n_base, 1, ctx.seed)
        out.run_layers["sources.webgen.generate_s"] = corpus.gen_s
        truth = corpus.truth
        held_out = split_held_out(truth, ctx.seed)
        inn, new = truth[~held_out], truth[held_out]
        n_send = self.batch_docs * self.batches
        if len(new) < n_send:
            raise RuntimeError(f"{len(new)} held-out docs, need {n_send}")
        new = new.sample(frac=1.0, random_state=ctx.seed % 2**32).iloc[:n_send]

        def rows_for(ids):
            keys = spark.createDataFrame(pd.DataFrame({"doc_id": ids}))
            return corpus_mod.input_rows(
                corpus.docs.join(F.broadcast(keys), "doc_id")
            ).localCheckpoint(eager=True)

        # Fit: resolve the held-in docs; the model is its (cluster,
        # canonical_text) table. Traced runs trace the fit for the stage
        # metrics (the assign path has no stages).
        fit_in = rows_for(inn["doc_id"].to_numpy())
        tracer = ctx.tracer
        if tracer is not None:
            tracer.run_id = "fit"
            with spans.seams(tracer), tracer.span(spans.RESOLVE):
                fit = resolve_documents(spark, fit_in)
                fit_pdf = fit.select("doc_id", "cluster").toPandas()
            fit_run = spans.RunSpans(tracer.close_run())
        else:
            fit = resolve_documents(spark, fit_in)
            fit_pdf = fit.select("doc_id", "cluster").toPandas()
        canon = (
            fit.select("cluster", "canonical_text").distinct().localCheckpoint(eager=True)
        )
        ent_of = truth.set_index("doc_id")["entity_id"]
        fit_ent = ent_of.reindex(fit_pdf["doc_id"]).to_numpy()
        fit_f1 = corpus_mod.pairwise_f1(fit_pdf["cluster"].to_numpy(), fit_ent)
        if len(fit_pdf) != len(inn) or fit_f1 < F1_FLOOR:
            raise RuntimeError(
                f"fit: {len(fit_pdf)} rows for {len(inn)} docs, f1 {fit_f1:.4f}"
            )
        # home cluster of each held-in entity: the one holding most of its
        # held-in docs (ties: smallest id)
        counts = (
            pd.DataFrame({"e": fit_ent, "c": fit_pdf["cluster"].to_numpy()})
            .groupby(["e", "c"]).size().rename("n").reset_index()
            .sort_values(["e", "n", "c"], ascending=[True, False, True])
        )
        home = counts.drop_duplicates("e").set_index("e")["c"].astype("Int64")
        # <NA> where the whole entity was held out
        new_home = home.reindex(new["entity_id"]).set_axis(new["doc_id"])

        sent = new["doc_id"].to_numpy()
        batches = [
            (part, rows_for(part))
            for part in np.split(sent, self.batches)
        ]
        book = DigestBook(ctx.digest_path, f"{ctx.workload}:{ctx.seed}")

        def send(rows):
            prepared = prepare_documents(rows, cfg)
            # looked up on the module so that the traced run's seam applies
            res = hygiene.assign_new_documents(spark, prepared, canon, cfg)
            return res.toPandas()

        def pass_unit(tracer=None):
            lat, got, problems = [], [], []
            with TreeMeter() as meter:
                start = time.perf_counter()
                for part, rows in batches:
                    b0 = time.perf_counter()
                    if tracer is None:
                        pdf = send(rows)
                    else:
                        with tracer.span("assign_stream.batch"):
                            pdf = send(rows)
                    lat.append(time.perf_counter() - b0)
                    if len(pdf) != len(part) or set(pdf["doc_id"]) != set(part):
                        problems.append(
                            f"batch of {len(part)} docs returned {len(pdf)} rows"
                        )
                    got.append(pdf)
                wall = time.perf_counter() - start
            res = pd.concat(got).set_index("doc_id").reindex(sent)
            homes = new_home.reindex(sent)
            known = homes.notna().to_numpy()
            is_new = res["is_new_entity"].to_numpy(dtype=bool)
            same = res["cluster"].to_numpy() == homes.fillna(0).to_numpy(np.int64)
            correct = np.where(known, ~is_new & same, is_new)
            acc = float(correct.mean())
            if acc < ACCURACY_FLOOR:
                problems.append(f"assign_accuracy {acc:.4f} < {ACCURACY_FLOOR}")
            labels = np.concatenate([fit_pdf["cluster"].to_numpy(), res["cluster"].to_numpy()])
            ents = np.concatenate([fit_ent, ent_of.reindex(sent).to_numpy()])
            bad = book.check(
                corpus_mod.partition_digest(sent, res["cluster"].to_numpy())
            )
            if bad:
                problems.append(bad)
            unit = Unit(
                wall_s=wall,
                cpu_s=meter.cpu_s,
                peak_rss_mb=meter.peak_rss / 2**20,
                docs=len(sent),
                batch_latencies=lat,
                pairwise_f1=corpus_mod.pairwise_f1(labels, ents),
                assign_accuracy=acc,
                traced=tracer is not None,
            )
            return unit, problems

        # No warm-up batch: the fit has run the same blocking and scoring
        # operators in this session.
        out.setup_s = time.perf_counter() - t0

        kernel_row: dict[str, float] = {}
        for i, traced in _loop(ctx.seconds, ctx.trace, cold_start=False):
            if not traced:
                _attempt(out, pass_unit)
                continue
            tracer.run_id = f"pass{i}"
            with spans.seams(tracer), tracer.span("assign_stream.pass"):
                unit = _attempt(out, lambda: pass_unit(tracer))
            run = spans.RunSpans(tracer.close_run())
            if unit is None:
                continue
            out.layers.append(
                _layer_row(tracer, run, fit_run, unit.docs, cfg)
            )
            out.tables.append(spans.self_time_table(run))
            if not kernel_row:
                kernel_row = _kernels(out, tracer, fit_run, corpus, ctx.seed, cfg)
        if ctx.trace:
            _finish_trace(out, kernel_row, cold_start=False)
        return out


WORKLOADS = {
    "small_resolve": ResolveWorkload(n_base=500, amplify=1),
    "assign_stream": AssignWorkload(n_base=500, batch_docs=128, batches=2),
}
