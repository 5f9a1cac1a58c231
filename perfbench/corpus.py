"""Seeded benchmark inputs and the output checks that score them.

The base table has the shape of the generator's usual ``documents.parquet``
input (one row per true entity: a text of 10-99 tokens drawn from a
30-word vocabulary, and a language), but it is drawn from ``--seed`` here,
so the benchmark depends on no data outside its checkout.
``sources.webgen.generate_documents`` then renders 1-8 perturbed web-page
variants per entity and labels each with its ``entity_id``. The program
only ever sees the :data:`INPUT_COLUMNS` of those rows.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.44, 0.15, 0.15, 0.13, 0.13)


def write_base_table(path: str, n_base: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 100, n_base)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    os.makedirs(path, exist_ok=True)
    pd.DataFrame(
        {
            "doc_id": np.arange(n_base, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_base, p=LANG_P),
        }
    ).to_parquet(os.path.join(path, "documents.parquet"), index=False)


@dataclass
class Corpus:
    docs: object  # Spark DataFrame: INPUT_COLUMNS, entity_id, doc_id
    truth: pd.DataFrame  # doc_id (= xxhash64(url), the engine's id), entity_id
    gen_s: float

    @property
    def n_docs(self) -> int:
        return len(self.truth)


def build_corpus(spark, work_dir: str, n_base: int, amplify: int, seed: int) -> Corpus:
    """Generate, label and materialize one seeded corpus."""
    import time

    from pyspark.sql import functions as F

    from gpu_entity_resolver_spark.sources.webgen import (
        INPUT_COLUMNS,
        generate_documents,
    )

    base_dir = os.path.join(work_dir, f"base-{n_base}-{seed}")
    t0 = time.perf_counter()
    write_base_table(base_dir, n_base, seed)
    gen = generate_documents(spark, base_dir, seed=seed, amplify=amplify)
    gen = gen.select(
        *INPUT_COLUMNS,
        "entity_id",
        F.xxhash64("url").alias("doc_id"),
    ).localCheckpoint(eager=True)
    truth = gen.select("doc_id", "entity_id").toPandas()
    gen_s = time.perf_counter() - t0
    if truth["doc_id"].duplicated().any():
        raise RuntimeError("generated corpus has colliding doc ids")
    return Corpus(gen, truth, gen_s)


def input_rows(corpus_docs):
    """The columns the program is allowed to see."""
    from gpu_entity_resolver_spark.sources.webgen import INPUT_COLUMNS

    return corpus_docs.select(*INPUT_COLUMNS)


def _pairs(counts: np.ndarray) -> float:
    c = counts.astype(np.float64)
    return float((c * (c - 1) / 2).sum())


def pairwise_f1(cluster: np.ndarray, entity: np.ndarray) -> float:
    """All-pairs F1 of a partition against true entity labels, from the
    cluster x entity contingency table (no pair enumeration)."""
    df = pd.DataFrame({"c": cluster, "e": entity})
    tp = _pairs(df.groupby(["c", "e"]).size().to_numpy())
    pred = _pairs(df.groupby("c").size().to_numpy())
    true = _pairs(df.groupby("e").size().to_numpy())
    precision = tp / pred if pred else 1.0
    recall = tp / true if true else 1.0
    if precision + recall == 0:
        return 0.0
    return 2 * precision * recall / (precision + recall)


def majority_accuracy(cluster: np.ndarray, entity: np.ndarray) -> float:
    """Share of docs in the cluster that holds most of their entity's docs
    (ties: smallest cluster id), where that cluster holds no other entity's
    majority. Used on resolve output, where every doc is both the probe
    and part of its entity's reference set."""
    df = pd.DataFrame({"c": cluster, "e": entity})
    n = df.groupby(["e", "c"]).size().rename("n").reset_index()
    n = n.sort_values(["e", "n", "c"], ascending=[True, False, True])
    home = n.drop_duplicates("e").set_index("e")["c"]
    shared = home[home.duplicated(keep=False)]
    ok = df["c"].to_numpy() == home.reindex(df["e"]).to_numpy()
    ok &= ~df["e"].isin(shared.index).to_numpy()
    return float(ok.mean())


def partition_digest(doc_id: np.ndarray, cluster: np.ndarray) -> str:
    """Order-independent digest of a (doc_id, cluster) assignment."""
    order = np.lexsort((cluster, doc_id))
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(doc_id[order], dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(cluster[order], dtype=np.int64).tobytes())
    return h.hexdigest()[:16]
