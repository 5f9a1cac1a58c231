"""Deterministic synthetic Common-Crawl-style `documents` generator
(FIXTURES.md §1) with ground-truth entity labels.

Base texts come from the driver's read-only ``documents.parquet`` (one base
doc = one true entity); each entity gets 1-8 page variants produced by
seeded perturbations: abbreviation swaps (mirroring the reference's
replacement dict, config.py:14-20), legal-suffix add (config.py:21-27),
'&'<->' and ' noise (resolver.py:151-152), word drops and char-level typos.

Determinism: every random decision is drawn from a PCG64 generator seeded by
a pure function of (global_seed, entity_id, variant_id) — output is
byte-identical across runs and independent of partitioning, as FIXTURES.md
requires. Perturbation runs inside ``mapInPandas`` (Arrow batches).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_REPLACEMENTS

# full -> abbreviation (inverse of the normalization replacements, so the
# normalizer maps variants back together)
_ABBREV = {v: k for k, v in reversed(list(DEFAULT_REPLACEMENTS.items()))}
_SUFFIXES = ["llc", "inc", "corp", "co", "ltd", "group"]
_BASE_EPOCH = 1735689600  # 2025-01-01T00:00:00Z

OUTPUT_SCHEMA = (
    "doc_id long, entity_id long, url string, warc_ts timestamp, "
    "html binary, text string, lang string"
)


def _mix(*vals: int) -> int:
    """Deterministic 64-bit mix (splitmix-style) for per-row seeds."""
    h = 0x9E3779B97F4A7C15
    for v in vals:
        h ^= (v + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
    return h


def _separate_entities(base, cos_threshold: float = 0.5):
    """Drop base docs that are near-duplicates of a lower-id doc, so distinct
    entities stay below the match thresholds (FIXTURES.md §1: non-duplicates
    must come from sufficiently disjoint text). The driver corpus contains
    natural near-dups (477 distinct 60-char prefixes among 500 sf0.001 docs);
    without this filter those pairs are unresolvable label noise, not a
    measure of the engine. Deterministic: uses the engine's own seeded
    MinHash blocking + TF-IDF cosine, drops the larger id of each similar
    pair."""
    from ..functions.normalize import normalize_entity_text
    from ..operators.blocking import (
        candidate_pairs,
        lsh_block_keys,
        sort_token_table,
    )
    from ..operators.shingles import doc_vector_table, pair_cosine_vecs

    norm = base.select(
        F.col("entity_id").alias("doc_id"),
        normalize_entity_text(F.col("text")).alias("nt"),
    )
    pairs = candidate_pairs(
        lsh_block_keys(norm, "doc_id", "nt"),
        tokens=sort_token_table(norm, "doc_id", "nt"),
    )
    cos = pair_cosine_vecs(pairs, doc_vector_table(norm, "doc_id", "nt"))
    drop = (
        cos.where(F.col("tfidf_cos") >= cos_threshold)
        .select(F.greatest("src", "dst").alias("entity_id"))
        .distinct()
    )
    return base.join(drop, "entity_id", "left_anti")


def _perturb(text: str, rng: np.random.Generator, variant: int) -> str:
    if variant == 0:
        return text
    tokens = text.split()
    n_ops = int(rng.integers(1, 4))
    for _ in range(n_ops):
        op = int(rng.integers(0, 5))
        if op == 0 and tokens:  # abbreviation swap
            idxs = [i for i, t in enumerate(tokens) if t in _ABBREV]
            if idxs:
                i = idxs[int(rng.integers(0, len(idxs)))]
                tokens[i] = _ABBREV[tokens[i]]
        elif op == 1:  # legal suffix add (normalizer strips it)
            tokens.append(_SUFFIXES[int(rng.integers(0, len(_SUFFIXES)))])
        elif op == 2 and len(tokens) > 1:  # '&' noise
            i = int(rng.integers(0, len(tokens) - 1))
            if tokens[i] == "and":
                tokens[i] = "&"
        elif op == 3 and len(tokens) > 8:  # word drop
            i = int(rng.integers(0, len(tokens)))
            del tokens[i]
        elif op == 4 and tokens:  # char typo, edit distance 1
            i = int(rng.integers(0, len(tokens)))
            t = tokens[i]
            if len(t) >= 4:
                j = int(rng.integers(1, len(t) - 1))
                kind = int(rng.integers(0, 3))
                if kind == 0:  # adjacent swap
                    t = t[:j] + t[j + 1] + t[j] + t[j + 2:]
                elif kind == 1:  # delete
                    t = t[:j] + t[j + 1:]
                else:  # substitute
                    t = t[:j] + chr(ord("a") + int(rng.integers(0, 26))) + t[j + 1:]
                tokens[i] = t
    return " ".join(tokens)


def _render_url(entity_id: int, variant: int, host_id: int) -> str:
    scheme = "https" if (variant + entity_id) % 3 else "http"
    www = "www." if variant % 2 else ""
    noise = f"?utm={variant}" if variant % 4 == 3 else ""
    slash = "/" if variant % 5 == 2 else ""
    return (
        f"{scheme}://{www}host{host_id}.example.com/page/"
        f"{entity_id}-{variant}{slash}{noise}"
    )


def _render_html(text: str, rng: np.random.Generator) -> bytes:
    # Markup/whitespace noise between tags only — must NOT change the
    # extracted text bytes (FIXTURES.md invariant).
    pad1 = " " * int(rng.integers(0, 3))
    pad2 = "\n" * int(rng.integers(0, 2))
    attr = f' data-v="{int(rng.integers(0, 99))}"' if rng.integers(0, 2) else ""
    return (
        f"<html{attr}>{pad2}<head><title></title>"
        f"<style>p{{margin:0}}</style></head>{pad1}"
        f"<body>{pad2}<p>{text}</p>{pad1}</body></html>"
    ).encode("utf-8")


def _remap_tokens(text: str, replica: int) -> str:
    """Deterministic per-replica vocabulary remap: every token t becomes
    w<hex(mix(hash(t), replica))>. Structure (lengths, repetitions) is
    preserved; vocabularies of different replicas are disjoint w.h.p., so
    amplified entities stay below match thresholds of one another while
    within-replica near-dup structure mirrors the original corpus."""
    out = []
    for t in text.split():
        h = _mix(zlib.crc32(t.encode()), replica)
        n = 4 + (h >> 8) % 4  # 4-7 letters, like natural tokens
        chars = []
        for _ in range(n):
            chars.append(chr(ord("a") + h % 26))
            h //= 26
        out.append("".join(chars))
    return " ".join(out)


def generate_documents(
    spark: SparkSession,
    sf_dir: str,
    seed: int = 42,
    max_entities: int | None = None,
    amplify: int = 1,
) -> DataFrame:
    """Build the full-shape documents table from the driver's base corpus.

    Returns columns ``doc_id, entity_id, url, warc_ts, html, text, lang``;
    select :data:`INPUT_COLUMNS` for the exact input_hint shape. ``text`` is
    null for ~50% of rows to force the extraction path.
    """
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("entity_id"), "text", "lang"
    )
    if max_entities is not None:
        base = base.where(F.col("entity_id") < max_entities)
    base = _separate_entities(base)
    n_base = base.count()
    n_entities = n_base * amplify
    n_hosts = max(10, n_entities // 20)

    # Corpus amplification: `amplify` replicas per base doc, each with a
    # disjoint deterministic vocabulary (the sf tiers share a small base
    # corpus; amplification scales entity count without external data).
    if amplify > 1:
        base = base.select(
            "entity_id",
            "text",
            "lang",
            F.explode(F.sequence(F.lit(0), F.lit(amplify - 1))).alias("replica"),
        ).select(
            (F.col("entity_id") * amplify + F.col("replica")).alias("entity_id"),
            "text",
            "lang",
            F.col("replica").cast("int").alias("replica"),
        )
    else:
        base = base.withColumn("replica", F.lit(0))

    # 1-8 variants per entity, deterministic in entity_id.
    exploded = base.withColumn(
        "n_variants",
        (F.pmod(F.xxhash64("entity_id", F.lit(seed)), F.lit(8)) + 1).cast("int"),
    ).select(
        "entity_id",
        "text",
        "lang",
        "replica",
        F.explode(F.sequence(F.lit(0), F.col("n_variants") - 1)).alias("variant"),
    )

    # The base corpus is ONE small parquet file -> one scan partition; every
    # explode above is narrow, so without this the row generation (and any
    # downstream narrow stage, e.g. the extraction UDF) would run as a
    # single task regardless of cluster size. A real 100-TB input arrives in
    # thousands of files; this repartition emulates that scan parallelism.
    exploded = exploded.repartition(spark.sparkContext.defaultParallelism * 2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "entity_id": [], "url": [], "warc_ts": [],
                "html": [], "text": [], "lang": [],
            }
            for ent, text, lang, replica, variant in zip(
                pdf["entity_id"], pdf["text"], pdf["lang"],
                pdf["replica"], pdf["variant"],
            ):
                ent, variant, replica = int(ent), int(variant), int(replica)
                row_seed = _mix(seed, ent, variant)
                rng = np.random.default_rng(np.random.PCG64(row_seed))
                btext = str(text)
                if replica > 0:
                    btext = _remap_tokens(btext, replica)
                ptext = _perturb(btext, rng, variant)
                # Zipf-skewed host assignment: a few hosts are hot.
                u = (_mix(seed, ent, 7) % 100_000) / 100_000.0
                host_id = int(n_hosts * u**3)
                out["doc_id"].append(_mix(seed, ent, variant, 11) % (1 << 62))
                out["entity_id"].append(ent)
                out["url"].append(_render_url(ent, variant, host_id))
                out["warc_ts"].append(
                    pd.Timestamp(
                        _BASE_EPOCH + (_mix(seed, ent, variant, 13) % 10_000_000),
                        unit="s",
                    )
                )
                out["html"].append(_render_html(ptext, rng))
                # ~50% of rows omit the ground-truth text (forces extraction)
                out["text"].append(
                    ptext if _mix(seed, ent, variant, 17) % 2 else None
                )
                out["lang"].append(str(lang))
            yield pd.DataFrame(out)

    return exploded.mapInPandas(gen, OUTPUT_SCHEMA)


INPUT_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
