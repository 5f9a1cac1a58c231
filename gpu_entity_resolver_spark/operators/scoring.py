"""Batched pairwise scoring inside blocks (SURVEY.md §2.7 V9, north rule).

Three signals per candidate pair, combined by configurable weights (the
reference's stream energy proportions become score weights — SURVEY.md V6):

- TF-IDF char-shingle cosine — numpy doc vectors against a broadcast IDF
  table, then a JVM dot product over two equi-joins
  (shingles.doc_vector_table + pair_cosine_vecs), re-expressing reference
  utils.py:211-232;
- Levenshtein ratio and Jaro-Winkler — the numpy kernels of
  functions/simfns.py (Myers distances equal Spark's builtin
  ``levenshtein``), run in ONE ``mapInPandas`` pass over the cosine
  survivors, JW only where the decision band needs it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import ScoringConfig
from ..functions.simfns import jaro_winkler, levenshtein_batch
from .shingles import doc_vector_table, pair_cosine_vecs


def make_jw_udf(max_chars: int = 64):
    @pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(jaro_winkler(a, b, max_chars=max_chars))

    return jw


def _score_kernel(cfg: ScoringConfig, max_chars: int):
    """Phase 2 of :func:`score_pairs` as one mapInPandas batch function:
    Levenshtein on every (t_a, t_b) row, then Jaro-Winkler only on rows
    whose partial score plus a perfect JW reaches the band floor; yields
    the exact rows. The float64 op order is fixed — partial = (w_tfidf *
    cos + w_lev * lev_ratio + w_ph * ph) / total_w, score = partial +
    jw_share * jw — and tests/test_round3.py recomputes it bit for bit."""
    total_w = (
        cfg.tfidf_weight
        + cfg.jaro_winkler_weight
        + cfg.levenshtein_weight
        + cfg.phonetic_weight
    )
    jw_share = cfg.jaro_winkler_weight / total_w

    def score_sketch_pairs(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a, b = pdf["t_a"].fillna(""), pdf["t_b"].fillna("")
            lev = levenshtein_batch(a, b, max_chars=max_chars)
            lev_ratio = 1.0 - lev / np.maximum(
                np.maximum(a.str.len(), b.str.len()), 1
            ).to_numpy()
            partial = (
                cfg.tfidf_weight * pdf["tfidf_cos"].to_numpy()
                + cfg.levenshtein_weight * lev_ratio
                + cfg.phonetic_weight * pdf["ph_sim"].fillna(0.0).to_numpy()
            ) / total_w
            keep = partial + jw_share >= cfg.jw_decision_band
            jw = jaro_winkler(a[keep], b[keep], max_chars=max_chars)
            yield pdf.loc[keep, ["src", "dst", "tfidf_cos"]].assign(
                lev_ratio=lev_ratio[keep],
                jw=jw,
                ph_sim=pdf["ph_sim"][keep],
                score=partial[keep] + jw_share * jw,
            )

    return score_sketch_pairs


def content_sketch(col, seg: int):
    """Bounded representative of a document for edit-distance scoring:
    first ``seg`` + middle ``seg`` + last ``seg`` characters (the whole
    string when it is shorter than 3*seg). Prefix-only truncation collapses
    documents sharing a long common prefix into spurious distance-0 pairs;
    the three-segment sketch keeps per-pair edit cost O(seg²) regardless of
    document size without that failure mode."""
    n = F.length(col)
    mid_start = (n / 2).cast("int") - (seg // 2)
    return F.when(n <= 3 * seg, col).otherwise(
        F.concat(
            F.substr(col, F.lit(1), F.lit(seg)),
            F.substr(col, mid_start, F.lit(seg)),
            F.substr(col, n - seg + 1, F.lit(seg)),
        )
    )


def score_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    cfg: ScoringConfig | None = None,
) -> DataFrame:
    """Score candidate pairs; returns (src, dst, tfidf_cos, lev_ratio, jw,
    ph_sim, score). ``pairs`` has (src, dst); ``docs`` has (id_col, text_col).

    Every row returned is exact: its score includes a computed JW. Two
    kinds of candidate are dropped instead: pairs whose shingle cosine is under
    ``cfg.cosine_prefilter`` (the prefilter cut, see ScoringConfig), and
    pairs whose partial (tfidf + lev + phonetic) score cannot reach the
    ``cfg.jw_decision_band`` floor even with a perfect JW — their true
    score is provably below the floor, so a consumer thresholding at or
    above it loses nothing. Floor 0.0 drops prefilter rows only.

    TF-IDF cosine sees the FULL normalized text (linear cost, pruned
    vectors); JW/Levenshtein see the content sketch (bounded quadratic).
    When ``cfg.phonetic_weight > 0`` a fourth signal joins the blend: the
    V2 phonetic term (reference resolver.py:353-369, stream energy 15% per
    config.py:117-124) re-expressed as Metaphone-token-set Jaccard — the
    relational equivalent of the reference's binary CountVectorizer overlap
    on Metaphone text (SURVEY.md §2.7 V2). Metaphone encoding runs once per
    DOC (Arrow-batched UDF); the per-PAIR Jaccard is JVM array set-ops."""
    cfg = cfg or ScoringConfig()
    seg = cfg.sketch_chars
    use_ph = cfg.phonetic_weight > 0
    text_cols = [
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("full_t"),
        content_sketch(F.col(text_col), seg).alias("t"),
    ]
    if use_ph:
        from ..functions.phonetic import metaphone_udf

        text_cols.append(
            F.array_distinct(
                F.filter(
                    F.split(metaphone_udf(F.col(text_col)), " "),
                    lambda x: x != "",
                )
            ).alias("ph")
        )
    texts = docs.select(*text_cols)

    # Phase 1 — TF-IDF cosine for ALL candidate pairs. Doc vectors build
    # map-side against a broadcast IDF table (shingles.doc_vector_table);
    # the dot product is a JVM fold over the two attached vectors.
    vecs = doc_vector_table(
        texts, id_col="doc_id", text_col="full_t",
        n_lo=cfg.tfidf_ngram_lo, n_hi=cfg.tfidf_ngram_hi,
        min_df=cfg.tfidf_min_df, top_k=cfg.tfidf_top_k,
    )
    cos = pair_cosine_vecs(pairs, vecs)

    # Phase 2 — one Python pass (_score_kernel) over the pairs passing the
    # cosine prefilter: the reference's centroid-prefilter pattern
    # (utils.py:602-621) applied to edit distances. On web corpora most
    # candidate pairs have near-zero shingle cosine and cannot be
    # duplicates; skipping their quadratic edit kernels is the dominant
    # scoring cost lever. Every kept pair, confident ones included, gets an
    # exact JW: mean/median/rank consumers (attach_singletons' neighbor
    # means, merge_similar_clusters' median, mutual-rank orderings,
    # avg_pair_score -> confidence) read score values.
    survivors = cos.where(F.col("tfidf_cos") >= cfg.cosine_prefilter)
    side_cols = ["doc_id", "t"] + (["ph"] if use_ph else [])
    sketches = texts.select(*side_cols)
    ren_a = {"doc_id": "src", "t": "t_a"} | ({"ph": "ph_a"} if use_ph else {})
    ren_b = {"doc_id": "dst", "t": "t_b"} | ({"ph": "ph_b"} if use_ph else {})
    with_texts = (
        survivors
        .join(sketches.withColumnsRenamed(ren_a), "src")
        .join(sketches.withColumnsRenamed(ren_b), "dst")
    )
    if use_ph:
        uni = F.size(F.array_union("ph_a", "ph_b"))
        ph_sim = F.when(
            uni > 0,
            F.size(F.array_intersect("ph_a", "ph_b")).cast("double") / uni,
        ).otherwise(F.lit(0.0))
    else:
        ph_sim = F.lit(None).cast("double")
    return with_texts.select(
        "src", "dst", "tfidf_cos", ph_sim.alias("ph_sim"), "t_a", "t_b"
    ).mapInPandas(
        _score_kernel(cfg, max_chars=3 * seg),
        "src long, dst long, tfidf_cos double, lev_ratio double, jw double, "
        "ph_sim double, score double",
    )


def edges_above_threshold(scores: DataFrame, threshold: float) -> DataFrame:
    """G2 edge-list build: thresholded, self-loop-free (reference
    utils.py:282-311)."""
    return scores.where(
        (F.col("score") >= threshold) & (F.col("src") != F.col("dst"))
    ).select("src", "dst", "score")
