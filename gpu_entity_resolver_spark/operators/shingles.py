"""Char-shingle TF-IDF vectors and the pair cosine shared by scoring and
dedup.

The reference vectorizes with cuML ``TfidfVectorizer(analyzer='char',
ngram_range=(3,5), sublinear_tf=True)`` (reference resolver.py:329-350,
config.py:57-64). :func:`doc_vector_table` builds the same sublinear
TF-IDF weights, pruned to ``top_k`` terms and L2-normalized, MAP-SIDE in
numpy: one pass sums per-partition document frequencies, the IDF table is
broadcast, and a second pass weights each document's term counts. Every
pass turns text into terms with one kernel, :func:`_gram_codes`.
:func:`pair_cosine_vecs` scores candidate pairs with two equi-joins and a
JVM dot product.

Vocabularies larger than ``broadcast_max_terms`` fall back to the exploded
JVM form, :func:`tfidf_weights` -> :func:`doc_vectors`: a (doc_id, h, w_raw)
table aggregated and joined on int64 keys. Same vectors, plus a tf shuffle.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A width-n gram code packs the gram's n UTF-8 bytes base-256 (first byte
# lowest) below a width tag n << 48, so codes of different widths never
# collide and every code is strictly positive. Six bytes fill the 48 bits
# under the tag. Hash semantics are internal to the scorer: nothing
# downstream needs xxhash parity.
_MAX_WIDTH = 6
_PLACE = {n: 256 ** np.arange(n, dtype=np.int64) for n in range(1, _MAX_WIDTH + 1)}
_TAG = {n: np.int64(n) << np.int64(48) for n in range(1, _MAX_WIDTH + 1)}


def _widths(n_lo: int, n_hi: int) -> list[int]:
    """Gram widths n_lo..n_hi; width 7+ would overflow into the width tag
    and silently collide terms across widths."""
    if n_hi > _MAX_WIDTH:
        raise ValueError(
            f"shingle width n_hi={n_hi} exceeds {_MAX_WIDTH}; gram codes only "
            "hold 6 bytes below the width tag at bit 48"
        )
    return list(range(n_lo, n_hi + 1))


def _gram_codes(text: str | None, widths: list[int]) -> np.ndarray:
    """int64 code of every byte n-gram of ``text`` for n in ``widths``, one
    entry per occurrence (vectorized sliding-window dot product, no string
    churn). A text shorter than n bytes yields one whole-string code for
    that width instead, the first 6 bytes of md5(text + n) under the width
    tag, so very short docs still score. Callers run ``np.unique``."""
    raw = ("" if text is None else str(text)).encode("utf-8")
    b = np.frombuffer(raw, dtype=np.uint8)
    parts = []
    for n in widths:
        if len(b) >= n:
            win = sliding_window_view(b, n)
            parts.append(win.astype(np.int64) @ _PLACE[n] + _TAG[n])
        else:
            digest = hashlib.md5(raw + bytes([n])).digest()
            code = int.from_bytes(digest[:6], "little") + _TAG[n]
            parts.append(np.array([code], dtype=np.int64))
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _cat(parts: list[np.ndarray]) -> np.ndarray:
    return np.concatenate(parts) if parts else np.array([], dtype=np.int64)


def _doc_term_counts(
    docs: DataFrame, id_col: str, text_col: str, widths: list[int]
) -> DataFrame:
    """Per-document term counts (doc_id, h, tf), computed MAP-SIDE in numpy
    over Arrow batches: ``np.unique`` over each doc's gram codes, no tf
    shuffle."""

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id: list[np.ndarray] = []
            out_h: list[np.ndarray] = []
            out_tf: list[np.ndarray] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                uniq, counts = np.unique(
                    _gram_codes(text, widths), return_counts=True
                )
                out_id.append(np.full(len(uniq), int(doc_id), dtype=np.int64))
                out_h.append(uniq)
                out_tf.append(counts.astype(np.int64))
            yield pd.DataFrame(
                {"doc_id": _cat(out_id), "h": _cat(out_h), "tf": _cat(out_tf)}
            )

    return docs.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(per_batch, "doc_id long, h long, tf long")


def _partition_term_dfs(
    docs: DataFrame, text_col: str, widths: list[int]
) -> DataFrame:
    """Partial document frequencies (h, df) aggregated INSIDE each map
    partition in numpy; summed by ``h`` they equal
    ``_doc_term_counts(...).groupBy("h").count()`` exactly.

    A doc adds 1 to each of its distinct terms' df and partials sum
    associatively, so a partition emits O(distinct terms) rows instead of
    one Arrow row per (doc, term) — ~260 per 300-char doc (guide §2.3
    "aggregate before you shuffle", applied at the Python->JVM boundary).
    Memory is bounded by flushing a partial block every ~4M entries."""
    flush_entries = 4_000_000

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[np.ndarray] = []
        acc_n = 0

        def drain() -> pd.DataFrame:
            nonlocal acc, acc_n
            h, c = np.unique(np.concatenate(acc), return_counts=True)
            acc, acc_n = [], 0
            return pd.DataFrame({"h": h, "df": c.astype(np.int64)})

        for pdf in batches:
            for text in pdf[text_col]:
                u = np.unique(_gram_codes(text, widths))
                acc.append(u)
                acc_n += len(u)
                if acc_n >= flush_entries:
                    yield drain()
        if acc:
            yield drain()

    return docs.select(F.col(text_col).alias(text_col)).mapInPandas(
        per_partition, "h long, df long"
    )


def tfidf_weights(
    docs: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    n_lo: int = 3,
    n_hi: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Sublinear TF-IDF weights, exploded one row per (doc, shingle-hash):
    (doc_id, h, w_raw) — the form :func:`doc_vector_table` falls back to
    when the vocabulary is too large to broadcast. ``n_docs`` is the corpus
    size the caller has already counted. Matches the sklearn/cuML formula
    the reference uses: ``w = (1 + ln tf) * (ln((1+N)/(1+df)) + 1)``.
    L2 normalization happens in :func:`doc_vectors` over the kept (top-k)
    entries. The doc-frequency aggregation, the IDF join and the vector
    build shuffle, all on int64 keys.
    """
    # barrier: the term counts feed both the df aggregation and the join,
    # so each document's terms are counted once
    widths = _widths(n_lo, n_hi)
    tf = _doc_term_counts(docs, id_col, text_col, widths).localCheckpoint(eager=False)
    dfreq = tf.groupBy("h").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    return tf.join(dfreq, "h").select(
        "doc_id",
        "h",
        (
            (1.0 + F.log(F.col("tf").cast("double")))
            * (F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + 1.0)
        ).alias("w_raw"),
    )


def doc_vectors(
    weights: DataFrame,
    top_k: int | None = 128,
) -> DataFrame:
    """Collapse the exploded (doc_id, h, w_raw) weight table into one
    ``map<long, float>`` vector per doc: ONE groupBy that collects the
    entries, then a single JVM expression sorts, keeps the ``top_k``
    highest-weight shingles (tie: hash asc) and L2-normalizes the kept set.

    Per-doc arrays are bounded by document length, so the collect_list is
    safe at any corpus size. ``top_k`` is the scale
    lever bounding per-pair dot cost and vector-attach shuffle bytes; the
    reference's ``max_features=10000`` (config.py:60) plays the same role.
    """
    k = 1 << 30 if top_k is None else top_k
    arr = F.expr(
        "slice(array_sort(_entries, (a, b) -> CASE WHEN a.w > b.w THEN -1 "
        "WHEN a.w < b.w THEN 1 WHEN a.h < b.h THEN -1 WHEN a.h > b.h THEN 1 "
        f"ELSE 0 END), 1, {k})"
    )
    # float32 weights: halves the per-pair shuffle bytes of attaching
    # vectors to candidate pairs; cosine is computed in double downstream.
    vec = F.expr(
        "map_from_entries(transform(_kept, e -> struct(e.h AS h, "
        "cast(e.w / _l2 AS float) AS w)))"
    )
    return (
        weights.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("w_raw").alias("w"), F.col("h").alias("h"))
            ).alias("_entries")
        )
        .withColumn("_kept", arr)
        .withColumn(
            "_l2",
            F.expr("sqrt(aggregate(_kept, 0D, (acc, x) -> acc + x.w * x.w))"),
        )
        .select("doc_id", vec.alias("vec"))
    )


def doc_vector_table(
    texts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    n_lo: int = 3,
    n_hi: int = 5,
    min_df: int = 1,
    top_k: int | None = 128,
    broadcast_max_terms: int = 4_000_000,
    broadcast_max_docs: int = 400_000,
) -> DataFrame:
    """One (doc_id, vec: map<long,float>) row per doc — same result as
    ``doc_vectors(tfidf_weights(...))`` but built MAP-SIDE when the distinct
    term count fits a broadcast.

    Char-gram vocabularies are heavy-tailed and small relative to the
    corpus (43.8k distinct 4-grams for 128k web docs), so the df table
    broadcasts: pass 1 sums df partials, then pass 2 recounts each doc's
    terms in numpy, looks the IDF up via ``searchsorted``, prunes to
    ``top_k`` (weight desc, hash asc — the JVM comparator's tie-break) and
    L2-normalizes. No tf shuffle, no idf join, no per-doc lambda sort: the
    join form's shuffle and sort measured 157 s of a 390 s scoring
    breakdown at 32 cores (amplified sf0.1).

    Vocabularies larger than ``broadcast_max_terms`` (possible at web scale
    with unbounded unicode grams) fall back to the join form.

    The table is returned behind a barrier (it feeds both side joins of
    :func:`pair_cosine_vecs`; without it the whole vector build, term counts
    included, runs twice). Join strategy (guide §3.1): a sort-merge pick
    would shuffle the PAIRS twice, the second time with the ~600-byte
    ``vec_a`` map attached, and the planner's estimate of an opaque
    mapInPandas or collect_list output can flip to it. The corpus size is
    known here on both paths, so at or below ``broadcast_max_docs`` (~250 MB
    built at top_k=48, far under the 8 GB broadcast cap) the table carries
    an explicit broadcast hint, and ReuseExchange ships one build for both
    joins. Larger tables keep the planner's choice. Strategy never changes
    values.
    """
    widths = _widths(n_lo, n_hi)
    dfreq = (
        _partition_term_dfs(texts, text_col, widths)
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
    )
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    # ONE columnar fetch brings the df table AND the corpus size:
    # limit(max+1) bounds the transfer (<= max rows means the WHOLE table),
    # and the sentinel row (h = -1, never a gram code) carries the count
    # after the limit so it always survives.
    sentinel = texts.agg(F.count("*").alias("df")).select(
        F.lit(-1).cast("long").alias("h"), F.col("df")
    )
    pdf = dfreq.limit(broadcast_max_terms + 1).unionByName(sentinel).toPandas()
    n_docs = int(pdf.loc[pdf["h"] == -1, "df"].iloc[0])
    pdf = pdf[pdf["h"] != -1]

    def barrier(vecs: DataFrame) -> DataFrame:
        vecs = vecs.localCheckpoint(eager=False)
        return F.broadcast(vecs) if n_docs <= broadcast_max_docs else vecs

    if len(pdf) > broadcast_max_terms:
        return barrier(doc_vectors(
            tfidf_weights(texts, n_docs, id_col, text_col, n_lo, n_hi, min_df),
            top_k=top_k,
        ))
    h_arr = pdf["h"].to_numpy(dtype=np.int64)
    df_arr = pdf["df"].to_numpy(dtype=np.int64)
    order = np.argsort(h_arr)
    h_sorted = h_arr[order]
    idf_sorted = np.log((1.0 + n_docs) / (1.0 + df_arr[order])) + 1.0
    sc = texts.sparkSession.sparkContext
    bc = sc.broadcast((h_sorted, idf_sorted))

    k = (1 << 30) if top_k is None else top_k

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hs, idfs = bc.value
        for pdf in batches:
            ids: list[int] = []
            vecs: list[dict] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                uniq, counts = np.unique(
                    _gram_codes(text, widths), return_counts=True
                )
                if len(hs):
                    pos_c = np.minimum(np.searchsorted(hs, uniq), len(hs) - 1)
                    keep = hs[pos_c] == uniq
                else:
                    pos_c = np.zeros(len(uniq), dtype=np.int64)
                    keep = np.zeros(len(uniq), dtype=bool)
                # terms absent from the df table exist only when min_df
                # filtered them — drop, matching the join formulation
                uniq, counts, pos_c = uniq[keep], counts[keep], pos_c[keep]
                if len(uniq) == 0:
                    ids.append(int(doc_id))
                    vecs.append({})
                    continue
                w = (1.0 + np.log(counts.astype(np.float64))) * idfs[pos_c]
                # top-k: weight desc, hash asc — identical to the JVM
                # comparator in doc_vectors
                sel = np.lexsort((uniq, -w))[:k]
                w_kept, h_kept = w[sel], uniq[sel]
                l2 = math.sqrt(float(np.dot(w_kept, w_kept)))
                vals = (w_kept / l2).astype(np.float32) if l2 > 0 else w_kept
                ids.append(int(doc_id))
                vecs.append(dict(zip(h_kept.tolist(), vals.tolist())))
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"), "vec": vecs})

    return barrier(texts.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).mapInPandas(per_batch, f"{id_col} long, vec map<long,float>"))


# Pair dot product over two pruned term->weight maps: a hash-set key
# intersection, then element_at probes only for SHARED keys — 1.3 s at
# 1.07M pairs / top_k=128 / local[32], against 4.6 s for probing every
# vec_a key and 58.8 s for map_zip_with. BITWISE equal to the full-iteration
# form (pinned by tests/test_pair_dot.py): skipped keys added exact +0.0,
# and array_intersect keeps vec_a's key order, so the shared products
# accumulate in the same order.
_DOT_SQL = (
    "aggregate(array_intersect(map_keys(vec_a), map_keys(vec_b)), 0D,"
    " (acc, k) -> acc + cast(element_at(vec_a, k) as double)"
    " * cast(element_at(vec_b, k) as double))"
)


def pair_cosine_vecs(
    pairs: DataFrame,
    vecs: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Cosine per candidate pair from a (doc_id, vec) table built by
    :func:`doc_vector_table` (which also picks the join strategy): two
    equi-joins + a JVM fold dot product (``_DOT_SQL`` above)."""
    dot = F.expr(_DOT_SQL)
    return (
        pairs.select(src_col, dst_col)
        .join(
            vecs.select(F.col("doc_id").alias(src_col), F.col("vec").alias("vec_a")),
            src_col,
        )
        .join(
            vecs.select(F.col("doc_id").alias(dst_col), F.col("vec").alias("vec_b")),
            dst_col,
        )
        .select(src_col, dst_col, dot.alias("tfidf_cos"))
    )

