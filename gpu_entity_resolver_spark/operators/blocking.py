"""Multi-key blocking: MinHash-LSH over char shingles + sorted-neighborhood
prefix keys + host keys (+ soundex keys), with hot-block salting.

This is the single most important semantic→Spark transformation (SURVEY.md
§2.3 J5): the reference bounds all-pairs work with a chunked cross join
(resolver.py:2534-2562) and kNN searches (utils.py:313-359); at 10^12-doc
scale candidate generation must instead be an equi-join on blocking keys.

MinHash is hand-rolled over Spark-compatible XXH64 rather than
``ml.feature.MinHashLSH`` to guarantee cross-run determinism and avoid
VectorUDT round-trips (SURVEY.md §7.3). ``xxhash64(shingle_hash, perm)``
varies the hash per permutation; band hashes combine ``rows_per_band``
minima.

:func:`blocking_plan` is the one entry point: every key family emits
narrow (doc_id, block_key) rows, and one per-doc token table orders the
members of hot blocks. Hot blocks (template boilerplate producing giant
LSH buckets) are split into sorted-neighborhood salt ranges of
``max_block_size`` members (see :func:`salt_blocks`); duplicate pairs from
multiple keys are deduped in :func:`candidate_pairs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import BlockingConfig


# Fixed window offsets for the hot-block sort tokens. Offsets are absolute
# (length-independent): a near-dup pair whose lengths differ by a few chars
# still reads IDENTICAL windows wherever its text is unchanged — a
# length-relative window (e.g. the midpoint) shifts under any length delta
# and, over a periodic template, lands on different template text,
# scattering the pair across the sort order (measured: 46% of planted pairs
# separated). Log-spaced so documents of any size get covered without
# carrying long keys.
_SORT_OFFSETS = (0, 256, 1024, 4096)
_SORT_SEG = 16


def sort_token_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "norm_text"
) -> DataFrame:
    """One (doc_id, sort_key, sort_key2) row per DOC: the two content sort
    tokens that order hot-block members in :func:`salt_blocks`. Both are
    the same fixed-offset windows (plus the last ``_SORT_SEG`` chars of the
    squeezed text), concatenated LEFT-TO-RIGHT (``sort_key``) and
    RIGHT-TO-LEFT (``sort_key2``).

    Lexicographic orders lose a pair as soon as the FIRST differing window
    is reached, so a single ordering cannot keep all near-dups adjacent: an
    edit in an early window scatters the pair even when everything after it
    matches. With both orders, a pair differing in one region stays
    adjacent in the order that reads that region LAST — classic multi-pass
    sorted-neighborhood (Hernandez & Stolfo 1995), expressed as two salted
    range partitions per hot block.

    A doc carries ~10 key rows; keeping its two ~85-char tokens here
    instead of on every key row means they are attached ONLY to the
    hot-block rows that the rank windows actually order (guide §8: shuffle
    keys and metadata, attach heavy payload late and only where needed)."""
    squeezed = F.regexp_replace(F.col(text_col), r"\s+", "")
    n = F.length(squeezed)
    wins = [
        F.substring(squeezed, off + 1, _SORT_SEG) for off in _SORT_OFFSETS
    ]
    last = F.substr(
        squeezed, F.greatest(n - _SORT_SEG + 1, F.lit(1)), F.lit(_SORT_SEG)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat_ws("|", *wins, last).alias("sort_key"),
        F.concat_ws("|", last, *reversed(wins)).alias("sort_key2"),
    )


def lsh_block_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """(doc_id, block_key) rows: one key per LSH band.

    Emits EXACTLY the rows of the all-JVM MinHash formulation kept in
    tests/baselines/lsh_jvm.py (pinned by tests/test_lsh_numpy.py) but
    computes the whole signature in numpy:

    - gram hashing: Spark's ``xxhash64(gram, seed)`` over a 4-byte ASCII
      gram is ``hash_int(seed, hash_int(le_bytes, 42))`` — for XXH64 a
      4-byte input takes exactly the one-int tail path — so ASCII docs
      (the overwhelming case after normalization) hash ALL grams in two
      vectorized ``hash_int`` calls over the sliding byte windows, with
      ``np.unique`` as the exact ``array_distinct`` analog. Non-ASCII /
      short / null texts take a per-gram ``xxh64_bytes`` fallback with the
      same values (functions/xxh64.py, bit parity pinned by
      tests/test_xxh64_parity.py). Deduping at hash level is signature-
      invariant: the permutation fold takes minima, which duplicates
      cannot change.
    - permutation sweep: the JVM ``aggregate``/``zip_with`` fold allocates
      a boxed 64-long array per shingle hash (higher-order Catalyst
      functions never enter whole-stage codegen); here it is one
      broadcasted ``hash_int`` matrix per chunk + ``np.minimum.reduceat``
      per doc (signed minima — the JVM ``least`` compares signed longs).
    - band keys: ``xxhash64(slice(mhs, ...), b)`` folded vectorized ACROSS
      docs.

    Guide §4.2 (vectorized native code per batch); measured: the isolated
    key build drops ~2.3 s -> ~0.7 s at 100k docs (OPTIMIZATION_r06.md) —
    the JVM cost was dominated by per-gram UTF8String substring churn, not
    the fold."""
    import numpy as np
    import pandas as pd

    from ..functions.xxh64 import gram_hashes_spark, hash_int, hash_long

    cfg = cfg or BlockingConfig()
    bands, num_perm = cfg.bands, cfg.num_perm
    r = num_perm // bands
    mod = cfg.minhash_shingle_mod
    n_sh = cfg.shingle_size
    seed = cfg.seed
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    perms = np.arange(num_perm, dtype=np.uint64)
    # Tile the (hashes x num_perm) permutation matrix to ~2 MB: the sweep is
    # ~14 elementwise uint64 passes over the matrix, so DRAM-sized tiles make
    # it memory-bandwidth-bound — L2/L3-sized tiles keep the temporaries in
    # cache (measured ~1.5x on the 100k-doc corpus vs 32 MB tiles).
    chunk_budget = max(256, (2 << 20) // (num_perm * 8))

    def per_batch(batches):
        for pdf in batches:
            # deterministic shingle subsampling (keep hashes ≡ 0 mod m),
            # whole-set fallback for short docs — same rule as the JVM form
            subs = []
            for t in pdf["_t"]:
                a = gram_hashes_spark(t, n_sh, seed)
                if mod > 1:
                    s = a[a % mod == 0]  # numpy % == Spark pmod for m > 0
                    a = s if len(s) else a
                subs.append(a)
            lens = np.fromiter((len(a) for a in subs), dtype=np.int64)
            n = len(subs)
            sig = np.empty((n, num_perm), dtype=np.int64)
            start = 0
            while start < n:
                stop = start
                tot = 0
                while stop < n and (tot == 0 or tot + lens[stop] <= chunk_budget):
                    tot += lens[stop]
                    stop += 1
                flat = np.concatenate(subs[start:stop]).view(np.uint64)
                hl = hash_long(flat, np.uint64(42))
                # (total, num_perm) permutation hashes, then per-doc SIGNED
                # minima via reduceat (the JVM fold inits acc = Long.MAX and
                # takes least() over signed longs)
                m = hash_int(perms[None, :], hl[:, None]).view(np.int64)
                offs = np.zeros(stop - start, dtype=np.int64)
                np.cumsum(lens[start:stop][:-1], out=offs[1:])
                sig[start:stop] = np.minimum.reduceat(m, offs, axis=0)
                start = stop
            # band hash folded vectorized across docs:
            # xxhash64(slice(mhs, b*r+1, r), b)
            key_cols = []
            for b in range(bands):
                h = np.full(n, 42, dtype=np.uint64)
                for j in range(r):
                    h = hash_long(sig[:, b * r + j].view(np.uint64), h)
                bh = hash_int(np.uint64(b), h).view(np.int64)
                key_cols.append([f"mh{b}:{v}" for v in bh.tolist()])
            out_keys = [key_cols[b][i] for i in range(n) for b in range(bands)]
            idx = np.repeat(np.arange(n), bands)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy()[idx], "block_key": out_keys}
            )

    return base.mapInPandas(per_batch, "doc_id long, block_key string")


def sorted_neighborhood_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """Prefix-block keys on the normalized text — the sorted-neighborhood
    analog expressed as an equi-joinable key (docs sharing the first K chars
    fall in one block; the window semantics are delivered by the in-block
    pair join, block sizes being capped by salting)."""
    cfg = cfg or BlockingConfig()
    k = cfg.sorted_neighborhood_prefix
    squeezed = F.regexp_replace(F.col(text_col), r"\s+", "")
    head = F.concat(F.lit("sn:"), F.substring(squeezed, 1, k))
    # Tail key catches duplicates whose head diverges (leading word drops /
    # DBA-style prefix noise) — a second sort order, as classic sorted-
    # neighborhood uses multiple passes.
    tail = F.concat(F.lit("st:"), F.substr(squeezed, F.length(squeezed) - k + 1, F.lit(k)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(head, tail)).alias("block_key"),
    ).where(F.length("block_key") > 3)


def host_keys(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """Normalized-host blocking key from the url (north rule's second key
    family). Strips scheme, www., port and path; pure JVM regex."""
    host = F.lower(
        F.regexp_extract(F.col(url_col), r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:www\.)?([^/:?#]+)", 1)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat(F.lit("host:"), host).alias("block_key"),
    ).where(F.col("block_key") != "host:")


def phonetic_block_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    max_words: int = 2,
) -> DataFrame:
    """V2 phonetic key family: soundex per word over the first ``max_words``
    words (JVM soundex, no Python). Blocks together name variants whose
    spelling diverges beyond shingle reach ('jonsen'/'johnson'). The
    reference routes the same signal through a phonetic count-vector stream
    at 15% energy (config.py:117-124)."""
    from ..functions.phonetic import soundex_key

    key = F.concat(F.lit("ph:"), soundex_key(F.col(text_col), max_words))
    return docs.select(
        F.col(id_col).alias("doc_id"), key.alias("block_key")
    ).where(F.length("block_key") > 3)


def salt_blocks(
    blocks: DataFrame,
    cfg: BlockingConfig | None = None,
    *,
    tokens: DataFrame,
) -> DataFrame:
    """Split oversized blocks into salt groups of at most ``max_block_size``
    members, keeping pair cost LINEAR in block size without the silent
    cross-salt recall hole.

    ``blocks`` holds narrow (doc_id, block_key) rows; ``tokens`` holds one
    (doc_id, sort_key, sort_key2) row per DOC (:func:`sort_token_table`).

    Hot-block strategy (SURVEY §4's salt x neighbor-salt / sorted-
    neighborhood prescription): members of a hot block are ORDERED by
    (sort_key, doc_id) and cut into consecutive rank ranges of
    ``max_block_size``; every member also joins its NEXT range. Any pair
    within ``max_block_size`` sort positions is therefore always generated
    (same or adjacent range), so near-duplicates — whose content sketches
    sort adjacent — survive regardless of block size, while pair fan-out
    stays O(s * cap). The ~170 bytes of sort tokens are attached by a join
    ONLY to the hot-block rows the rank windows order, instead of riding
    every key row through the count window (guide §8 — heavy payload moves
    late and once; measured: hot rows are ~0.5% of key rows on the bench
    corpus).

    Keys shared by more than ``cfg.hot_key_ceiling`` docs are dropped
    before the window, which would otherwise sort such a key's members in
    one task (see BlockingConfig.hot_key_ceiling).
    """
    cfg = cfg or BlockingConfig()
    cap = cfg.max_block_size
    # Block sizes as ONE count window over the ~30-byte key rows. The size
    # filters (>= 2, df ceiling) apply after the count; one barrier on the
    # window output serves all three consumers (cold + both rank orders),
    # so the python key build runs exactly once.
    counted = blocks.withColumn(
        "block_n", F.count("*").over(Window.partitionBy("block_key"))
    ).where(F.col("block_n") >= 2)
    if cfg.hot_key_ceiling is not None:
        counted = counted.where(F.col("block_n") <= cfg.hot_key_ceiling)
    joined = counted.withColumn(
        "n_salts", F.ceil(F.col("block_n") / F.lit(cap)).cast("int")
    ).localCheckpoint(eager=False)
    cold = joined.where(F.col("n_salts") <= 1).select("doc_id", "block_key")
    # barrier so the token join runs once, not once per sort order
    hot = (
        joined.where(F.col("n_salts") >= 2)
        .join(tokens, "doc_id")
        .localCheckpoint(eager=False)
    )

    def ranged(sort_col: str, tag: str) -> DataFrame:
        rn = F.row_number().over(
            Window.partitionBy("block_key").orderBy(sort_col, "doc_id")
        )
        grp = F.floor((rn - F.lit(1)) / F.lit(cap)).cast("int")
        neighbor = F.least(F.col("_g") + 1, F.col("n_salts") - 1)
        return (
            hot.withColumn("_g", grp)
            .select(
                "doc_id",
                "block_key",
                F.explode(
                    F.array_distinct(F.array(F.col("_g"), neighbor))
                ).alias("_salt"),
            )
            .select(
                "doc_id",
                F.concat_ws(
                    "#",
                    "block_key",
                    F.concat(F.lit(tag), F.col("_salt").cast("string")),
                ).alias("block_key"),
            )
        )

    return cold.unionByName(ranged("sort_key", "F")).unionByName(
        ranged("sort_key2", "R")
    )


def candidate_pairs(
    blocks: DataFrame,
    cfg: BlockingConfig | None = None,
    *,
    tokens: DataFrame,
) -> DataFrame:
    """Self-join blocks on block_key, canonical order src < dst, dedup pairs
    that co-occur in several blocks. The shuffle key is block_key (bounded
    cardinality per key after salting); the dedup groupBy shuffles on the
    pair itself. ``blocks`` and ``tokens`` are the two tables
    :func:`blocking_plan` returns (see salt_blocks)."""
    # No barrier here (r6b): both join sides re-derive the salted rows from
    # salt_blocks' internal `joined` checkpoint — a cheap JVM filter/window/
    # union each — so materializing the full salted table bought nothing
    # (measured ~0.3 s slower at 1.15M salted rows; the expensive python
    # key build is behind the joined barrier either way, and the broadcast
    # exchange one join side builds is reused by ReuseExchange).
    salted = salt_blocks(blocks, cfg, tokens=tokens)
    a = salted.alias("a")
    b = salted.alias("b")
    return (
        a.join(b, "block_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
        )
        .distinct()
    )


def cross_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    cfg: BlockingConfig,
) -> DataFrame:
    """Distinct (src, dst) pairs, src from ``left`` and dst from ``right``:
    each side is blocked on its own and the key tables equi-joined, so no
    same-table pair is built and none is lost to a salt-group split.
    Hot-key cap (the cross-table analog of :func:`salt_blocks`): a key held
    by more than ``cfg.max_block_size`` right rows would fan out
    left_n x right_n rows and is dropped; every row carries many
    independent keys, so the recall loss is bounded."""
    left_keys = blocking_plan(left, left_id, left_text, cfg=cfg)[0].select(
        F.col("doc_id").alias("src"), "block_key"
    )
    # barrier: the right keys feed both the hot-key count and the join
    right_keys = (
        blocking_plan(right, right_id, right_text, cfg=cfg)[0]
        .select(F.col("doc_id").alias("dst"), "block_key")
        .localCheckpoint(eager=False)
    )
    hot = (
        right_keys.groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > cfg.max_block_size)
        .select("block_key")
    )
    return (
        left_keys.join(hot, "block_key", "left_anti")
        .join(right_keys, "block_key")
        .select("src", "dst")
        .distinct()
    )


def blocking_plan(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    url_col: str | None = None,
    cfg: BlockingConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(keys, tokens) for candidate generation. ``keys`` is the union of
    every configured key family — MinHash-LSH bands and sorted-neighborhood
    prefix/suffix keys always, normalized host keys when ``url_col`` is
    given, soundex keys when ``cfg.use_phonetic_keys`` — as narrow
    (doc_id, block_key) rows. ``tokens`` is the per-doc
    :func:`sort_token_table` over ``text_col`` that orders hot blocks of
    every family, so the salting count window never moves the ~170-byte
    tokens per key row (guide §8; see salt_blocks)."""
    cfg = cfg or BlockingConfig()
    keys = lsh_block_keys(docs, id_col, text_col, cfg).unionByName(
        sorted_neighborhood_keys(docs, id_col, text_col, cfg)
    )
    if url_col is not None:
        keys = keys.unionByName(host_keys(docs, id_col, url_col))
    if cfg.use_phonetic_keys:
        keys = keys.unionByName(
            phonetic_block_keys(docs, id_col, text_col, cfg.phonetic_key_words)
        )
    return keys, sort_token_table(docs, id_col, text_col)
