"""Configuration tree for the Spark-native resolver.

Mirrors the *semantics* of the reference config (``ResolverConfig``,
reference config.py:240-259) but carries Spark-scale knobs (shuffle
partitions, block caps, salting) instead of GPU memory knobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


# Word replacements applied during name normalization.
# Semantics from reference config.py:14-20 (NormalizationConfig.replacements).
DEFAULT_REPLACEMENTS: dict[str, str] = {
    "traiier": "trailer", "rpr": "repair", "svcs": "service", "svc": "service",
    "ctr": "center", "ctrs": "centers", "cntr": "center", "trk": "truck",
    "auto": "automotive", "auth": "authorized", "dist": "distribution",
    "mfg": "manufacturing", "mfr": "manufacturing", "equip": "equipment",
    "natl": "national", "mgmt": "management", "assoc": "associates",
}

# Legal suffixes stripped during normalization.
# Semantics from reference config.py:21-27 (suffixes_to_remove).
DEFAULT_SUFFIXES: tuple[str, ...] = (
    "inc", "incorporated", "llc", "ll", "lp", "llp", "ltd", "limited",
    "corp", "corporation", "co", "company", "plc", "pllc",
    "pa", "pc", "sc", "dba", "fka", "aka", "etal", "et al",
    "international", "intl", "usa", "america", "us",
    "group", "grp", "holdings", "ent",
)


@dataclass
class BlockingConfig:
    """Multi-key blocking: MinHash-LSH over char shingles + sorted-neighborhood.

    Replaces the reference's kNN-over-TF-IDF similar-pair search
    (utils.py:313-359) with equi-joinable blocking keys, per the north rule.
    """

    shingle_size: int = 4                 # char n-gram width for MinHash
    num_perm: int = 64                    # MinHash permutations
    # MinHash over the 1/m deterministic subsample of shingles (hash ≡ 0
    # mod m): same Jaccard estimator over sampled sets, m x cheaper
    # signatures on long documents.
    minhash_shingle_mod: int = 4
    bands: int = 8                        # LSH bands (rows = num_perm // bands)
    # measured at sf0.001 (recall evidence: tests/test_pipeline.py
    # blocking-recall bound and tests/test_salting.py): 8 bands x 8 rows
    # gives 99.9% same-entity recall (with SN+host keys) at ~2.4x the
    # candidate precision of 16x4 — fewer garbage pairs is the cost lever.
    seed: int = 42                        # deterministic hash seed
    sorted_neighborhood_prefix: int = 8   # chars of normalized text for SN key
    max_block_size: int = 128             # blocks above this get salted/capped
    # Document-frequency ceiling for a single blocking key: keys shared by
    # more than this many docs are DROPPED before salting (they carry no
    # discriminative signal — an empty-text LSH band, a boilerplate footer
    # every page shares). Without the ceiling, the per-block window sort in
    # salt_blocks serializes a degenerate key's members into ONE task at
    # web scale. Recall loss is bounded: every doc carries bands + SN +
    # host (+ phonetic) independent keys, and a key this hot pairs a doc
    # with ~everything, i.e. the pairs it generates are overwhelmingly
    # garbage anyway. Same rule assign_new_documents applies cross-table.
    # None disables the ceiling.
    hot_key_ceiling: int | None = 16384
    # V2 phonetic key family (reference gives phonetics 15% of the stream
    # energy, config.py:117-124): soundex-per-word keys catch misspellings
    # the char-shingle families miss. Off for long web documents (soundex of
    # prose is noise), on for the short-entity-name path.
    use_phonetic_keys: bool = False
    phonetic_key_words: int = 2


@dataclass
class ScoringConfig:
    """Pairwise scoring weights and thresholds.

    The reference scores similarity through a 3-stream embedding
    (semantic .45 / tfidf .40 / phonetic .15 — config.py:117-124) plus
    HDBSCAN/SNN clustering; the north rule replaces this with explicit
    TF-IDF-cosine + Jaro-Winkler + Levenshtein pair scores. Stream energy
    proportions become score weights (SURVEY.md §2.7 V6).
    """

    # Weights fitted by strict-margin grid search over 137k labeled candidate
    # pairs (sf0.01 amplified fixture): Levenshtein over the positional
    # content sketch is the most discriminative signal for near-dup pages
    # (perturbations preserve positional structure; unrelated same-vocabulary
    # pages don't), shingle cosine second; JW kept at a small weight (its
    # match-window makes it weak on long sketches).
    tfidf_weight: float = 0.30
    jaro_winkler_weight: float = 0.10
    levenshtein_weight: float = 0.60
    # V2 phonetic term (Metaphone token-set Jaccard). The reference gives
    # phonetics 15% of the stream energy (config.py:117-124) for short
    # entity names; Metaphone of long web prose is noise, so the corpus
    # scorer keeps it off and the entity path turns it on at 0.15.
    phonetic_weight: float = 0.0
    # Mid-gap of the measured score distributions on the labeled fixtures
    # (strict margin 0.21: false-pair max 0.44, true-pair min 0.65 on the
    # amplified sf0.01 corpus): edge-level P=R=1.0 with margin on both sides.
    edge_threshold: float = 0.55
    # Corpus-scorer shingle width. The reference vectorizes names with char
    # (3,5) n-grams (config.py:57-64) — kept exactly in the canonical-
    # election formula (operators/canonical.py) — but for the corpus-scale
    # pair scorer a single width-4 shingle gives the same separation on the
    # fixture at 1/3 the exploded-token volume (measured 83s -> 26s).
    tfidf_ngram_lo: int = 4
    tfidf_ngram_hi: int = 4
    tfidf_min_df: int = 1
    # Per-doc vector pruning for the pair cosine. The JVM fold dot probes
    # O(top_k^2) map entries per pair, and vectors ride two pair-table
    # shuffles, so top_k is THE pair-scoring cost knob. Measured on the
    # labeled amplify=6 corpus (129k docs, 300k true pairs): k=64/48/32
    # produce IDENTICAL decisions (P=1.0, R=0.999757 — the 73 misses are
    # blocking, not scoring). 48 keeps ~2x margin over the measured-
    # equivalent 32 for wilder real-web vocabularies.
    tfidf_top_k: int = 48
    # Pairs below this shingle-cosine skip the quadratic JW/Levenshtein
    # kernels entirely (two-phase scoring; reference's prefilter pattern,
    # utils.py:602-621). Measured on the amplified sf0.1 corpus (129k docs,
    # 4.8M candidates, 300k labeled true pairs): true-pair cosine p0.1% =
    # 0.552, false-pair p50 = 0.215 — 0.35 sits in the gap, keeps every
    # true pair, and cuts the quadratic-kernel survivors by 73%
    # (2.82M -> 0.74M). The JW stage is memory-bandwidth-bound, so survivor
    # count is the scaling lever for the whole scoring stage.
    cosine_prefilter: float = 0.35
    # Decision-band Jaro-Winkler floor: JW carries only
    # `jaro_winkler_weight / total` of the score, so a pair whose
    # tfidf+lev partial score cannot reach the floor even with a perfect
    # JW has a true score provably below it. score_pairs drops such pairs
    # without running the kernel and returns only exact rows, so every
    # consumer that thresholds at or above the floor (edge, attach tau,
    # merge centroid prefilter, assign winner) sees the same rows as with
    # no floor. The default matches the lowest engine threshold (edge
    # 0.55); resolve_documents and assign_new_documents lower it to any
    # threshold they compare scores against that sits below it
    # (with_band_floor). 0.0 = every cosine survivor gets JW — the entity
    # path uses this, where JW carries 35% weight.
    jw_decision_band: float = 0.55
    # JW/Levenshtein run over a bounded "content sketch" (first+middle+last
    # sketch_chars of the normalized text) rather than a prefix truncation:
    # web corpora contain documents sharing long identical prefixes, which a
    # prefix truncation would collapse into false edit-distance-0 pairs
    # (measured on the sf0.001 fixture: 13 cross-entity prefix collisions at
    # 256 chars). The sketch keeps per-pair cost O(sketch²) at any doc size.
    sketch_chars: int = 48

    def __post_init__(self):
        # legacy band forms (saved models, older callers): [lo, hi] keeps
        # its floor lo; None meant "always compute JW", i.e. floor 0.0 —
        # left as None it would compare as null and drop every pair
        band = self.jw_decision_band
        if band is None:
            self.jw_decision_band = 0.0
        elif isinstance(band, (list, tuple)):
            self.jw_decision_band = band[0]


@dataclass
class ClusteringConfig:
    """Connected components + hygiene thresholds.

    Merge/validation thresholds carried from the reference
    (config.py:150-169, 202-218).
    """

    cc_max_iterations: int = 50
    # hygiene stages (reference stage order, resolver.py:1573-1620)
    consolidate_identical: bool = True    # C6
    split_by_lang: bool = True            # C7 (state-split analog)
    # C5 — ON by default, matching the reference's training path, which
    # always runs merge + noise rescue (resolver.py:1593-1620). Measured on
    # the labeled sf0.01 fixture: F1 1.0 -> 1.0 (no false merges), wall
    # +7% (one blocking+scoring pass over cluster REPRESENTATIVES — a
    # #clusters-sized input, cheap relative to the corpus pass).
    merge_similar: bool = True
    validate_membership: bool = True      # C3 (entity path)
    enrich_addresses: bool = True         # C7 enrichment (entity path)
    consolidate_addresses: bool = True    # C1 (entity path)
    consolidate_names: bool = True        # C2 (entity path)
    # G8 — ON by default (reference training always rescues noise,
    # resolver.py:1593-1620). Reuses the stage-3 scores — measured wall
    # delta 0% and F1 1.0 -> 1.0 on the labeled sf0.01 fixture.
    attach_noise: bool = True
    # G5+G10: second labeling from the mutual-rank kNN graph (the
    # reference's SNN recall path, utils.py:400-469 + resolver.py:497),
    # ensembled with the CC labeling by overlap/purity arbitration
    # (resolver.py:2157-2278). Off by default: the recall pass costs one
    # extra CC over sub-threshold mutual edges.
    ensemble_mutual_rank: bool = False
    mutual_rank_k: int = 15               # reference n_neighbors (config.py:137)
    # recall-path edges keep reciprocal pairs down to this score (below the
    # precise edge_threshold; reciprocity supplies the precision)
    ensemble_recall_threshold: float = 0.45
    # validation thresholds (reference config.py:201-207)
    name_match_threshold: float = 0.89    # name_fuzz_ratio / 100
    addr_match_threshold: float = 0.87    # address_fuzz_ratio / 100
    # cross-border merges allowed for these (state, state) pairs only;
    # empty = identical states enforced (reference config.py:204-207)
    allow_neighboring_states: tuple = ()
    # G9 sampled-member merge (reference config.py:150-169)
    merge_median_threshold: float = 0.84
    merge_max_threshold: float = 0.90
    merge_sample_size: int = 20
    centroid_similarity_threshold: float = 0.75
    # G8 noise attachment (reference config.py:135-148)
    attachment_similarity_threshold: float = 0.82
    attachment_min_matching: int = 2
    attachment_ratio_threshold: float = 1.5


@dataclass
class ConfidenceConfig:
    """Confidence-score weights — exactly the reference's
    (config.py:228-235: cluster_probability .25 / name_similarity .20 /
    address_confidence .25 / cohesion_score .15 / cluster_size_factor .15)."""

    avg_cluster_prob_weight: float = 0.25
    name_similarity_weight: float = 0.20
    address_confidence_weight: float = 0.25
    cohesion_weight: float = 0.15
    cluster_size_weight: float = 0.15
    review_confidence_threshold: float = 0.75
    review_change_threshold: float = 0.70


@dataclass
class RuntimeConfig:
    """Run-time placement. Spark sizing (cores, shuffle partitions, driver
    memory) comes from ``session.get_spark``, not from the model config."""

    checkpoint_dir: str | None = None     # parquet stage tables + lineage


@dataclass
class ResolverConfig:
    replacements: dict[str, str] = field(default_factory=lambda: dict(DEFAULT_REPLACEMENTS))
    suffixes_to_remove: tuple[str, ...] = DEFAULT_SUFFIXES
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    clustering: ClusteringConfig = field(default_factory=ClusteringConfig)
    confidence: ConfidenceConfig = field(default_factory=ConfidenceConfig)
    runtime: RuntimeConfig = field(default_factory=RuntimeConfig)


def with_band_floor(cfg: ResolverConfig, *thresholds: float) -> ResolverConfig:
    """``cfg`` with ``scoring.jw_decision_band`` lowered to the lowest of
    ``thresholds`` when one sits below it. score_pairs drops every pair
    whose score provably falls below the floor, so a consumer comparing
    scores against a lower threshold would silently lose the pairs between
    the two. Returns ``cfg`` itself when no threshold is below the floor."""
    floor = min(cfg.scoring.jw_decision_band, *thresholds)
    if floor == cfg.scoring.jw_decision_band:
        return cfg
    return replace(cfg, scoring=replace(cfg.scoring, jw_decision_band=floor))


# --- JSON round-trip (S3/S4) ------------------------------------------------
# The reference pickles its full config with the model (resolver.py:
# 1387-1437); ours serializes the dataclass tree to JSON so a load_model-ed
# resolver transforms with the thresholds that produced its canonical map,
# not defaults. No pickles anywhere.

def config_to_dict(cfg: ResolverConfig) -> dict:
    import dataclasses as _dc

    return _dc.asdict(cfg)


def config_from_dict(d: dict) -> ResolverConfig:
    """Rebuild a ResolverConfig from ``config_to_dict`` output (JSON-safe:
    lists are coerced back to the tuple-typed fields). Unknown keys are
    ignored so configs saved by newer versions still load."""
    import dataclasses as _dc

    def sub(cls, dd):
        names = {f.name for f in _dc.fields(cls)}
        return cls(**{k: v for k, v in (dd or {}).items() if k in names})

    clustering = sub(ClusteringConfig, d.get("clustering"))
    clustering.allow_neighboring_states = tuple(
        tuple(p) for p in (clustering.allow_neighboring_states or ())
    )
    return ResolverConfig(
        replacements=dict(d.get("replacements", DEFAULT_REPLACEMENTS)),
        suffixes_to_remove=tuple(d.get("suffixes_to_remove", DEFAULT_SUFFIXES)),
        blocking=sub(BlockingConfig, d.get("blocking")),
        scoring=sub(ScoringConfig, d.get("scoring")),
        clustering=clustering,
        confidence=sub(ConfidenceConfig, d.get("confidence")),
        runtime=sub(RuntimeConfig, d.get("runtime")),
    )
