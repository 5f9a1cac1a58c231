"""Scalar string operators P1/P3/P4/P6/P8/P10 (SURVEY.md §2.2) as pure Spark
Column expressions — JVM-side, whole-stage-codegen friendly, no Python in the
hot path.

Each operator has two renderers driven by ONE rule table:

- ``*_text(col)``  -> pyspark Column (what the engine runs);
- ``*_sql(expr)``  -> ANSI SQL string (what the DuckDB oracle runs).

Keeping both renderers next to the shared rule list is what guarantees the
driver's Spark-vs-DuckDB value-hash comparison stays green as rules evolve.

Semantics re-expressed from the reference:
- name normalization: reference resolver.py:130-182 (lower, '&'/'+' -> ' and ',
  strip parentheticals, keep text after DBA/FKA/AKA, word replacements,
  legal-suffix strip, punctuation strip, trailing-number strip, space collapse);
- address key: reference utils.py:99-127; address completeness score:
  reference utils.py:129-166; binning: reference resolver.py:1166-1169.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..config import DEFAULT_REPLACEMENTS, DEFAULT_SUFFIXES

# DBA/FKA/AKA extraction — keep only the text after the marker
# (reference resolver.py:158-162). Same regex works in Java regex and RE2.
_DBA_PATTERN = (
    r"(?:\s|^)(?:d[/ ]?b[/ ]?a|f[/ ]?k[/ ]?a|a[/ ]?k[/ ]?a)\s+(.*)"
)


def _replacement_rules(
    replacements: dict[str, str] | None = None,
    suffixes: tuple[str, ...] | None = None,
) -> list[tuple[str, str]]:
    """Ordered (pattern, replacement) rules shared by both renderers."""
    replacements = DEFAULT_REPLACEMENTS if replacements is None else replacements
    suffixes = DEFAULT_SUFFIXES if suffixes is None else suffixes
    rules: list[tuple[str, str]] = []
    for old, new in replacements.items():
        rules.append((r"\b" + re.escape(old) + r"\b", new))
    if suffixes:
        alt = "|".join(re.escape(s) for s in suffixes)
        rules.append((r"\b(" + alt + r")\b", ""))
    # Final cleanup (reference resolver.py:174-177): non-word chars -> space,
    # strip trailing digits, collapse whitespace. We use an explicit ASCII
    # class instead of \w so Spark (Java regex) and DuckDB (RE2) agree on
    # unicode classes.
    rules.append((r"[^a-z0-9_\s]", " "))
    rules.append((r"\s+\d+$", ""))
    rules.append((r"\s+", " "))
    return rules


# Characters kept verbatim by the `[^a-z0-9_\s]` cleanup rule. Java's
# default \s is exactly these six ASCII chars; everything else maps to a
# space via the C-speed str.translate table below.
_KEEP_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789_ \t\n\x0b\f\r"


class _CleanupTable(dict):
    """str.translate table: identity for [a-z0-9_\\s], space for the rest
    (including every codepoint above 127 — nothing outside the kept ASCII
    set survives the rule)."""

    def __init__(self) -> None:
        super().__init__({ord(c): c for c in _KEEP_CHARS})
        for i in range(128):
            self.setdefault(i, " ")

    def __missing__(self, key: int) -> str:
        return " "


_CLEANUP_TABLE = _CleanupTable()


def _fusable_word_rules(replacements: dict[str, str]) -> bool:
    """True when the per-word replacement passes can run as ONE
    alternation pass with a dict callback. Sequential passes equal the
    fused pass iff (a) every key is a single space-free token (so matches
    are whole \\b-delimited tokens and two distinct keys can never match at
    the same position), and (b) no replacement value token equals a LATER
    rule's key (so a rule's output can never be rewritten again)."""
    keys = list(replacements)
    for i, (old, new) in enumerate(replacements.items()):
        if not old or any(ch.isspace() for ch in old):
            return False
        later = set(keys[i + 1 :])
        if any(tok in later for tok in new.split()):
            return False
    return True


def normalize_entity_text(
    col: Column,
    replacements: dict[str, str] | None = None,
    suffixes: tuple[str, ...] | None = None,
) -> Column:
    """P1 — entity-name normalization, Arrow-batched.

    Same rule chain (and the same ``_replacement_rules`` table) as the
    chained-JVM ``normalize_entity_text_expr``
    (tests/baselines/normalize_jvm.py), executed in one Python pass per
    row instead of ~22 chained JVM ``regexp_replace`` scans — measured as
    ~93% of the pipeline's prepare stage (guide §1.2: fix the per-task
    work). Equality with the JVM chain is pinned corpus-wide by
    tests/test_normalize_fused.py. The semantic mapping, rule by rule:

    - patterns compile with ``re.ASCII``, making Python's \\b/\\s/\\d the
      same ASCII classes Java regex uses by default;
    - the 17 word rules fuse into ONE alternation with a dict callback
      when :func:`_fusable_word_rules` proves the sequential chain
      order-independent (keys are whole tokens, no value feeds a later
      rule) — arbitrary caller dicts that fail the proof run sequentially;
    - ``[^a-z0-9_\\s]`` -> space is a C-speed ``str.translate``;
    - literal ``&``/``+`` swaps are C-speed ``str.replace``;
    - the final trim strips 0x20 only, like Spark's ``trim``.

    Known residual divergence (documented, corpus-free): Java's ``$``
    also matches before a trailing ``\\r``/NEL line terminator where
    Python's matches only before ``\\n`` — reachable only by texts whose
    cleaned form ends in digits + bare carriage return, which neither the
    DuckDB oracle (RE2 ``$`` = absolute end) nor the Spark chain agree on
    today either.
    """
    word_rules = [
        (re.compile(r"\b" + re.escape(old) + r"\b", re.ASCII), new)
        for old, new in (
            DEFAULT_REPLACEMENTS if replacements is None else replacements
        ).items()
    ]
    reps = DEFAULT_REPLACEMENTS if replacements is None else replacements
    fused = _fusable_word_rules(reps)
    if fused:
        word_alt = (
            re.compile(
                r"\b(?:" + "|".join(re.escape(k) for k in reps) + r")\b",
                re.ASCII,
            )
            if reps
            else None
        )
    sfx = DEFAULT_SUFFIXES if suffixes is None else suffixes
    suffix_re = (
        re.compile(
            r"\b(" + "|".join(re.escape(s) for s in sfx) + r")\b", re.ASCII
        )
        if sfx
        else None
    )
    paren_re = re.compile(r"\([^)]*\)", re.ASCII)
    dba_re = re.compile(_DBA_PATTERN, re.ASCII)
    trail_num_re = re.compile(r"\s+\d+$", re.ASCII)
    ws_re = re.compile(r"\s+", re.ASCII)

    def norm_one(t) -> str:
        s = ("" if t is None else str(t)).lower()
        if "&" in s:
            s = s.replace("&", " and ")
        if "+" in s:
            s = s.replace("+", " and ")
        if "(" in s:
            s = paren_re.sub("", s)
        m = dba_re.search(s)
        if m and m.group(1):
            s = m.group(1)
        if fused:
            if word_alt is not None:
                s = word_alt.sub(lambda mm: reps[mm.group(0)], s)
        else:
            for rx, new in word_rules:
                s = rx.sub(new, s)
        if suffix_re is not None:
            s = suffix_re.sub("", s)
        s = s.translate(_CLEANUP_TABLE)
        s = trail_num_re.sub("", s)
        s = ws_re.sub(" ", s)
        return s.strip(" ")

    @pandas_udf(StringType())
    def norm(series: pd.Series) -> pd.Series:
        return series.map(norm_one, na_action=None).astype(object)

    return norm(col)


def normalize_entity_text_sql(
    expr: str,
    replacements: dict[str, str] | None = None,
    suffixes: tuple[str, ...] | None = None,
) -> str:
    """P1 rendered as DuckDB SQL (regexp_replace needs the 'g' flag there)."""
    s = f"lower(coalesce({expr}, ''))"
    s = f"regexp_replace({s}, '&', ' and ', 'g')"
    s = f"regexp_replace({s}, '\\+', ' and ', 'g')"
    s = f"regexp_replace({s}, '\\([^)]*\\)', '', 'g')"
    dba = _DBA_PATTERN.replace("'", "''")
    s = (
        f"(CASE WHEN coalesce(regexp_extract({s}, '{dba}', 1), '') <> '' "
        f"THEN regexp_extract({s}, '{dba}', 1) ELSE {s} END)"
    )
    for pat, rep in _replacement_rules(replacements, suffixes):
        # DuckDB standard single-quoted literals pass backslashes through
        # verbatim, so regex escapes need no doubling — only quote doubling.
        pat_sql = pat.replace("'", "''")
        s = f"regexp_replace({s}, '{pat_sql}', '{rep}', 'g')"
    return f"trim({s})"


# --- Address key / completeness score (P3, P4) -----------------------------

_ADDR_COLS = ("addr_street_number", "addr_street_name", "addr_city",
              "addr_state", "addr_zip")


def address_key(*cols: Column) -> Column:
    """P3 — normalized address key: concat components, lower, collapse spaces
    (reference utils.py:99-127). Accepts the 5 component columns in order."""
    joined = F.concat_ws(" ", *[F.coalesce(c, F.lit("")) for c in cols])
    return F.trim(F.regexp_replace(F.lower(joined), r"\s+", " "))


def address_key_sql(*exprs: str) -> str:
    joined = " || ' ' || ".join(f"coalesce({e}, '')" for e in exprs)
    return f"trim(regexp_replace(lower({joined}), '\\s+', ' ', 'g'))"


def address_score(
    street_number: Column, street_name: Column, city: Column,
    state: Column, zip_code: Column,
) -> Column:
    """P4 — weighted completeness: street name x2; number/city x1; 2-char
    state x1; 5-digit zip x1 (reference utils.py:129-166)."""
    nz = lambda c: (c.isNotNull() & (c != "")).cast("int")  # noqa: E731
    return (
        nz(street_name) * 2
        + nz(street_number)
        + nz(city)
        + (state.isNotNull() & (F.length(state) == 2)).cast("int")
        + (
            zip_code.isNotNull()
            & (F.length(zip_code) == 5)
            & zip_code.rlike(r"^[0-9]+$")
        ).cast("int")
    ).cast("int")


def address_score_sql(
    street_number: str, street_name: str, city: str, state: str, zip_code: str,
) -> str:
    nz = lambda e: f"(CASE WHEN {e} IS NOT NULL AND {e} <> '' THEN 1 ELSE 0 END)"  # noqa: E731
    return (
        f"CAST({nz(street_name)} * 2 + {nz(street_number)} + {nz(city)}"
        f" + (CASE WHEN {state} IS NOT NULL AND length({state}) = 2 THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {zip_code} IS NOT NULL AND length({zip_code}) = 5"
        f"      AND regexp_matches({zip_code}, '^[0-9]+$') THEN 1 ELSE 0 END)"
        f" AS INTEGER)"
    )


def confidence_bin(score: Column) -> Column:
    """P8 — bin confidence into Low/Medium/High/VeryHigh with the reference's
    cut points [0, .5, .7, .85, 1] (reference resolver.py:1166-1169)."""
    return (
        F.when(score <= 0.5, "Low")
        .when(score <= 0.7, "Medium")
        .when(score <= 0.85, "High")
        .otherwise("VeryHigh")
    )
