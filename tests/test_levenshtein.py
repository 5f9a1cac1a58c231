"""The batched numpy Levenshtein must equal Spark's JVM builtin exactly —
it replaces the builtin inside the pair scorer, and every score value
derives from its distances."""

import random

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.functions.simfns import levenshtein_batch


def _pairs():
    rng = random.Random(13)
    alphabet = "abcdef gh"
    pairs = [
        ("", ""),
        ("", "abc"),
        ("abc", ""),
        ("abc", "abc"),
        ("kitten", "sitting"),
        ("héllo wörld", "hello world"),
        ("日本語テキスト", "日本語のテキスト"),
        ("a" * 144, "a" * 143 + "b"),
        ("x" * 144, "y" * 144),
    ]
    for _ in range(300):
        la = rng.randint(0, 144)
        lb = rng.randint(0, 144)
        base = "".join(rng.choice(alphabet) for _ in range(max(la, lb)))
        x = base[:la]
        # half the pairs are perturbed copies (the scorer's real workload),
        # half unrelated
        if rng.random() < 0.5:
            y = list(base[:lb])
            for _ in range(rng.randint(0, 6)):
                if y:
                    y[rng.randrange(len(y))] = rng.choice(alphabet)
            y = "".join(y)
        else:
            y = "".join(rng.choice(alphabet) for _ in range(lb))
        pairs.append((x, y))
    return pairs


def test_levenshtein_batch_matches_spark(spark):
    import pandas as pd

    pairs = _pairs()
    df = spark.createDataFrame(pairs, "a string, b string")
    want = [r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()]
    got = levenshtein_batch(
        pd.Series([p[0] for p in pairs]), pd.Series([p[1] for p in pairs]),
        max_chars=144,
    )
    assert got.tolist() == want


def test_levenshtein_batch_small_chunks(spark):
    """Chunk boundaries must not affect values."""
    import pandas as pd

    pairs = _pairs()
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    full = levenshtein_batch(a, b, max_chars=144)
    small = levenshtein_batch(a, b, max_chars=144, chunk_rows=7)
    assert full.tolist() == small.tolist()


def test_myers_equals_row_dp():
    """The Myers bit-parallel kernel must equal the row-DP baseline on
    randomized pairs including NUL chars, unicode and full-length strings
    (word-boundary and carry paths)."""
    import random

    import pandas as pd

    from baselines.simfns_ref import levenshtein_batch_dp

    rng = random.Random(31)
    alpha = "ab cd\x00é日"
    pairs = [("", ""), ("\x00", ""), ("a" * 64, "a" * 63 + "b"),
             ("a" * 65, "a" * 64), ("x" * 128, "x" * 129 if False else "x" * 127)]
    for _ in range(500):
        la, lb = rng.randint(0, 144), rng.randint(0, 144)
        pairs.append((
            "".join(rng.choice(alpha) for _ in range(la)),
            "".join(rng.choice(alpha) for _ in range(lb)),
        ))
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    assert levenshtein_batch(a, b, 144).tolist() == levenshtein_batch_dp(
        a, b, 144
    ).tolist()


def test_myers_dtype_boundaries_and_prefix_shrink():
    """r6b kernel internals: the narrow compare dtype must switch exactly at
    the int8/int16/int32 code boundaries, and the length-sorted active-
    prefix shrink must be invariant to row order."""
    import pandas as pd

    from baselines.simfns_ref import levenshtein_batch_dp

    pairs = [
        (chr(126) * 10, chr(126) * 9 + "a"),      # int8 path
        (chr(127) * 10, chr(127) * 9 + "a"),      # forces int16
        (chr(32766) * 10, chr(32766) * 9 + "a"),  # int16 ceiling
        (chr(32767) * 10, chr(32767) * 9 + "a"),  # forces int32
        (chr(70000) * 10, chr(70000) * 9 + "a"),  # non-BMP, int32
        ("ab", chr(127) + "b"),                   # mixed ascii/non-ascii
    ]
    # mixed lengths in shuffled order exercise the sort + inverse scatter
    pairs += [("x" * k, "x" * (144 - k)) for k in (0, 1, 7, 64, 65, 128, 144)]
    a = pd.Series([p[0] for p in pairs])
    b = pd.Series([p[1] for p in pairs])
    got = levenshtein_batch(a, b, 144)
    want = levenshtein_batch_dp(a, b, 144)
    assert got.tolist() == want.tolist()
