

def test_partial_ratio_semantics():
    """Canonical partial_ratio: a shorter string embedded verbatim in a
    longer one scores 1.0 even when the plain char ratio is low."""
    import pandas as pd

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        partial_ratio_series,
    )

    got = partial_ratio_series(
        pd.Series(["ivanov", "ivanov", "abc", ""]),
        pd.Series(["mr ivanov ivan petrovich esq", "ivanov", "xyz", ""]),
    ).tolist()
    assert got[0] == 1.0          # embedded substring
    assert got[1] == 1.0          # identical
    assert got[2] < 0.5           # unrelated
    assert got[3] == 1.0          # both empty


def test_similarity_blend_full_weights(spark):
    """4-measure blend reproduces the reference weights exactly:
    identical strings -> 1.0; an embedded-name pair scores strictly higher
    than the 3-measure renormalized blend (partial_ratio pulls it up)."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        similarity_blend,
        similarity_blend_full,
    )

    pairs = spark.createDataFrame(
        [("ivanov ivan", "ivanov ivan"), ("ivanov", "mr ivanov ivan petrovich")],
        "a string, b string",
    )
    full = similarity_blend_full(pairs, "a", "b").collect()
    three = similarity_blend(pairs, "a", "b").collect()
    assert abs(full[0]["sim_score"] - 1.0) < 1e-9
    assert full[1]["sim_score"] > three[1]["sim_score"]


def test_name_boost_cap(spark):
    """L8 name boost: ×1.2 for person-name candidates, capped at 1.0."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        similarity_blend_full,
    )

    pairs = spark.createDataFrame(
        [("ivanov ivan", "ivanov ivan", True),
         ("ivanov ivan", "ivanov ivan", False),
         ("ivanov", "petrov corp", True)],
        "a string, b string, is_name boolean",
    )
    rows = similarity_blend_full(
        pairs, "a", "b", name_boost_col=F.col("is_name")
    ).collect()
    assert abs(rows[0]["sim_score"] - 1.0) < 1e-9          # capped at 1.0
    assert abs(rows[1]["sim_score"] - 1.0) < 1e-9          # already 1.0
    assert rows[2]["sim_score"] < 1.0                      # boost ≠ free pass


def test_rapidfuzz_rerank_boosts(spark):
    """L9: fuzz>80 ⇒ ×1.2; fuzz>60 ⇒ ×1.1; the boosts reorder the hits."""
    from pyspark.sql import functions as F

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        partial_ratio_col,
        rapidfuzz_rerank_expr,
    )

    cands = spark.createDataFrame(
        [(1, "ivanov ivan petrovich", 0.50),   # near-exact vs query -> x1.2
         (2, "ivanov irina", 0.52),            # medium similarity -> x1.1
         (3, "completely unrelated words", 0.58)],  # no boost
        "doc_id int, text string, score double",
    )
    q = F.lit("ivanov ivan petrovich")
    rows = rapidfuzz_rerank_expr(
        cands, q, partial_ratio_col(q, F.col("text"))
    ).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert abs(by_id[1]["score"] - 0.60) < 1e-9
    assert by_id[1]["fuzz_score"] > 80
    assert abs(by_id[2]["score"] - 0.572) < 1e-9
    assert abs(by_id[3]["score"] - 0.58) < 1e-9
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: -r["score"])] == [1, 3, 2]


def test_token_set_subset_scores_full(spark):
    """fuzzywuzzy token_set semantics: a token-subset pair contributes a
    full 1.0 on the token_set measure (round-2 review: Jaccard gave 0.5)."""
    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        similarity_blend_full,
    )

    pairs = spark.createDataFrame(
        [("ivanov ivan", "ivanov ivan petrovich 1980")], "a string, b string"
    )
    score = similarity_blend_full(pairs, "a", "b").collect()[0]["sim_score"]
    # partial_ratio=1.0 (embedded) and token_set=1.0 (subset) -> the blend is
    # at least 0.25 + 0.2 even if the char measures contributed nothing
    assert score >= 0.45


def _pseudo_words(rng, n: int) -> list[str]:
    letters = list("abcdefghijklmnopqrstuvwxyz")
    return ["".join(rng.choice(letters, k)) for k in rng.integers(3, 12, n)]


def test_term_bloom_contract():
    """Spark-free pin on a seeded 20k pseudo-word dictionary: every member
    is found (the AC pruning that reads the filter relies on it), fewer
    than 1% of 100k non-members pass, and the size is the next power of two
    ≥ 10 bits per term, capped at 2^26 bits."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        BLOOM_MAX_BITS,
        TermBloom,
        bloom_add,
        bloom_bits,
    )

    rng = np.random.default_rng(20)
    terms = sorted(set(_pseudo_words(rng, 20_000)))
    m = bloom_bits(len(terms))
    assert m == 1 << (10 * len(terms) - 1).bit_length() == 262_144
    bits = np.zeros(m // 8, dtype=np.uint8)
    bloom_add(bits, terms, m)
    bloom = TermBloom(bits, m)
    assert all(t in bloom for t in terms)
    members = set(terms)
    others = [w for w in _pseudo_words(rng, 110_000) if w not in members][:100_000]
    assert len(others) == 100_000
    assert sum(w in bloom for w in others) < 1_000
    assert [bloom_bits(n) for n in (0, 1, 7, 1000)] == [64, 64, 128, 16_384]
    assert bloom_bits(6_710_886) == BLOOM_MAX_BITS == 1 << 26
    assert bloom_bits(50_000_000) == BLOOM_MAX_BITS


def test_term_bloom_built_on_workers_matches_driver(spark):
    """The filter ``dictionary_bloom`` builds on the workers, over a
    dictionary spread across partitions, has the same bits as the driver's
    ``bloom_add`` over the same terms: workers and the driver hash alike."""
    import numpy as np

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        bloom_add,
        dictionary_bloom,
    )
    from hybrid_sanctions_search_engine_spark.sources.tables import local_frame

    terms = sorted(set(_pseudo_words(np.random.default_rng(21), 5_000)))
    dictionary = local_frame(spark, [(t,) for t in terms], "term string").repartition(7)
    bloom = dictionary_bloom(dictionary, len(terms))
    want = np.zeros(bloom.m // 8, dtype=np.uint8)
    bloom_add(want, terms, bloom.m)
    assert np.array_equal(bloom.bits, want)
    assert all(t in bloom for t in terms)


def test_expansion_over_task_subsets_is_exact_until_the_cap_binds():
    """The in-job fuzzy stage's argument, Spark-free: each scoring task
    runs ``expand_terms`` over the terms it read, a subset of the
    dictionary.  For every query the full-dictionary expansion does not
    report as capped, each task's rows are the full expansion's rows for
    that task's terms, weights bit-equal, and the tasks together give
    all of them; over the union of the tasks' terms the driver gets the
    full-dictionary result back, capped queries included."""
    import random

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import expand_terms

    rng = random.Random(5)
    alpha = "abcdé"
    n_capped = 0
    for _ in range(200):
        words = sorted({
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(5, 120))
        })
        queries = [
            (qid, ["".join(rng.choice(alpha + "f") for _ in range(rng.randint(1, 4)))
                   for _ in range(rng.randint(1, 3))])
            for qid in range(4)
        ]
        cap = rng.choice([1, 2, 20])
        full, capped = expand_terms(queries, words, 1, cap)
        n_capped += bool(capped)
        tasks = [[] for _ in range(3)]
        for w in words:
            tasks[rng.randrange(3)].append(w)
        seen = set()
        merged: dict = {}
        for terms in tasks:
            local, _ = expand_terms(queries, terms, 1, cap)
            seen.update(terms)
            for (q, t), wt in local.items():
                if q not in capped:
                    assert full[(q, t)] == wt
                    merged[(q, t)] = wt
        assert merged == {k: v for k, v in full.items() if k[0] not in capped}
        assert expand_terms(queries, seen, 1, cap) == (full, capped)
    assert n_capped > 20  # the cap binds in a good share of the cases


def _pairs(seed: int, n: int) -> list[tuple[str, str]]:
    """Seeded (query, text) pairs: typos, substrings, equal strings, empty
    strings, upper case, Cyrillic and unrelated text."""
    import random

    rng = random.Random(seed)
    alphabets = ("abcdefghij klmno", "абвгдеёжзий клмн", "aбcдeф ghij", "ab ")
    out = []
    while len(out) < n:
        alpha = rng.choice(alphabets)
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 24))).strip()
        kind = rng.randrange(7)
        if kind == 0:  # typos
            chars = list(base)
            for _ in range(rng.randint(1, 3)):
                if chars:
                    chars[rng.randrange(len(chars))] = rng.choice(alpha)
            other = "".join(chars)
        elif kind == 1:  # a substring, inside more text
            lo = rng.randint(0, len(base))
            other = base[lo : rng.randint(lo, len(base))]
            base = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))) + base
        elif kind == 2:
            other = base
        elif kind == 3:
            other = ""
        elif kind == 4:
            other = base.upper()
        elif kind == 5:  # the query inside a longer, edited text
            other = (
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
                + base[: rng.randint(0, len(base))]
                + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
            )
        else:
            other = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 40)))
        out.append((base, other) if rng.random() < 0.5 else (other, base))
    return out


def _reference_fuzz_boost(query: str, text: str) -> float:
    """``rapidfuzz_rerank_expr``'s L9 factor with every ratio computed in
    full: ratio, ``partial_ratio`` and token-sort ratio, no shortcut."""
    import re

    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        levenshtein,
        partial_ratio,
    )

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    q, t = query.lower(), text.lower()
    qs, ts = " ".join(sorted(ws.split(q))), " ".join(sorted(ws.split(t)))
    fuzz = max(
        (1.0 - levenshtein(q, t) / max(len(q), len(t), 1)) * 100.0,
        partial_ratio(query, text) * 100.0,
        (1.0 - levenshtein(qs, ts) / max(len(qs), len(ts), 1)) * 100.0,
    )
    return 1.2 if fuzz > 80 else 1.1 if fuzz > 60 else 1.0


def test_fuzz_boost_class_equals_the_full_ratios():
    """``fuzz_boost`` computes only the class of fuzz (it skips windows of
    the partial ratio that cannot lift it, and stops at > 80): over 12k
    seeded pairs its factor equals the factor of the fully computed
    ratios, and ``_partial_lifts``' class equals ``partial_ratio``'s from
    either starting class."""
    from hybrid_sanctions_search_engine_spark.operators.fuzzy import (
        _partial_lifts,
        fuzz_boost,
        partial_ratio,
    )

    def cls(f):
        return 2 if f > 80 else 1 if f > 60 else 0

    pairs = _pairs(11, 12_000)
    seen = {1.0: 0, 1.1: 0, 1.2: 0}
    for query, text in pairs:
        want = _reference_fuzz_boost(query, text)
        assert fuzz_boost(query, text) == want, (query, text)
        seen[want] += 1
        full = partial_ratio(query, text) * 100.0
        for start in (0.0, 70.0):
            got = _partial_lifts(query.lower(), text.lower(), start)
            assert cls(got) == cls(max(start, full)), (query, text, start)
    # every class is exercised
    assert min(seen.values()) > 500, seen
