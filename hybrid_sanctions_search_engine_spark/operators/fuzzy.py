"""Fuzzy candidate gating + rescoring — the reference's escalation stage 2.

Re-expresses (from scratch, as JVM Column plans) the reference's fuzzy
machinery:
  * candidate generation = ES ``fuzzy`` query, fuzziness=1, prefix_length=2,
    max_expansions=20 (``hybrid_search_service.py:2287-2329``) → here a
    prefix-bucketed dictionary join + ``F.levenshtein`` filter (no cross
    join: candidates must share the 2-char prefix, exactly like ES's
    prefix_length pruning — at web scale this join hits one dictionary
    bucket per query term).  The serving ladder expands through ONE
    function, ``expand_terms``.  Below its in-RAM dictionary cap the driver
    runs it over the collected dictionary.  Above the cap there is no
    separate candidate job: the scoring job reads the cached postings that
    pass ``FuzzyQueries.candidate_filter()`` (a batch-stat-prunable
    ``startswith`` per prefix bucket AND the Levenshtein test), and each
    task expands the queries over the terms it read, scores them, and
    reports them.  Every dictionary term is a term of those caches, so the
    union of the reports is a superset of every query term's candidates;
    while no query term has more candidates than ``max_expansions`` no cap
    binds anywhere and the job's tops are exact, and otherwise the driver
    caps the union with the same function and re-scores only those queries.
    AC terms absent from the dictionary are pruned with a Bloom filter of
    it (``dictionary_bloom``).
  * verification + score normalization (``hybrid_search_service.py:2354-2409``):
    edit-distance cap (≤3 below 15 chars, len/5 above), score =
    0.2·es_norm + 0.5·edit_ratio + 0.3·word_jaccard, ×0.7 penalty when
    edit_ratio < 0.6, drop below 0.4/0.5 threshold.
  * anchor extraction (``hybrid_search_service.py:1032-1089``): the DoB
    and ID anchors of a query (``extract_anchors``).
  * the vector leg's L9 fuzz rerank (``hybrid_search_service.py:990-1030``)
    and L10 anchor multiplier as one Python kernel,
    ``rerank_row``, which each vector probe task runs over its own
    task-local top-k rows (``similarity.probe_task``): the doc text
    never leaves the task.  ``rapidfuzz_rerank_expr`` stays as its JVM
    reference, which the tests compare it against row for row.
  * tier boosts (``elasticsearch_adapters.py:447-466``).

Everything else is built-in Spark functions — fully codegen'd — except the
Arrow Python stages: the rerank kernel, the in-task fuzzy expansion, the
partial_ratio UDF and the Bloom filter build.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import sql_literal

# ---------------------------------------------------------------------------
# L6: fuzzy candidate generation (prefix-bucketed Levenshtein join)
# ---------------------------------------------------------------------------

def fuzzy_term_candidates(
    dictionary: DataFrame,
    query_term: str,
    max_edits: int = 1,
    prefix_len: int = 2,
    max_expansions: int = 20,
) -> DataFrame:
    """Dictionary terms within ``max_edits`` of ``query_term`` sharing its
    ``prefix_len``-char prefix; capped at ``max_expansions`` by ascending
    edit distance (ES tie-break: then by term).

    ``dictionary`` needs a ``term`` column (e.g. ``term_doc_freq`` output).
    """
    q = query_term.lower()
    prefix = q[:prefix_len]
    return (
        dictionary.where(F.col("term").startswith(prefix))
        .withColumn("edit_dist", F.levenshtein(F.col("term"), F.lit(q)))
        .where(F.col("edit_dist") <= max_edits)
        .orderBy(F.asc("edit_dist"), F.asc("term"))
        .limit(max_expansions)
    )


def expand_terms(
    queries: Iterable[tuple[int, Iterable[str]]],
    dict_terms: Iterable[str],
    max_edits: int = 1,
    max_expansions: int = 20,
) -> tuple[dict[tuple[int, str], float], set[int]]:
    """The fuzzy expansion of (query_id, query terms) pairs over
    ``dict_terms`` → ({(query_id, term): term_weight}, the query ids whose
    expansion cap bound).  Per distinct query term ``q``: the terms within
    ``max_edits`` in its prefix bucket (``q[:2]``, or ``q[:1]`` for a
    1-char term — ``fuzzy_term_candidates``' buckets), ranked by (edit
    asc, term asc), capped at ``max_expansions`` and weighted by edit
    ratio ``1 − d / max(len(term), len(q))``; a term reached from several
    query terms keeps its best weight.  A query id is in the second set
    when one of its terms had more candidates than the cap.

    ``dict_terms`` is the whole dictionary or any superset of the
    candidates (duplicates allowed) — the result is the same.  The one
    expansion: the driver runs it over the in-RAM dictionary, a scoring
    task over the candidate terms it reads (``FuzzyQueries``), and the
    driver again over the union of those reports.  Pinned against
    ``fuzzy_term_candidates`` by tests/test_hybrid_batch.py."""
    queries = [(qid, list(dict.fromkeys(ts))) for qid, ts in queries]
    # q[:min(len(q), 2)] is q[:2]: a 1-char term's bucket key is the term
    bucket: dict[str, set[str]] = {q[:2]: set() for _, ts in queries for q in ts}
    for t in dict_terms:
        if t[:2] in bucket:
            bucket[t[:2]].add(t)
        if len(t) > 1 and t[:1] in bucket:
            bucket[t[:1]].add(t)
    weights: dict[tuple[int, str], float] = {}
    bound: set[int] = set()
    for qid, ts in queries:
        for q in ts:
            scored = sorted(
                (d, t)
                for t in bucket[q[:2]]
                if abs(len(t) - len(q)) <= max_edits
                and (d := levenshtein(t, q)) <= max_edits
            )
            if len(scored) > max_expansions:
                bound.add(qid)
            for d, t in scored[:max_expansions]:
                w = 1.0 - d / max(len(t), len(q))
                if weights.get((qid, t), -1.0) < w:
                    weights[(qid, t)] = w
    return weights, bound


@dataclass(frozen=True)
class FuzzyQueries:
    """The fuzzy stage of a query set — (query_id, distinct query terms)
    pairs under ``max_edits`` / ``max_expansions`` — for a scoring job to
    expand inside its own tasks when the dictionary does not fit the
    driver.  The job reads the cached postings that pass
    ``candidate_filter()``; each task runs ``expand`` over the terms it
    read, scores the expanded terms at their weights, and reports those
    terms.  Every candidate of every query term is a dictionary term, so
    it reaches some task; the union of the reports is the candidate
    superset the driver caps with the same ``expand``."""

    queries: tuple[tuple[int, tuple[str, ...]], ...]
    max_edits: int = 1
    max_expansions: int = 20

    def expand(
        self, terms: Iterable[str]
    ) -> tuple[dict[tuple[int, str], float], set[int]]:
        """``expand_terms`` of these queries over ``terms``."""
        return expand_terms(self.queries, terms, self.max_edits, self.max_expansions)

    def candidate_filter(self) -> str:
        """The predicate text of the candidate rows: a prefix test per
        query bucket — ``startswith``, which the term-sorted caches'
        per-batch min/max stats prune on — ANDed with ``exists(prefix_map[
        substring(term, 1, plen)], q -> levenshtein(term, q) <= e)``, one
        literal prefix → query-terms map per prefix length (1-char terms
        keep their ``q[:1]`` bucket).  A map lookup and a few Levenshtein
        calls per surviving row, whatever the number of query terms.  One
        string (literals in ``sources.tables.sql_literal``'s form), so
        building it costs the driver no py4j round trip."""
        by_len: dict[int, dict[str, set[str]]] = {}
        for _, ts in self.queries:
            for q in ts:
                by_len.setdefault(len(q[:2]), {}).setdefault(q[:2], set()).add(q)
        prefixes = sorted(p for buckets in by_len.values() for p in buckets)
        in_bucket = " OR ".join(
            f"startswith(term, {sql_literal(p)})" for p in prefixes
        )
        hits = []
        for plen, buckets in sorted(by_len.items()):
            prefix_map = ", ".join(
                f"{sql_literal(pfx)}, array({', '.join(map(sql_literal, sorted(qs)))})"
                for pfx, qs in sorted(buckets.items())
            )
            hits.append(
                f"exists(map({prefix_map})[substring(term, 1, {plen})], "
                f"q -> levenshtein(term, q) <= {int(self.max_edits)})"
            )
        return f"({in_bucket}) AND ({' OR '.join(hits)})"


# ---------------------------------------------------------------------------
# Dictionary Bloom filter: AC term pruning above the in-RAM dictionary cap
# ---------------------------------------------------------------------------

BLOOM_HASHES = 7
BLOOM_MAX_BITS = 1 << 26  # 8 MiB
# hash_array keys: fixed, so every worker and the driver hash alike
_BLOOM_KEYS = ("fulltext-bloom-1", "fulltext-bloom-2")


def bloom_bits(n_terms: int) -> int:
    """Filter size in bits: the next power of two ≥ 10 bits per term,
    capped at ``BLOOM_MAX_BITS`` (past ~6.7M terms the false-positive rate
    grows; a member is still never missed)."""
    return min(BLOOM_MAX_BITS, 1 << max(6, (10 * n_terms - 1).bit_length()))


def bloom_positions(terms, m: int) -> "np.ndarray":
    """(len(terms), BLOOM_HASHES) bit positions in an ``m``-bit filter
    (``m`` a power of two), by double hashing ``h1 + i·h2`` of two keyed
    ``pd.util.hash_array`` values.  ``h2`` is forced odd, so a term's
    positions are distinct.  Workers and the driver must share this
    function: a filter built with one hash and read with another has false
    negatives."""
    import numpy as np
    import pandas as pd

    vals = np.asarray(terms, dtype=object)
    h1, h2 = (
        pd.util.hash_array(vals, hash_key=key, categorize=False)
        for key in _BLOOM_KEYS
    )
    i = np.arange(BLOOM_HASHES, dtype=np.uint64)
    return (h1[:, None] + i * (h2 | np.uint64(1))[:, None]) & np.uint64(m - 1)


def bloom_add(bits: "np.ndarray", terms, m: int) -> None:
    """Set ``terms``' positions in the packed (little-endian bit order)
    uint8 filter ``bits`` in place."""
    import numpy as np

    pos = bloom_positions(terms, m).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


class TermBloom:
    """Membership filter over a term dictionary: ``t in bloom`` is True for
    every member and, for a non-member, True with a small probability
    (< 1% at 10 bits per term).  Serves AC term pruning, where a false
    positive only lets a job run that finds nothing."""

    __slots__ = ("bits", "m")

    def __init__(self, bits: "np.ndarray", m: int):
        self.bits = bits
        self.m = m

    def __contains__(self, term: str) -> bool:
        pos = bloom_positions([term], self.m)[0]
        return bool(((self.bits[pos >> 3] >> (pos & 7)) & 1).all())


def dictionary_bloom(dictionary: DataFrame, n_terms: int) -> TermBloom:
    """``TermBloom`` of ``dictionary``'s ``term`` column (``n_terms`` rows)
    in one ``mapInPandas`` job: each task sets its terms' bits, and the
    driver ORs the ≤ ``defaultParallelism`` task filters."""
    import numpy as np
    import pandas as pd

    m = bloom_bits(n_terms)

    def build(batches):
        bits = np.zeros(m // 8, dtype=np.uint8)
        for pdf in batches:
            bloom_add(bits, pdf["term"].to_numpy(dtype=object), m)
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    par = dictionary.sparkSession.sparkContext.defaultParallelism
    bits = np.zeros(m // 8, dtype=np.uint8)
    for r in (
        dictionary.select("term").coalesce(par)
        .mapInPandas(build, "bits binary").collect()
    ):
        bits |= np.frombuffer(r["bits"], dtype=np.uint8)
    return TermBloom(bits, m)


# ---------------------------------------------------------------------------
# L7: edit-distance verification + conservative score normalization
# ---------------------------------------------------------------------------

def fuzzy_rescore(
    candidates: DataFrame,
    query_text: str,
    text_col: str = "text",
    raw_score_col: str = "score",
) -> DataFrame:
    """Apply the reference's client-side fuzzy verification to candidate rows.

    Adds ``edit_dist, edit_ratio, word_sim, fuzzy_score`` and filters exactly
    like the reference: edit cap, 0.2/0.5/0.3 blend, ×0.7 low-ratio penalty,
    0.4/0.5 minimum threshold.
    """
    q = query_text.lower()
    max_edits = 3 if len(q) < 15 else max(3, len(q) // 5)
    qlen = F.lit(len(q))
    text_lower = F.lower(F.col(text_col))

    q_words = F.array_distinct(F.split(F.lit(q), r"\s+"))
    c_words = F.array_distinct(F.split(text_lower, r"\s+"))
    inter = F.size(F.array_intersect(q_words, c_words))
    union = F.size(F.array_union(q_words, c_words))

    out = (
        candidates.withColumn("edit_dist", F.levenshtein(text_lower, F.lit(q)))
        .withColumn(
            "edit_ratio",
            F.when(
                F.greatest(qlen, F.length(text_lower)) > 0,
                1.0 - F.col("edit_dist") / F.greatest(qlen, F.length(text_lower)),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "word_sim",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
        )
        .where(F.col("edit_dist") <= max_edits)
        .withColumn(
            "es_norm", F.least(F.col(raw_score_col) / 50.0, F.lit(1.0))
        )
        .withColumn(
            "fuzzy_score",
            (
                F.col("es_norm") * 0.2
                + F.col("edit_ratio") * 0.5
                + F.col("word_sim") * 0.3
            )
            * F.when(F.col("edit_ratio") < 0.6, 0.7).otherwise(1.0),
        )
        .where(
            F.col("fuzzy_score")
            >= F.when(F.col("edit_ratio") > 0.8, 0.4).otherwise(0.5)
        )
    )
    return out


# ---------------------------------------------------------------------------
# L8-analogue: multi-measure similarity blend (rapidfuzz-style), JVM-side
# ---------------------------------------------------------------------------

def similarity_blend(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    out_col: str = "sim_score",
) -> Column | DataFrame:
    """Weighted blend of three similarity measures over string-pair rows —
    the Spark-native counterpart of the reference's rapidfuzz fusion
    (``fuzzy_search_service.py:46-49``: ratio 0.3 / partial 0.25 /
    token_sort 0.25 / token_set 0.2).  partial_ratio needs quadratic
    substring alignment the JVM can't express, so its weight is renormalized
    across the other three (0.4 / 0.333 / 0.267):

      * char ratio        — Levenshtein similarity of the raw strings
      * token-sort ratio  — Levenshtein similarity after sorting tokens
      * token-set Jaccard — set overlap of distinct tokens
    """
    a = F.lower(F.col(left_col))
    b = F.lower(F.col(right_col))
    char_ratio = 1.0 - F.levenshtein(a, b) / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    )
    ta = F.array_distinct(F.split(a, r"\s+"))
    tb = F.array_distinct(F.split(b, r"\s+"))
    sa = F.concat_ws(" ", F.array_sort(F.split(a, r"\s+")))
    sb = F.concat_ws(" ", F.array_sort(F.split(b, r"\s+")))
    token_sort_ratio = 1.0 - F.levenshtein(sa, sb) / F.greatest(
        F.length(sa), F.length(sb), F.lit(1)
    )
    jac = F.size(F.array_intersect(ta, tb)) / F.greatest(
        F.size(F.array_union(ta, tb)), F.lit(1)
    )
    return pairs.withColumn(
        out_col, char_ratio * 0.4 + token_sort_ratio * (1.0 / 3.0) + jac * (0.8 / 3.0)
    )


def partial_ratio(s1: str | None, s2: str | None) -> float:
    """Best-window similarity of the shorter string inside the longer — the
    canonical fuzzywuzzy/rapidfuzz ``partial_ratio`` algorithm (matching
    blocks seed candidate windows; each window scored with a sequence
    ratio), case-folded, None read as "".  Pure stdlib difflib,
    deterministic (autojunk off)."""
    from difflib import SequenceMatcher

    s1, s2 = (s1 or "").lower(), (s2 or "").lower()
    if not s1 or not s2:
        return 1.0 if s1 == s2 else 0.0
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    m = SequenceMatcher(None, shorter, longer, autojunk=False)
    best = 0.0
    for i, j, _n in m.get_matching_blocks():
        start = max(j - i, 0)
        window = longer[start : start + len(shorter)]
        r = SequenceMatcher(None, shorter, window, autojunk=False).ratio()
        if r > best:
            best = r
        if best == 1.0:
            break
    return best


def partial_ratio_series(left: "pd.Series", right: "pd.Series") -> "pd.Series":
    """``partial_ratio`` row by row over two string Series."""
    import pandas as pd

    return pd.Series([partial_ratio(a, b) for a, b in zip(left, right)])


def similarity_blend_full(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    out_col: str = "sim_score",
    name_boost_col: Column | None = None,
) -> DataFrame:
    """The reference's 4-measure rapidfuzz fusion with the exact weights
    (``fuzzy_search_service.py:46-49, 175-310``): ratio 0.3 / partial_ratio
    0.25 / token_sort 0.25 / token_set 0.2.  token_set uses the canonical
    fuzzywuzzy construction — max similarity over (intersection,
    intersection+rest_a, intersection+rest_b) — so a token-subset pair
    scores 1.0 like the reference, not a Jaccard fraction.  The char
    measures use Levenshtein-normalized similarity (rapidfuzz normalizes
    InDel distance; the JVM ships Levenshtein — documented approximation).
    partial_ratio (quadratic substring alignment) runs as an Arrow pandas
    UDF over the already-pruned candidate pairs — the one place Python is
    allowed, per the repo rule."""

    def _lev_ratio(p, q):
        return 1.0 - F.levenshtein(p, q) / F.greatest(
            F.length(p), F.length(q), F.lit(1)
        )

    x = F.lower(F.col(left_col))
    y = F.lower(F.col(right_col))
    char_ratio = _lev_ratio(x, y)
    ta = F.array_sort(F.array_distinct(F.split(x, r"\s+")))
    tb = F.array_sort(F.array_distinct(F.split(y, r"\s+")))
    sa = F.concat_ws(" ", F.array_sort(F.split(x, r"\s+")))
    sb = F.concat_ws(" ", F.array_sort(F.split(y, r"\s+")))
    token_sort_ratio = _lev_ratio(sa, sb)
    inter = F.array_sort(F.array_intersect(ta, tb))
    t0 = F.concat_ws(" ", inter)
    t1 = F.trim(F.concat_ws(" ", F.concat(inter, F.array_sort(F.array_except(ta, tb)))))
    t2 = F.trim(F.concat_ws(" ", F.concat(inter, F.array_sort(F.array_except(tb, ta)))))
    token_set_ratio = F.greatest(
        _lev_ratio(t0, t1), _lev_ratio(t0, t2), _lev_ratio(t1, t2)
    )
    blend = (
        char_ratio * 0.3
        + partial_ratio_col(F.col(left_col), F.col(right_col)) * 0.25
        + token_sort_ratio * 0.25
        + token_set_ratio * 0.2
    )
    if name_boost_col is not None:
        # reference name boost: ×1.2 for person-name candidates, capped at
        # 1.0 (fuzzy_search_service.py:59, 300-303)
        blend = F.when(
            name_boost_col, F.least(blend * 1.2, F.lit(1.0))
        ).otherwise(blend)
    return pairs.withColumn(out_col, blend)


def _make_partial_udf():
    """Module-level partial-ratio Arrow UDF, built once: constructing a new
    ``pandas_udf`` per rerank call gave every batch a fresh UDF identity, so
    no two invocations could ever share plan fragments (and each shipped a
    newly pickled closure)."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def partial_udf(a, b):
        return partial_ratio_series(a, b)

    return partial_udf


_PARTIAL_UDF = None


def partial_ratio_col(left: Column, right: Column) -> Column:
    """``partial_ratio_series(left, right)`` as an Arrow UDF column."""
    global _PARTIAL_UDF
    if _PARTIAL_UDF is None:
        _PARTIAL_UDF = _make_partial_udf()
    return _PARTIAL_UDF(left, right)


def rapidfuzz_rerank_expr(
    candidates: DataFrame,
    query_col: Column,
    partial_col: Column,
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """L9 rerank, the reference's vector-fallback reranking
    (``hybrid_search_service.py:990-1030``), with the query as a COLUMN
    (per-row query text): fuzz = max(ratio, partial_ratio,
    token_sort_ratio) on a 0-100 scale; score ×1.2 when fuzz > 80, ×1.1
    when fuzz > 60.  ratio/token_sort are JVM Columns; ``partial_col`` is
    ``partial_ratio_series(query, text)`` in [0, 1] (``partial_ratio_col``).

    The JVM reference of the L9 rerank: the tests compare ``rerank_row``
    (what the serving vector leg computes inside its probe tasks) against
    it row for row, as they compare the batch scorer against ``bm25_topk``.
    No plan serves through it."""
    q = F.lower(query_col)
    t = F.lower(F.col(text_col))
    ratio = (
        1.0 - F.levenshtein(q, t) / F.greatest(F.length(q), F.length(t), F.lit(1))
    ) * 100.0
    sq = F.concat_ws(" ", F.array_sort(F.split(q, r"\s+")))
    st = F.concat_ws(" ", F.array_sort(F.split(t, r"\s+")))
    token_sort = (
        1.0 - F.levenshtein(sq, st) / F.greatest(F.length(sq), F.length(st), F.lit(1))
    ) * 100.0
    partial = partial_col * 100.0
    fuzz = F.greatest(ratio, partial, token_sort)
    boosted = (
        F.when(fuzz > 80, F.col(score_col) * 1.2)
        .when(fuzz > 60, F.col(score_col) * 1.1)
        .otherwise(F.col(score_col))
    )
    return candidates.withColumn("fuzz_score", fuzz).withColumn(
        score_col, boosted
    )


# Java's ``\s`` (no UNICODE_CHARACTER_CLASS), what ``F.split(c, r"\s+")``
# splits on: Python's ``\s`` also matches NBSP, U+2003, \x1c-\x1f, ...
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def levenshtein(a: str, b: str) -> int:
    """Code-point Levenshtein distance, ``F.levenshtein``'s: Hyyrö's
    bit-parallel form of Myers' algorithm, one Python int bit per code
    point of ``a`` — a few int ops per code point of ``b``."""
    if not a or not b:
        return len(a) + len(b)
    peq: dict[str, int] = {}
    for i, c in enumerate(a):
        peq[c] = peq.get(c, 0) | (1 << i)
    mask = (1 << len(a)) - 1
    high = 1 << (len(a) - 1)
    vp, vn, dist = mask, 0, len(a)
    for c in b:
        eq = peq.get(c, 0)
        xv = eq | vn
        xh = (((eq & vp) + vp) ^ vp) | eq
        hp = vn | ~(xh | vp)
        hn = vp & xh
        if hp & high:
            dist += 1
        elif hn & high:
            dist -= 1
        hp = (hp << 1) | 1
        hn <<= 1
        vp = (hn | ~(xv | hp)) & mask
        vn = hp & xv
    return dist


def fuzz_boost(query: str, text: str) -> float:
    """The L9 factor ``rapidfuzz_rerank_expr`` multiplies a score by: 1.2
    when fuzz = max(ratio, partial·100, token_sort) > 80, 1.1 when > 60,
    else 1.0.  Only the class of fuzz matters, so exact shortcuts skip
    work: a ratio whose length bound ``(1 − |la−lb|/max(la,lb,1))·100`` (≥
    the ratio, in floats too) cannot lift fuzz into a higher class is not
    computed, nothing more is once fuzz > 80, and the partial ratio (the
    costliest, last) scores only the windows that could lift the class
    (``_partial_lifts``)."""
    q, t = query.lower(), text.lower()
    fuzz = 0.0
    for a, b in (
        (q, t),
        (" ".join(sorted(_JAVA_WS.split(q))), " ".join(sorted(_JAVA_WS.split(t)))),
    ):
        m = max(len(a), len(b), 1)
        if (1.0 - abs(len(a) - len(b)) / m) * 100.0 <= (80.0 if fuzz > 60 else 60.0):
            continue
        # rapidfuzz_rerank_expr's ratio, op for op
        fuzz = max(fuzz, (1.0 - levenshtein(a, b) / m) * 100.0)
        if fuzz > 80:
            return 1.2
    fuzz = _partial_lifts(q, t, fuzz)
    return 1.2 if fuzz > 80 else 1.1 if fuzz > 60 else 1.0


def _partial_lifts(s1: str, s2: str, fuzz: float) -> float:
    """max(``fuzz``, ``partial_ratio(s1, s2)``·100) as far as its class
    (> 80, > 60) goes, for lower-cased ``s1``, ``s2``: ``partial_ratio``'s
    windows, each window start scored once, and no window scored once
    fuzz > 80.  A window is skipped when the upper bounds of its
    ``ratio()`` that ``SequenceMatcher`` itself offers — ``real_quick_ratio``
    (the lengths) and ``quick_ratio`` (the shared character counts), the
    same ``2·M/T`` float — cannot cross the next class boundary; both are
    computed here without building a matcher for the window.  The class
    equals ``partial_ratio``'s (tests/test_fuzzy.py checks it on seeded
    pairs)."""
    from collections import Counter
    from difflib import SequenceMatcher

    if not s1 or not s2:
        return max(fuzz, 100.0 if s1 == s2 else 0.0)
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    la, have = len(shorter), Counter(shorter)
    done: set[int] = set()
    blocks = SequenceMatcher(None, shorter, longer, autojunk=False).get_matching_blocks()
    for i, j, _n in blocks:
        start = max(j - i, 0)
        if start in done:
            continue
        done.add(start)
        bound = 80.0 if fuzz > 60 else 60.0
        window = longer[start : start + la]
        total = la + len(window)
        if 2.0 * min(la, len(window)) / total * 100.0 <= bound:
            continue
        avail, common = dict(have), 0
        for ch in window:
            if avail.get(ch, 0) > 0:
                avail[ch] -= 1
                common += 1
        if 2.0 * common / total * 100.0 <= bound:
            continue
        r = SequenceMatcher(None, shorter, window, autojunk=False).ratio()
        fuzz = max(fuzz, r * 100.0)
        if fuzz > 80:
            break
    return fuzz


def rerank_row(
    query: str,
    text: str | None,
    cos: float,
    anchors: tuple[list[str], list[str]],
    fuzz: bool,
) -> tuple[float, float]:
    """One vector hit's (score, anchor_mult): the L9 fuzz rerank of its
    cosine (``fuzz``; ``fuzz_boost``) and the L10 multiplier — ×1.2 when
    the doc text holds one of the query's dates, ×1.1 when it holds one of
    its ids (``extract_anchors``), by substring.  Bit for bit what
    ``rapidfuzz_rerank_expr`` over ``partial_ratio_col`` and the JVM anchor
    expression give; a null text leaves the cosine and a multiplier of
    1.0.  Module-level, so a probe task calling it imports the package in
    its worker (``functions/worker_env.py``)."""
    if text is None:
        return cos, 1.0
    score = cos * fuzz_boost(query, text) if fuzz else cos
    dates, ids = anchors
    mult = (1.2 if any(d in text for d in dates) else 1.0) * (
        1.1 if any(i in text for i in ids) else 1.0
    )
    return score, mult


# ---------------------------------------------------------------------------
# L10: DoB / ID anchor boosts
# ---------------------------------------------------------------------------

_DATE_RES = [
    re.compile(r"\b(\d{4}-\d{2}-\d{2})\b"),
    re.compile(r"\b(\d{2}\.\d{2}\.\d{4})\b"),
    re.compile(r"\b(\d{1,2}/\d{1,2}/\d{4})\b"),
]
_ID_RE = re.compile(r"\b(\d{8,12})\b")


def extract_anchors(query_text: str) -> tuple[list[str], list[str]]:
    """Driver-side DoB/ID extraction from the query string."""
    dates: list[str] = []
    for rx in _DATE_RES:
        dates.extend(rx.findall(query_text))
    ids = [m for m in _ID_RE.findall(query_text)]
    return dates, ids


# ---------------------------------------------------------------------------
# L11: tier boosts + tier-ordered retrieval
# ---------------------------------------------------------------------------

def tier_boost(
    candidates: DataFrame,
    tier_col: str = "tier",
    score_col: str = "score",
    tier0: float = 2.0,
    tier1: float = 1.5,
) -> DataFrame:
    return candidates.withColumn(
        score_col,
        F.col(score_col)
        * F.when(F.col(tier_col) == 0, tier0)
        .when(F.col(tier_col) == 1, tier1)
        .otherwise(1.0),
    )
