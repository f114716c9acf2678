"""Byte-parity of the normalization/tokenization chain vs the reference.

The reference implementation at /root/reference is pure Python + stdlib for
this surface, so when importable we run it side-by-side and require
byte-identical output (the per-row invariant from BASELINE.json input_hint).
When not importable the structural unit tests below still run.
"""

from __future__ import annotations

import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hybrid_sanctions_search_engine_spark.functions.normalize import (
    detect_language,
    fold_homoglyphs,
    normalize_for_ac,
    normalize_text,
)
from hybrid_sanctions_search_engine_spark.functions.tokenize import (
    strip_noise_and_tokenize,
)

REF_SRC = "/root/reference/src"


def _load_reference():
    if REF_SRC not in sys.path:
        sys.path.insert(0, REF_SRC)
    try:
        from ai_service.data.dicts.stopwords import STOP_ALL
        from ai_service.layers.normalization.processors.token_processor import (
            TokenProcessor,
        )
        from ai_service.layers.unicode.unicode_service import UnicodeService

        return UnicodeService(), TokenProcessor(), STOP_ALL
    except Exception:  # pragma: no cover - reference absent in CI
        return None, None, None


REF_UNICODE, REF_TOKENIZER, REF_STOPS = _load_reference()

TRICKY = [
    "",
    " ",
    "abc",
    "ABC",
    " two  spaces  here ",
    "O’Connor and O‘Neil and OʼBrien and D`Arc and a´b",
    "«Ромашка» — ООО “Тест”",
    "ёлка Ёлка ЁЛКА",
    "café naïve Zürich Ähnlich ÖÄÜ ß ẞ",
    "И.И.Иванов и А.С.Пушкин",
    "Тест​с‌невидимыми﻿символами",
    "и́ И́ванов áb ÁB",
    "İstanbul ızgara ĞğŞş",
    "ѐ İЀ mixed ὐЀ greek",
    "Сергей".encode("utf-8").decode("latin-1"),
    "вано".encode("utf-8").decode("latin-1"),
    "a\x85b X\x93q\x94",
    "Petro Порошенко mixed script",
    "хакер pаypаl scam",  # Cyrillic а/р inside Latin word
    "15.05.1985 паспорт AA123456 ІПН 1234567890",
    "час 12:30 та 5 ч 30 х",
    "'quoted phrase here' rest",
    "'singlequoted' x",
    "Jean-Baptiste Петрова-сидорова",
    "⁇ ؟؟ 中文字符 عربى",
    "ªºtext°§¶with†‡specials•‰′″‴※",
    "   ",
    "-",
    "123 456.78 0.1",
    "−–— dashes",
]


@pytest.mark.requires_reference(REF_SRC)
@pytest.mark.parametrize("text", TRICKY)
def test_normalize_parity(text):
    ours = normalize_text(text)
    theirs = REF_UNICODE.normalize_text(text)["normalized"]
    assert ours == theirs, f"{text!r}: {ours!r} != {theirs!r}"


@pytest.mark.requires_reference(REF_SRC)
@pytest.mark.parametrize("text", TRICKY)
def test_normalize_homoglyph_parity(text):
    ours = normalize_text(text, normalize_homoglyphs=True)
    theirs = REF_UNICODE.normalize_text(text, normalize_homoglyphs=True)["normalized"]
    assert ours == theirs


@pytest.mark.requires_reference(REF_SRC)
@pytest.mark.parametrize("text", TRICKY)
def test_tokenize_parity(text):
    ours_tokens, ours_quoted = strip_noise_and_tokenize(text, stop_words=REF_STOPS)
    ref_tokens, _, ref_meta = REF_TOKENIZER.strip_noise_and_tokenize(text)
    assert ours_tokens == ref_tokens, f"{text!r}: {ours_tokens} != {ref_tokens}"
    assert ours_quoted == ref_meta.get("quoted_segments", [])


@pytest.mark.requires_reference(REF_SRC)
@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("L", "N", "P", "Z", "M"),
        ),
        max_size=60,
    )
)
def test_normalize_parity_fuzz(text):
    assert normalize_text(text) == REF_UNICODE.normalize_text(text)["normalized"]


@settings(max_examples=200, deadline=None)
@given(
    # The chain is deliberately non-idempotent on C0/C1 control bytes (the
    # mojibake-recovery stage); the reference's own property tests restrict
    # to letter/number/punct alphabets, so we do the same.
    st.text(
        alphabet=st.characters(codec="utf-8", categories=("L", "N", "P", "Z")),
        max_size=80,
    )
)
def test_normalize_idempotent(text):
    once = normalize_text(text)
    assert normalize_text(once) == once


def test_homoglyph_fold_directions():
    folded, n = fold_homoglyphs("pаypаl")  # Cyrillic а inside Latin word
    assert folded == "paypal" and n == 2
    folded, _ = fold_homoglyphs("Иванoв")  # Latin o inside Cyrillic word
    assert folded == "Иванов"


def test_normalize_for_ac_basic():
    assert normalize_for_ac("  Иванов   Иван  ") == "Иванов Иван"
    # Latin-dominant → Cyrillic і homoglyph-folds to Latin i
    assert normalize_for_ac("O`Connor — і") == "O'Connor - i"


@pytest.mark.requires_reference(REF_SRC)
@pytest.mark.parametrize("text", TRICKY)
def test_normalize_for_ac_parity(text):
    from ai_service.layers.patterns.high_recall_ac_generator import TextCanonicalizer

    assert normalize_for_ac(text) == TextCanonicalizer.normalize_for_ac(text)


def test_detect_language():
    assert detect_language("Иванов Иван") == "ru"
    assert detect_language("Шевченко Тарас із Києва, ґанок") == "uk"
    assert detect_language("John Smith") == "en"


def test_tokenizer_initials_and_quotes():
    tokens, quoted = strip_noise_and_tokenize("А.С.Пушкин 'quoted phrase' x")
    assert tokens[:3] == ["А.", "С.", "Пушкин"]
    assert quoted == ["quoted phrase"]


def test_tokenizer_stopword_fallback():
    tokens, _ = strip_noise_and_tokenize("и в на")  # all stopwords
    assert tokens == []
    tokens, _ = strip_noise_and_tokenize("⁇")  # excluded punct, non-stop input
    assert tokens == ["⁇"]


@pytest.mark.requires_reference(REF_SRC)
def test_default_stopwords_match_reference():
    """P8: the engine's DEFAULT stop-word set equals the reference's full
    STOP_ALL dictionary (lowercased), not a curated subset."""
    from ai_service.data.dicts.stopwords import STOP_ALL as REF

    from hybrid_sanctions_search_engine_spark.functions.tokenize import (
        DEFAULT_STOPWORDS,
    )

    assert DEFAULT_STOPWORDS == {w.lower() for w in REF if isinstance(w, str) and w.strip()}
