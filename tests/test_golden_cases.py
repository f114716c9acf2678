"""End-to-end normalization vs the reference's own 31 golden cases.

Loads ``/root/reference/tests/golden_cases/golden_cases.json`` LIVE (like the
byte-parity normalizer fuzz) and runs each input through
``functions.person_names.extract_personas``, asserting the normalized persona
strings match the reference's expected output exactly.  This is the
measurable surface for the F7–F11 morphology/role/diminutive/gender stack.
"""

from __future__ import annotations

import json
import os

import pytest

from hybrid_sanctions_search_engine_spark.functions.person_names import (
    extract_personas,
    normalize_persons,
)

GOLDEN_PATH = "/root/reference/tests/golden_cases/golden_cases.json"

CASES = []
if os.path.exists(GOLDEN_PATH):
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        CASES = json.load(fh)


@pytest.mark.requires_reference(GOLDEN_PATH)
@pytest.mark.parametrize("case", CASES, ids=[c["id"] for c in CASES])
def test_golden_normalized(case):
    got = normalize_persons(case["input"], case.get("language", "auto"))
    expected = [p["normalized"] for p in case["expected_personas"]]
    assert got == expected, f"{case['id']}: {got!r} != {expected!r}"


def test_roles_on_core_cases():
    """Role tags for the canonical full-FIO case (F8 surface)."""
    personas = extract_personas("Иванов Иван Петрович", "ru")
    assert len(personas) == 1
    roles = {t: r for t, r in personas[0]["tokens"]}
    assert roles == {"Иванов": "surname", "Иван": "given", "Петрович": "patronymic"}
    assert personas[0]["gender"] == "male"


def test_idempotency_all_golden():
    """normalize(normalize(x)) == normalize(x) for every golden input."""
    for case in CASES:
        lang = case.get("language", "auto")
        once = normalize_persons(case["input"], lang)
        again = [p for s in once for p in normalize_persons(s, lang)]
        assert again == once, case["id"]


def test_spark_personas_udf(spark):
    """The Arrow UDF wrapper runs in a real Spark plan over mixed rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from hybrid_sanctions_search_engine_spark.functions.person_names import (
        personas_series,
    )

    @pandas_udf(ArrayType(StringType()))
    def personas_udf(texts):
        return personas_series(texts)

    df = spark.createDataFrame(
        [
            (1, "платёж Ивану Петрову"),
            (2, "Dr. John A. Smith Jr."),
            (3, None),
            (4, "и в у о к з"),
        ],
        "id int, text string",
    )
    rows = {r["id"]: r["p"] for r in df.select("id", personas_udf("text").alias("p")).collect()}
    assert rows[1] == ["Иван Петров"]
    assert rows[2] == ["John Smith"]
    assert rows[3] == []
    assert rows[4] == []


def test_tag_tokens_full_trace():
    """F8 debug surface: every token gets a role, incl. org/legal/title."""
    from hybrid_sanctions_search_engine_spark.functions.person_names import (
        tag_tokens,
    )

    roles = dict(tag_tokens('Оплата ТОВ "ПРИВАТБАНК" Ивану Петрову, 1980-01-01', "uk"))
    assert roles["Оплата"] == "context"
    assert roles["ТОВ"] == "legal_form"
    assert roles['"ПРИВАТБАНК"'] == "org"
    assert roles["Ивану"] == "given"
    assert roles["Петрову,"] == "surname"
    assert roles["1980-01-01"] == "date_or_id"

    roles2 = dict(tag_tokens("Dr. John A. Smith Jr.", "en"))
    assert roles2["Dr."] == "title"
    assert roles2["John"] == "given"
    assert roles2["A."] == "initial"
    # 'smith' doubles as a nickname canonical, so the FSM may read it as a
    # given; the persona assembler resolves it to the surname slot (goldens)
    assert roles2["Smith"] in ("surname", "given")
    assert roles2["Jr."] == "suffix"

    roles3 = dict(tag_tokens("Президент України Володимир Зеленський", "uk"))
    assert roles3["Президент"] == "title"
    assert roles3["України"] == "geo"
    assert roles3["Володимир"] == "given"
    assert roles3["Зеленський"] == "surname"


@pytest.mark.parametrize(
    "text,lang,expected",
    [
        # three personas, mixed separators
        ("Иван Петров, Мария Иванова и Сергей Сидоров", "ru",
         ["Иван Петров", "Мария Иванова", "Сергей Сидоров"]),
        # org noise inside a persona list
        ('ООО "ВЕКТОР" перевод: Анна Ковалева', "ru", ["Анна Ковалева"]),
        # hyphenated + patronymic oblique together
        ("платёж Анне Петровой-Сидоровой", "ru", ["Анна Петрова-Сидорова"]),
        # uk oblique given + invariable surname, with id noise
        ("ІПН 1234567895 переказ Олені Петренко", "uk", ["Олена Петренко"]),
        # en: title + nickname + suffix
        ("Mr. Bob Dylan Sr.", "en", ["Robert Dylan"]),
        # empty-ish inputs
        ("   ", "auto", []),
        ("12345 67890 !!!", "ru", []),
    ],
)
def test_personas_adversarial(text, lang, expected):
    assert normalize_persons(text, lang) == expected
