"""The session factory's case-mapping default: JVM case mapping instead
of ICU, and the exact code points where the two disagree."""

from __future__ import annotations

from pyspark.sql import functions as F

from tvbigdataproject_spark.functions.core import _TRANSLATE_FROM
from tvbigdataproject_spark.session import tune_for_session

ICU = "spark.sql.icu.caseMappings.enabled"

# letters added in Unicode 14-16: ICU lowercases them, Java 17 leaves
# them unchanged (Spark 4.1)
NEW_LETTERS = {
    0x1C89, 0x2C2F, 0xA7C0, 0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC,
    *range(0x10570, 0x1057B), *range(0x1057C, 0x1058B), *range(0x1058C, 0x10593),
    0x10594, 0x10595, *range(0x10D50, 0x10D66),
}

# final sigma, dotted capital I, capital sharp s, a titlecase digraph
CONTEXT_CASES = ["ΟΔΟΣ ΣΟΦΟΣ", "İstanbul", "STRAẞE", "ǅemal", "ǄEMAL"]


def lowered(spark, enabled: str) -> tuple[dict[int, str], list[str]]:
    """{code point: lower(chr(cp))} for every code point that lower()
    changes, and lower() of the context cases, with ICU case mapping
    ``enabled``."""
    before = spark.conf.get(ICU)
    spark.conf.set(ICU, enabled)
    try:
        cps = spark.range(0, 0x110000, numPartitions=4).where(
            (F.col("id") < 0xD800) | (F.col("id") > 0xDFFF)  # no surrogates
        )
        chars = cps.select("id", F.expr("decode(unhex(lpad(hex(id), 8, '0')), 'UTF-32')").alias("c"))
        changed = chars.select("id", F.lower("c").alias("low")).where(F.col("low") != F.col("c"))
        cases = spark.sql(
            "SELECT lower(c) AS low FROM VALUES "
            + ", ".join(f"({i}, '{c}')" for i, c in enumerate(CONTEXT_CASES))
            + " AS t(i, c) ORDER BY i"
        )
        return {r["id"]: r["low"] for r in changed.collect()}, [r["low"] for r in cases.collect()]
    finally:
        spark.conf.set(ICU, before)


def test_jvm_and_icu_lower_differ_only_on_new_letters(spark):
    icu, icu_cases = lowered(spark, "true")
    jvm, jvm_cases = lowered(spark, "false")
    differ = {cp for cp in icu.keys() | jvm.keys() if icu.get(cp) != jvm.get(cp)}
    assert differ == NEW_LETTERS
    assert len(differ) == 67
    # ICU lowercases them; the JVM leaves them as they are
    assert differ <= icu.keys() and not differ & jvm.keys()
    assert min(differ) > 0x7F
    assert not {chr(cp) for cp in differ} & set(_TRANSLATE_FROM)
    assert icu_cases == jvm_cases
    assert jvm_cases[0] == "\u03bf\u03b4\u03bf\u03c2 \u03c3\u03bf\u03c6\u03bf\u03c2"  # ς at word ends


def test_get_spark_turns_icu_case_mapping_off(spark):
    # the suite's session comes from get_spark (conftest)
    assert spark.conf.get(ICU) == "false"


def test_tune_for_session_turns_icu_case_mapping_off(spark):
    # the driver harness's session starts with Spark's default (ICU on)
    spark.conf.set(ICU, "true")
    try:
        tune_for_session(spark)
        assert spark.conf.get(ICU) == "false"
    finally:
        spark.conf.set(ICU, "false")
