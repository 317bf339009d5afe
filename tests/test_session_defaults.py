"""Host-derived session defaults and the confs ``get_session`` pins."""

import os

import pytest

from etl_capnz_spark.session import default_cpus

# (input, lower, upper) — the Unicode default full case mappings that the
# reference's JavaScript toLowerCase/toUpperCase (and Python's str) apply:
# Māori macrons, Greek final sigma, dotted capital I (with an ASCII I
# beside it, which a Turkish-locale mapping would turn into a dotless ı),
# ß expanding to SS, ligatures and titlecase digraphs.
CASES = [
    ("WHĀNAU Ō ĒĪŪ", "whānau ō ēīū", "WHĀNAU Ō ĒĪŪ"),
    ("ΟΔΟΣ ΚΑΙ ΣΑΣ", "οδος και σας", "ΟΔΟΣ ΚΑΙ ΣΑΣ"),
    ("ὀδός", "ὀδός", "ὈΔΌΣ"),
    ("İstanbul Iİ", "i̇stanbul ii̇", "İSTANBUL Iİ"),
    ("straße", "straße", "STRASSE"),
    ("ﬁnd ﬀ ﬄ", "ﬁnd ﬀ ﬄ", "FIND FF FFL"),
    ("ǅ ǈ", "ǆ ǉ", "Ǆ Ǉ"),
]


def test_case_mappings_without_icu(spark):
    """``get_session`` turns ICU case mappings off (they cost ~2 s of
    class initialisation on every cold run); the JVM mappings it falls
    back to must give the same results on non-ASCII text."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = spark.createDataFrame([(c[0],) for c in CASES], "s string")
    got = [tuple(r) for r in df.selectExpr("s", "lower(s)", "upper(s)").collect()]
    assert got == CASES
    assert all((s.lower(), s.upper()) == (lo, up) for s, lo, up in CASES)


@pytest.mark.parametrize(
    "env, expected", [("3", 3), ("", None), (None, None)]
)
def test_default_cpus(monkeypatch, env, expected):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    assert default_cpus() == (expected or os.cpu_count())
