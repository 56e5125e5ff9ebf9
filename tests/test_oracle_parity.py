"""Replicates the driver's CORRECTNESS gate locally: every queries() entry vs
its oracle_sql() golden, exact value equality at sf0.001 (and the flagship +
the trickiest ops additionally at sf0.01 via the duck_mid fixture)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from spatialflink_spark.oracle.compare import assert_frames_match
from tests.conftest import SF_MID, SF_SMALL

QUERIES = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", QUERIES)
def test_parity_small(spark, duck, name):
    q = entrymod.queries()[name]
    o = entrymod.oracle_sql()[name]
    spdf = q(spark, SF_SMALL).toPandas()
    ddf = duck.execute(o).fetchdf()
    assert_frames_match(spdf, ddf, name)
    assert len(spdf) > 0, f"{name}: empty result is a vacuous pass"


def test_every_oracle_has_a_query():
    """test_parity_small iterates queries() only, so an oracle_sql() entry
    with no query would go unchecked; the two key sets must be equal."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


@pytest.mark.parametrize(
    "name", ["range_tumbling_count", "knn_sliding", "join_self_tumbling"]
)
def test_parity_mid(spark, duck_mid, name):
    q = entrymod.queries()[name]
    o = entrymod.oracle_sql()[name]
    spdf = q(spark, SF_MID).toPandas()
    ddf = duck_mid.execute(o).fetchdf()
    assert_frames_match(spdf, ddf, name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns == ["ws", "q_id", "n_matches"]


def test_comparator_catches_decimal_drift():
    """Round-1 regression: the driver's hash distinguishes Decimal from
    double even when numerically equal. The local comparator must too —
    a reintroduced `* 1.0` (DECIMAL math) has to fail here, not at the gate."""
    import decimal

    import pandas as pd

    dec = pd.DataFrame({"x": [decimal.Decimal("0.5")]})
    dbl = pd.DataFrame({"x": [0.5]})
    with pytest.raises(AssertionError, match="dtype kind"):
        assert_frames_match(dec, dbl, "decimal_drift")
    # and exact-value: 1e-10 drift used to slip through math.isclose
    with pytest.raises(AssertionError):
        assert_frames_match(
            pd.DataFrame({"x": [0.5]}), pd.DataFrame({"x": [0.5 + 1e-10]}), "tol"
        )


def test_media_features_non_ascii(spark, duck):
    """fake_decode (codepoints of first 16 chars) must agree with the DuckDB
    oracle on NON-ASCII text — multi-byte UTF-8 is where byte-based and
    codepoint-based header sums diverge (ADVICE round 1)."""
    from spatialflink_spark.operators.multimodal import media_features
    from spatialflink_spark.oracle.sql_data import media_features as media_sql

    rows = [
        (1, "héllo wörld straße café über naïve"),
        (2, "日本語のテキスト señor jalapeño"),
        (3, "plain ascii only row"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    spdf = media_features(docs).toPandas()
    duck.execute("CREATE OR REPLACE TABLE _nonascii(doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO _nonascii VALUES (?, ?)", rows)
    ddf = duck.execute(media_sql().replace("FROM documents", "FROM _nonascii")).fetchdf()
    duck.execute("DROP TABLE _nonascii")
    assert_frames_match(spdf, ddf, "media_features_non_ascii")


@pytest.mark.parametrize(
    "name",
    ["events_sessionize", "heatmap_sliding", "tstats_windowed", "multiinterval_join"],
)
def test_parity_non_utc_session_tz(spark, duck, name):
    """The driver builds its own session with the HOST default timezone, not
    our UTC-pinned one. Any epoch<->timestamp conversion routed through the
    session tz (instead of field arithmetic on TIMESTAMP_NTZ) produces
    shifted windows there — a class of bug this probe has caught before.
    Representative timestamp-heavy queries must hold parity under a
    non-UTC session tz."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spdf = entrymod.queries()[name](spark, SF_SMALL).toPandas()
        ddf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
        assert_frames_match(spdf, ddf, f"{name}@America/New_York")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
