"""Duplicate-primary-key contract sweep (the fourth dirt class, after
the three in test_dirty_data_contracts.py).

The clean driver fixtures are generator-perfect: event_id and vec_id
are unique. A retried ingest batch on a real 100 TB corpus is not —
the same key lands twice with (possibly) different content, and then:

* a duplicate vec_id silently DOUBLES rows through every index join
  (both engines double identically, so oracle parity would never catch
  the wrongness — the answer is consistently wrong);
* a duplicate event_id breaks the dedup-replay / monotonicity
  assumptions the streaming snapshot sources rely on.

Contract (schema.first_occurrence / first_occurrence_sql): keep the
FIRST occurrence per non-null key, "first" defined by a total-order
CONTENT tiebreak with ASC NULLS LAST pinned on both engines — never
file/scan order, which is neither deterministic under Spark's split
planning nor portable to the oracle. NULL-key rows pass through.
validate_constraints REPORTS duplicates (event_id_unique /
vec_id_unique) — a validator must see dirt, not hide it.

This sweep runs the registered witness query and the validator on a
fixture seeded with every tiebreak branch (earlier-ts win, same-ts
secondary win, NULLS LAST, full-content tie, NULL key) and requires
full cross-engine hash parity plus the exact expected winners.
"""

from __future__ import annotations

import pytest

from petfinder_database_distributor_spark.schema import (
    first_occurrence,
    first_occurrence_sql,
    load_table,
)


@pytest.fixture(scope="module")
def dupkey_sf_dir(tmp_path_factory):
    from tests.degenerate_fixtures import build_dupkey_fixture

    return build_dupkey_fixture(str(tmp_path_factory.mktemp("dupkey")))


def _registered(name):
    from petfinder_database_distributor_spark.registry import load_all

    return load_all()[name]


@pytest.mark.parametrize(
    "name", ["keydedup_first_occurrence", "validate_constraints"]
)
def test_dupkey_parity(spark, dupkey_sf_dir, name):
    """Both contract queries hold full cross-engine parity WITH the
    duplicate keys present."""
    from tests.oracle_compare import assert_parity, run_oracle

    spec = _registered(name)
    assert_parity(
        spec.fn(spark, dupkey_sf_dir),
        run_oracle(spec.oracle, dupkey_sf_dir),
        name,
    )


def test_validator_reports_duplicates(spark, dupkey_sf_dir):
    """The validator SEES the dirt: 4 duplicate event_id rows (4 pairs,
    one extra row each) and 2 duplicate vec_id rows."""
    rows = {
        r["rule"]: r["n_violations"]
        for r in _registered("validate_constraints")
        .fn(spark, dupkey_sf_dir)
        .collect()
    }
    assert rows["event_id_unique"] == 4, rows
    assert rows["vec_id_unique"] == 2, rows


def test_event_winners_are_content_first(spark, dupkey_sf_dir):
    """Each tiebreak branch picks the documented winner — deterministic
    content order, not file order."""
    ev = load_table(spark, dupkey_sf_dir, "events")
    canon = first_occurrence(
        ev, "event_id", ["ts", "user_id", "event_type", "value", "props"]
    )
    got = {
        r["event_id"]: (str(r["ts"]), r["user_id"], r["props"])
        for r in canon.filter(
            (canon.event_id >= 77700) & (canon.event_id <= 77703)
        ).collect()
    }
    assert got[77700] == ("2024-02-02 10:00:00", 21, '{"k": 1}')  # earlier ts
    assert got[77701] == ("2024-02-02 10:02:00", 30, '{"k": 4}')  # smaller user
    assert got[77702] == ("2024-02-02 10:03:00", 41, '{"k": 5}')  # NULLS LAST
    assert got[77703] == ("2024-02-02 10:04:00", 51, '{"k": 6}')  # full tie


def test_null_keys_pass_through(spark, dupkey_sf_dir):
    """NULL-key rows are preserved verbatim — the dedup must not collapse
    unrelated keyless rows into one."""
    ev = load_table(spark, dupkey_sf_dir, "events")
    canon = first_occurrence(
        ev, "event_id", ["ts", "user_id", "event_type", "value", "props"]
    )
    raw_nulls = ev.filter(ev.event_id.isNull()).count()
    canon_nulls = canon.filter(canon.event_id.isNull()).count()
    assert raw_nulls == canon_nulls == 1


def test_embeddings_helper_parity(spark, dupkey_sf_dir):
    """The generic helper on embeddings (array-lexicographic tiebreak)
    matches its SQL twin row-for-row — proving the index-join
    double-count fix is available for the vector family."""
    from tests.oracle_compare import assert_parity, run_oracle

    emb = load_table(spark, dupkey_sf_dir, "embeddings")
    canon = first_occurrence(emb, "vec_id", ["label", "embedding"])
    import pyspark.sql.functions as F

    spark_audit = canon.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.size("embedding")).alias("sum_dims"),
        F.sum("vec_id").alias("sum_vec_id"),
    )
    sql = f"""
    SELECT label, count(*)::BIGINT AS n_rows,
           sum(len(embedding))::BIGINT AS sum_dims,
           sum(vec_id)::BIGINT AS sum_vec_id
    FROM {first_occurrence_sql("embeddings", "vec_id", ["label", "embedding"])} t
    GROUP BY 1
    """
    assert_parity(
        spark_audit, run_oracle(sql, dupkey_sf_dir), "embeddings_first_occurrence"
    )
    # branch pins: smaller label wins 88800; lexicographically smaller
    # vector wins 88801
    rows = {
        r["vec_id"]: (r["label"], r["embedding"][0])
        for r in canon.filter(canon.vec_id.isin(88800, 88801)).collect()
    }
    assert rows[88800] == (0, 0.75)
    assert rows[88801] == (2, 0.125)


def test_clean_fixture_is_identity(spark):
    """On duplicate-free data the canonicalization is a no-op — the
    clean-fixture hash of every consumer is unchanged by construction."""
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    canon = first_occurrence(
        ev, "event_id", ["ts", "user_id", "event_type", "value", "props"]
    )
    assert canon.count() == ev.count()
