"""Shared degenerate fixtures.

The empty / one-row / dirty shapes — plus the all-empty-text corpus —
as reusable fixture functions, so the degenerate gate
(tests/test_degenerate_gate.py) can require its queries to hold
cross-engine parity on all of them.

Each builder writes a full 10-table parquet fixture into ``tmp`` and
returns it, so any (spark, sf_dir) query callable runs unchanged.
"""

from __future__ import annotations

import shutil

import duckdb

from tests.conftest import SF_SMALL

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def build_one_row_fixture(tmp: str) -> str:
    """LIMIT 1 of every table — the degenerate size that catches the
    exact-zero-variance and one-chunk-watermark divergences."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
            f" LIMIT 1) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    return tmp


def build_all_empty_text_fixture(tmp: str) -> str:
    """Every document's text is whitespace — the all-empty-text corpus
    that zeroes every token count (the wsum=0 crash class in
    domain_budget_temperature: a divisor built from token mass
    vanishes while the corpus itself is non-empty)."""
    con = duckdb.connect()
    for t in TABLES:
        if t == "documents":
            con.execute(
                f"COPY (SELECT * REPLACE ('   ' AS text) FROM "
                f"read_parquet('{SF_SMALL}/{t}.parquet')) TO "
                f"'{tmp}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


def build_dirty_fixture(tmp: str) -> str:
    """The dirty-data fixture: zero-norm / NULL embeddings, the three
    non-finite measure shapes, malformed JSON props, the cents-rounding
    and decimal-entry-cast pin rows, one out-of-envelope measure, and
    the two IN-envelope huge measures that witness the widened
    kernels. See tests/test_dirty_data_contracts.py for the per-class
    contracts this fixture exercises."""
    con = duckdb.connect()
    # embeddings: two zero-norm vectors (one on the %4 subset so the
    # guarded exact baseline sees it, one adjacent), one NULL vector,
    # one NULL vec_id — every loader-entry branch exercised.
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/embeddings.parquet')
      UNION ALL SELECT 99900, [0.0 for i in range(64)]::FLOAT[], 0
      UNION ALL SELECT 99901, [0.0 for i in range(64)]::FLOAT[], 1
      UNION ALL SELECT 99902, NULL, 0
      UNION ALL SELECT NULL, [0.5 for i in range(64)]::FLOAT[], 0
    ) TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)""")
    # events: NaN / +Inf / -Inf values (valid JSON props), malformed
    # props of three shapes (finite values), and a non-numeric k. The
    # injected ts values sit AFTER the fixture's max (2024-01-30) so the
    # testdata's event_id<->ts monotonicity invariant — which the
    # contiguous streaming stagings rely on — still holds; the dirt
    # classes under test are measure/props dirt, not out-of-order time.
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')
      UNION ALL SELECT 99990, TIMESTAMP '2024-02-01 10:00:00', 11,
                 'click', 'NaN'::DOUBLE, '{{"k": 5}}'
      UNION ALL SELECT 99991, TIMESTAMP '2024-02-01 10:01:00', 11,
                 'view', 'Infinity'::DOUBLE, '{{"k": 6}}'
      UNION ALL SELECT 99992, TIMESTAMP '2024-02-01 10:02:00', 12,
                 'purchase', '-Infinity'::DOUBLE, '{{"k": 7}}'
      UNION ALL SELECT 99993, TIMESTAMP '2024-02-01 10:03:00', 13,
                 'click', 41.5, '{{bad json'
      UNION ALL SELECT 99994, TIMESTAMP '2024-02-01 10:04:00', 13,
                 'view', 42.5, 'not json at all'
      UNION ALL SELECT 99995, TIMESTAMP '2024-02-01 10:05:00', 14,
                 'click', 43.5, ''
      UNION ALL SELECT 99996, TIMESTAMP '2024-02-01 10:06:00', 14,
                 'view', 44.5, '{{"k": "abc"}}'
      -- exact NEGATIVE HALF in cents (-0.125*100 = -12.5, exactly
      -- representable): pins that both engines round halves away from
      -- zero on doubles (probed directly: round(-12.5) = -13 in both) —
      -- the rounding convention the whole cents family depends on
      UNION ALL SELECT 99997, TIMESTAMP '2024-02-01 10:07:00', 15,
                 'click', -0.125, '{{"k": 8}}'
      -- 7-decimal exact binary (2^-7): pins the double->DECIMAL(18,6)
      -- ENTRY cast convention (probed: both engines round to 0.007813)
      -- and, summed with the rows above, keeps sub-cent digits flowing
      -- through the explicit round(x, 2) rescale contract
      UNION ALL SELECT 99998, TIMESTAMP '2024-02-01 10:08:00', 15,
                 'view', 0.0078125, '{{"k": 9}}'
      -- outside the exact-arithmetic envelope (|v| >= 1e12, the
      -- DECIMAL(18,6) representability wall): would raise at the
      -- DECIMAL entry cast — excluded at the family entry on both
      -- engines, REPORTED by the validator's value_in_range rule
      UNION ALL SELECT 99999, TIMESTAMP '2024-02-01 10:09:00', 16,
                 'purchase', 1e13, '{{"k": 10}}'
      -- IN-envelope huge values (the envelope WIDENING's witness rows):
      -- 1e9 lies outside a |v| < 1e6 exclusion and would overflow an
      -- int64 c*c z-score quadratic (1e22 > 2^63); 9.87654321e11 sits
      -- just under the DECIMAL(18,6) wall. Both must FLOW THROUGH every
      -- family member with exact cross-engine parity via the HUGEINT /
      -- decimal(38,0) widened kernels.
      UNION ALL SELECT 100000, TIMESTAMP '2024-02-01 10:10:00', 17,
                 'click', 1e9, '{{"k": 11}}'
      UNION ALL SELECT 100001, TIMESTAMP '2024-02-01 10:11:00', 17,
                 'view', 9.87654321e11, '{{"k": 12}}'
    ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


def build_dupkey_fixture(tmp: str) -> str:
    """The duplicate-primary-key fixture: re-ingested rows sharing an
    event_id / vec_id, each duplicate pair exercising one branch of the
    first-occurrence content tiebreak (earlier ts wins; same-ts value
    tiebreak; NULLS LAST so a NULL props loses to a real one; a
    full-content tie collapses to one identical row), plus one NULL-key
    row that must pass through untouched. See tests/
    test_dupkey_contract.py for the per-branch contracts."""
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')
      -- earlier ts wins (tiebreak col 1)
      UNION ALL SELECT 77700, TIMESTAMP '2024-02-02 10:00:00', 21,
                 'click', 1.5, '{{"k": 1}}'
      UNION ALL SELECT 77700, TIMESTAMP '2024-02-02 10:01:00', 22,
                 'view', 2.5, '{{"k": 2}}'
      -- same ts: smaller user_id wins (tiebreak col 2)
      UNION ALL SELECT 77701, TIMESTAMP '2024-02-02 10:02:00', 31,
                 'purchase', 3.5, '{{"k": 3}}'
      UNION ALL SELECT 77701, TIMESTAMP '2024-02-02 10:02:00', 30,
                 'signup', 4.5, '{{"k": 4}}'
      -- NULLS LAST: the row WITH props wins over the NULL-props copy
      UNION ALL SELECT 77702, TIMESTAMP '2024-02-02 10:03:00', 41,
                 'click', 5.5, NULL
      UNION ALL SELECT 77702, TIMESTAMP '2024-02-02 10:03:00', 41,
                 'click', 5.5, '{{"k": 5}}'
      -- full-content tie: collapses to one byte-identical row
      UNION ALL SELECT 77703, TIMESTAMP '2024-02-02 10:04:00', 51,
                 'view', 6.5, '{{"k": 6}}'
      UNION ALL SELECT 77703, TIMESTAMP '2024-02-02 10:04:00', 51,
                 'view', 6.5, '{{"k": 6}}'
      -- NULL key: passes through (completeness reports it, dedup must not
      -- collapse unrelated keyless rows into one)
      UNION ALL SELECT NULL, TIMESTAMP '2024-02-02 10:05:00', 61,
                 'click', 7.5, '{{"k": 7}}'
    ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/embeddings.parquet')
      -- duplicate vec_id, different label: smaller label wins
      UNION ALL SELECT 88800, [0.25 for i in range(64)]::FLOAT[], 1
      UNION ALL SELECT 88800, [0.75 for i in range(64)]::FLOAT[], 0
      -- duplicate vec_id, same label: lexicographically smaller vector wins
      UNION ALL SELECT 88801, [0.5 for i in range(64)]::FLOAT[], 2
      UNION ALL SELECT 88801, [0.125 for i in range(64)]::FLOAT[], 2
    ) TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)""")
    for t in TABLES:
        if t not in ("events", "embeddings"):
            shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp
