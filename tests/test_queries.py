"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 — the same check the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from jonesy_spark.plans import all_oracle_sql, all_queries

from conftest import SF_DIR, assert_matches_oracle

QUERIES = all_queries()
ORACLE = all_oracle_sql()


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLE)
    # Non-SQL-expressible ops are allowed to omit an oracle, but must be
    # deliberate: list them here when added.
    allowed_missing: set[str] = {
        # int8 rounding boundary is engine-ulp-sensitive; pinned by
        # pytest equalities instead (see plans/llm_queries.py)
        "ann_quantized_topk",
        # iterative per-subspace k-means codebooks (the same class);
        # pinned by ADC rerank exact-equality + recall floor + code
        # determinism (test_operators.py)
        "ann_pq_topk",
        # iterative BPE merge induction is not SQL-expressible; pinned
        # by the test_tokenize differentials (naive reference, trainer
        # equivalence, sequential-replay encode, concat round-trip)
        "bpe_token_stats",
        # unigram-LM lattice EM is the same class; pinned by the
        # exhaustive-enumeration Viterbi oracle, EM monotonicity,
        # singles retention, and the concat round-trip (test_tokenize)
        "unigram_token_stats",
        # trains BOTH families above on one frame, so it inherits their
        # non-SQL-expressibility; the fold is pinned equal to
        # independently aggregating the two pinned per-family stats
        # frames (test_tokenize) AND oracle-checked on the roster as
        # tokenizer_family_fold over the pinned stats fixture (r10
        # verdict #6) — since r11 the roster carries zero rows-only
        # rows (test_rotation pins that list empty)
        "tokenizer_family_compare",
    }
    assert missing <= allowed_missing, f"queries without oracle: {missing}"


def test_oracles_reference_known_queries():
    assert set(ORACLE) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLE[name])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_events_sessionization_breaks_on_sub_second_gap(spark, tmp_path):
    """A gap of 1800.5 s opens a new session, as the oracle's
    ``> INTERVAL 30 MINUTE`` does; exactly 1800 s does not. The gap is
    compared in microseconds, so whole-second truncation cannot merge
    a session the oracle splits."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    # per user: microsecond gaps between consecutive events
    gaps = {
        1: [1_800_500_000, 10_000_000],
        2: [1_800_000_000, 1_800_000_001],
        3: [1_801_000_000, 1_799_999_999],
    }
    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    users, ts = [], []
    for user, steps in gaps.items():
        t = t0
        for step in [0] + steps:
            t += step
            users.append(user)
            ts.append(t)
    n = len(ts)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")

    df = QUERIES["events_sessionization"](spark, str(tmp_path))
    assert df.count() == 6  # two sessions per user
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    assert_matches_oracle(df, con, ORACLE["events_sessionization"])
    con.close()
