"""Unit tests for the benchmark's own helpers (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from inputs import SIZES, archive_assignment, derive_inputs, seed_permutation
from layers import exec_layers, fold_event_log, group_id, parse_group, uncovered_ms
from stats import median, percentile, tail
from workloads import canon_hash

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"


# ---------------------------------------------------------------- event log


def _events():
    return [json.loads(line) for line in LOG.read_text().splitlines() if line.strip()]


def test_recorded_log_folds_per_job_group():
    """The recording (see data/README.md) ran three groups: a parquet
    scan of 1000 rows, a job fired while building and a mapInPandas +
    shuffle op, plus one job with no group."""
    events = _events()
    folded = fold_event_log(LOG.read_text().splitlines())

    jobs_by_group = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            gid = ev["Properties"].get("spark.jobGroup.id") or ""
            jobs_by_group[gid] = jobs_by_group.get(gid, 0) + 1
    assert {g: f["jobs"] for g, f in folded.items() if f["jobs"]} == jobs_by_group
    assert set(jobs_by_group) == {
        "", "pb|0|scan", "pb|0|py|build", "pb|0|py",
    }

    n_tasks = sum(1 for ev in events if ev["Event"] == "SparkListenerTaskEnd")
    assert sum(f["tasks"] for f in folded.values()) == n_tasks

    assert folded["pb|0|scan"]["scan_rows"] == 1000
    assert folded["pb|0|scan"]["scan_tasks"] >= 1
    py = folded["pb|0|py"]
    assert py["python_ms"] > 0 and py["python_sent_bytes"] > 0
    assert py["python_recv_bytes"] > 0
    assert py["shuffle_write_bytes"] > 0 and py["shuffle_read_bytes"] > 0
    assert py["failed_tasks"] == 0
    assert all(b >= a for a, b in py["stage_spans"])


def test_exec_layers_sum_groups_per_pass_and_count_build_jobs():
    folded = fold_event_log(LOG.read_text().splitlines())
    spans = folded["pb|0|py"]["stage_spans"] + folded["pb|0|py|build"]["stage_spans"]
    lo = min(a for a, _ in spans) - 500
    hi = max(b for _, b in spans) + 250
    layers = exec_layers(folded, [(0, "py", lo, hi), (0, "scan", lo, lo)])[0]

    assert layers["plans.build_jobs"] == folded["pb|0|py|build"]["jobs"]
    assert layers["exec.jobs"] == sum(
        folded[g]["jobs"] for g in ("pb|0|scan", "pb|0|py", "pb|0|py|build")
    )
    # range sources report input records too; ungrouped jobs are left out
    assert layers["catalog.scan_rows"] == 1000 + 100 + 2000
    assert 0.75 <= layers["exec.driver_s"] <= (hi - lo) / 1e3
    assert 0 < layers["exec.cpu_share"] <= 1.5


def test_uncovered_ms_merges_overlapping_spans():
    assert uncovered_ms((0, 100), []) == 100
    assert uncovered_ms((0, 100), [(10, 20), (15, 30), (50, 60)]) == 100 - 30
    assert uncovered_ms((0, 100), [(-50, 10), (90, 500)]) == 80
    assert uncovered_ms((0, 100), [(200, 300)]) == 100


def test_group_ids_round_trip():
    assert parse_group(group_id(3, "bm25_search")) == (3, "bm25_search", None)
    assert parse_group(group_id(0, "x", "build")) == (0, "x", "build")
    assert parse_group("someone-else") is None
    assert parse_group(None) is None


# ------------------------------------------------------------ tail rule


def test_tail_needs_ten_samples_beyond_the_percentile():
    xs = list(range(1, 101))
    assert tail(xs) == (90, 90.0, 10)
    assert tail(list(range(1, 1001))) == (990, 99.0, 10)
    assert tail(list(range(1, 21))) == (10, 50.0, 10)


def test_tail_falls_back_to_slowest_sample():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert tail(list(range(19))) == (18, 100.0, 0)
    # ties: nothing lies strictly beyond any percentile
    assert tail([5.0] * 50) == (5.0, 100.0, 0)


def test_percentile_and_median():
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 100) == 4
    assert percentile([7], 1) == 7
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


# ------------------------------------------------------- seeded inputs


def test_seed_permutation_is_deterministic_and_seed_dependent():
    a = seed_permutation(7, 1000, "orders")
    assert (a == seed_permutation(7, 1000, "orders")).all()
    assert not (a == seed_permutation(8, 1000, "orders")).all()
    assert not (a == seed_permutation(7, 1000, "lineitem")).all()
    assert sorted(a.tolist()) == list(range(1000))


def test_archive_assignment_is_balanced():
    arc = archive_assignment(5, 5000, 8)
    assert (arc == archive_assignment(5, 5000, 8)).all()
    assert sorted(pd.Series(arc).value_counts().tolist()) == [625] * 8


def test_derive_inputs_same_seed_same_bytes_other_seed_same_content(tmp_path):
    a = derive_inputs(3, tmp_path / "a")
    b = derive_inputs(3, tmp_path / "b")
    c = derive_inputs(4, tmp_path / "c")
    for name, rows in SIZES.items():
        fa, fb, fc = (d / f"{name}.parquet" for d in (a, b, c))
        assert fa.read_bytes() == fb.read_bytes(), name
        ta, tc = pd.read_parquet(fa), pd.read_parquet(fc)
        assert len(ta) == len(tc) == rows
        key = ta.columns[0]
        if name not in ("region", "nation"):
            assert not ta[key].equals(tc[key]), f"{name}: seed did not reorder rows"
        if name != "embeddings":
            cols = list(ta.columns)
            pd.testing.assert_frame_equal(
                ta.sort_values(cols).reset_index(drop=True),
                tc.sort_values(cols).reset_index(drop=True),
            )
    # a finished derivation is reused, not rewritten
    stamp = (a / "orders.parquet").stat().st_mtime_ns
    derive_inputs(3, tmp_path / "a")
    assert (a / "orders.parquet").stat().st_mtime_ns == stamp


# ---------------------------------------------------- output hashing


def test_canon_hash_ignores_row_and_column_order_not_values():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", None, "z"]})
    shuffled = df.iloc[[2, 0, 1]][["b", "a"]]
    assert canon_hash(df) == canon_hash(shuffled)
    assert canon_hash(df) != canon_hash(df.assign(a=[1, 2, 4]))
    assert canon_hash(df) != canon_hash(df.assign(a=[1.0, 2.0, 3.0]))
