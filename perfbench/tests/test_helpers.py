"""Tests of the benchmark's helper math and output checks (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import os

import duckdb
import pandas as pd
import pytest

import datagen
import oracle_check as oc
from checks import OracleChecker, SurveyModel, check_ingest, frames_match
from probe import plan_counts
from stats import driver_gap, tail_percentile, union_length


# ------------------------------------------------------------ percentiles

def test_p90_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(99)), 90) is None
    assert tail_percentile(list(range(100)), 90) == 89   # ranks 91..100 lie beyond
    assert tail_percentile(list(range(200)), 95) == 189
    assert tail_percentile(list(range(199)), 95) is None


def test_percentile_is_order_insensitive_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert tail_percentile(vals, 50) == 3.0
    assert tail_percentile([], 50) is None


# --------------------------------------------------------- stage intervals

def test_union_merges_overlaps_and_nesting():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.2, 5.5)], 0, 10) == pytest.approx(4.0)
    assert union_length([], 0, 10) == 0.0


def test_union_clips_to_the_op_window():
    assert union_length([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert union_length([(11, 12)], 0, 10) == 0.0


def test_driver_gap_is_wall_minus_stage_union():
    # op 0..10 s; stages cover 1-3 and 2-4 (3 s) and 6-7 (1 s)
    assert driver_gap(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6.0)
    assert driver_gap(0, 10, [(0, 10), (2, 3)]) == pytest.approx(0.0)


# ------------------------------------------------------------------ plans

PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) BroadcastHashJoin [a#1L], [b#2L], Inner, BuildRight, false
      :- *(2) Project [a#1L]
      :  +- ArrowEvalPython [f(a#1L)#9]
      :     +- FileScan parquet [a#1L] Batched: true
      +- BroadcastQueryStage 0
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
            +- Exchange hashpartitioning(b#2L, 4)
               +- FileScan parquet [b#2L] Batched: true
+- == Initial Plan ==
   BroadcastHashJoin [a#1L], [b#2L], Inner, BuildRight, false
   :- FileScan parquet [a#1L] Batched: true
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
      +- Exchange hashpartitioning(b#2L, 4)
         +- FileScan parquet [b#2L] Batched: true
"""


def test_plan_counts_read_only_the_final_plan():
    assert plan_counts(PLAN) == {"plan.exchanges": 1, "plan.broadcasts": 1,
                                 "plan.python_nodes": 1, "plan.scans": 2}


# ---------------------------------------------------------- output checks

@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return datagen.ensure_tables(str(tmp_path_factory.mktemp("cache")))[0]


ORACLE = ("SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name "
          "FROM nation GROUP BY n_regionkey")


def _engine_like_output(data_dir):
    """What a correct op returns, computed independently of the oracle."""
    nation = pd.read_parquet(os.path.join(data_dir, "nation.parquet"))
    return (nation.groupby("n_regionkey")
            .agg(n=("n_name", "size"), first_name=("n_name", "min"))
            .reset_index().sample(frac=1.0, random_state=1))   # any row order


def test_oracle_check_passes_a_correct_output(data_dir, tmp_path):
    checker = OracleChecker(data_dir, str(tmp_path), datagen.fingerprint())
    assert checker.check("k", ORACLE, _engine_like_output(data_dir)).startswith("OK")


def test_oracle_check_catches_a_planted_wrong_result(data_dir, tmp_path):
    checker = OracleChecker(data_dir, str(tmp_path), datagen.fingerprint())
    good = _engine_like_output(data_dir)
    assert checker.check("k", ORACLE, good).startswith("OK")
    wrong = good.copy()
    wrong.iloc[0, wrong.columns.get_loc("n")] += 1
    assert checker.check("k", ORACLE, wrong).startswith("VALUE_MISMATCH")
    assert checker.check("k", ORACLE, good.iloc[1:]).startswith("ROWCOUNT_MISMATCH")
    assert checker.check("k", ORACLE, good.rename(columns={"n": "cnt"})).startswith(
        "COLS_MISMATCH")
    # a second checker reads the cached oracle result and still catches it
    cached = OracleChecker(data_dir, str(tmp_path), datagen.fingerprint())
    assert cached.check("k", ORACLE, wrong).startswith("VALUE_MISMATCH")
    assert cached.check("k", ORACLE, good).startswith("OK")


def test_frames_match_is_the_comparators_verdict():
    exp = oc.normalize(duckdb.sql("SELECT 1 AS a, 2.5 AS b").df())
    assert frames_match(oc.normalize(pd.DataFrame({"a": [1], "b": [2.5]})), exp).startswith("OK")
    assert frames_match(oc.normalize(pd.DataFrame({"a": [1], "b": [2.6]})),
                        exp).startswith("VALUE_MISMATCH")


# ----------------------------------------------------------- ingest model

def _land(path, rows):
    os.makedirs(path)
    pd.DataFrame(rows, columns=["id", "customer_type", "travel_type", "departure_delay",
                                "baggage_handling", "satisfaction"]).to_csv(
        os.path.join(path, "part-0.csv"), index=False)


def test_ingest_model_replays_merge_semantics_and_catches_a_bad_count(tmp_path):
    _land(tmp_path / "base", [(1, "R", "P", 5, 1, "S"), (2, "R", "B", 7, 2, "N"),
                              (2, "F", "B", 3, 2, "N")])
    _land(tmp_path / "b1", [(2, "R", "P", 1, 1, "S"), (3, "F", "P", 9, 4, "S")])
    model = SurveyModel(str(tmp_path / "base"))
    assert len(model.state) == 2                    # duplicate id 2 collapsed
    assert model.merge(str(tmp_path / "b1")) == 2
    assert len(model.state) == 3                    # id 2 updated, id 3 inserted
    assert model.state.loc[2, "departure_delay"] == 1
    scan = model.range_rows(2, 3)
    groups = model.groups()
    ok = {"ok": True}
    assert check_ingest(model, 2, 3, scan, groups, ok, 1, 1, 1).startswith("OK")
    short = groups.assign(n=groups["n"] - (groups.index == 0))
    assert check_ingest(model, 2, 3, scan, short, ok, 1, 1, 1).startswith(
        "ROWCOUNT_MISMATCH")
    assert check_ingest(model, 2, 3, scan.iloc[1:], groups, ok, 1, 1, 1).startswith(
        "range:")
    assert check_ingest(model, 2, 3, scan, groups, ok, 0, 1, 1).startswith(
        "LEDGER_MISMATCH")
    assert check_ingest(model, 2, 3, scan, groups, {"ok": False}, 1, 1, 1).startswith(
        "VERIFY_FAILED")
