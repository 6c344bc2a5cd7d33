"""Registry hygiene — the gate-ordering machinery itself.

The driver's correctness gate processes ``queries()`` in dict order and caps
at ~50 rows per round, so the evidence rounds derived from the driver's
``CORRECTNESS_r*.json`` records decide which queries ever receive a hard
correctness signal.  These checks keep that derivation honest, on the
committed records and on synthetic ones.
"""

from __future__ import annotations

import json

import pytest

from flink_estimator_spark.plans import registry
from flink_estimator_spark.plans.registry import (
    QUERIES,
    _evidence_round,
    _gate_order,
)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 5, "oracle_rows": 5, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"}
A, B, C = "q_scan_filter_project", "q_filter_compound", "q_scalar_math"
R = "q_bpe_merges"  # rows-only


def test_gated_prior_rounds_are_registered():
    unknown = set(_evidence_round()) - set(QUERIES)
    assert not unknown, unknown


def test_gate_order_is_a_permutation_with_ungated_first():
    order = _gate_order()
    assert sorted(order) == sorted(QUERIES)
    seen_gated = False
    for n in order:
        if n in _evidence_round():
            seen_gated = True
        else:
            assert not seen_gated, f"ungated {n} after a gated entry"


def test_gated_tail_is_oldest_evidence_first():
    """Regression re-sampling is age-aware (VERDICT r5 item 4): the gated
    tail must be sorted ascending on the round of each query's last green
    driver row, so the ~45 spare gate slots per round always hit the
    stalest evidence first and bound every query's evidence age."""
    evidence = _evidence_round()
    tail = [n for n in _gate_order() if n in evidence]
    assert [evidence[n] for n in tail] == sorted(evidence.values())
    assert set(tail) == set(evidence)


def test_ungated_oracled_queries_sort_before_rows_only():
    """Every oracle'd ungated query precedes every rows-only ungated query
    (VERDICT r3 item 1: the capped driver slots must hit value-checkable
    queries first — a rows-only entry can only ever record a row count)."""
    front = [n for n in _gate_order() if n not in _evidence_round()]
    saw_rows_only = False
    for n in front:
        if QUERIES[n].oracle is None:
            saw_rows_only = True
        else:
            assert not saw_rows_only, f"oracle'd {n} after a rows-only entry"


@pytest.fixture
def write_round(tmp_path, monkeypatch):
    """Point the registry at an empty repo root; the returned writer adds
    one ``CORRECTNESS_r{rnd}.json`` there and drops the cached evidence."""
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    _evidence_round.cache_clear()

    def write(rnd: str, rows: dict) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
        _evidence_round.cache_clear()

    yield write
    _evidence_round.cache_clear()


def test_green_rule_for_oracled_and_rows_only_rows(write_round):
    write_round("01", {
        A: GREEN,
        B: {**GREEN, "hash_match": False},
        C: {**GREEN, "err": "boom"},
        R: ROWS_ONLY,
        "q_whatif_capacity_grid": {**ROWS_ONLY, "spark_rows": None},
    })
    assert _evidence_round() == {A: 1, R: 1}


def test_numeric_round_wins_over_lexicographic(write_round):
    write_round("9", {A: GREEN, B: GREEN})
    write_round("10", {A: GREEN})
    assert _evidence_round() == {A: 10, B: 9}
    assert _gate_order()[-2:] == [B, A]


def test_failing_later_row_keeps_earlier_evidence(write_round):
    write_round("05", {A: GREEN})
    write_round("06", {A: {**GREEN, "rows_match": False, "err": "mismatch"}})
    assert _evidence_round() == {A: 5}


def test_unregistered_names_are_ignored(write_round):
    write_round("01", {A: GREEN, "q_no_such_query": GREEN})
    assert _evidence_round() == {A: 1}
    assert sorted(_gate_order()) == sorted(QUERIES)


def test_new_round_moves_its_greens_to_the_tail(write_round):
    write_round("09", {A: GREEN})
    write_round("10", {B: GREEN})
    assert _gate_order()[-2:] == [A, B]
    write_round("11", {A: GREEN})
    assert _gate_order()[-2:] == [B, A]


def test_no_records_puts_every_query_in_the_front(write_round):
    assert _evidence_round() == {}
    assert _gate_order() == sorted(
        QUERIES, key=lambda n: (QUERIES[n].oracle is None, n))
    assert _gate_order()[-2:] == ["q_bpe_merges", "q_whatif_capacity_grid"]


def test_unreadable_record_names_the_file(write_round, tmp_path):
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    with pytest.raises(RuntimeError, match="CORRECTNESS_r03.json"):
        _evidence_round()
