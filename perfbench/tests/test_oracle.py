"""The DuckDB oracle's SQL, and how a mismatch becomes a failed operation."""

import datetime as dt
from types import SimpleNamespace

import pytest

from perfbench import oracle


def _report(**over):
    rep = dict(
        total_records=4, passed=2, failed=2, total_violation_rows=3,
        errors_summary={"ENUM_MISMATCH": 1, "VALUE_TOO_SMALL": 1, "LENGTH_TOO_SHORT": 1},
        quality=SimpleNamespace(errors=[
            SimpleNamespace(rule_type="UNIQUENESS", details={"duplicate_count": 1}),
            SimpleNamespace(rule_type="REFERENTIAL",
                            details={"field": "role", "invalid_count": 1}),
            SimpleNamespace(rule_type="REFERENTIAL",
                            details={"field": "tool", "invalid_count": 1}),
        ]),
    )
    rep.update(over)
    return SimpleNamespace(**rep)


EXPECTED = {
    "total": 4, "passed": 2, "failed": 2, "violation_rows": 3,
    "errors": {"ENUM_MISMATCH": 1, "VALUE_TOO_SMALL": 1, "LENGTH_TOO_SHORT": 1},
    "ref_role": 1, "ref_tool": 1, "dup_keys": 1,
}


def test_matching_report_is_a_passed_operation():
    ledger = oracle.OpLedger()
    assert ledger.record("op 0", oracle.report_mismatches(_report(), EXPECTED))
    assert (ledger.attempted, ledger.failed, ledger.failed_ratio) == (1, 0, 0.0)


def test_mismatched_count_is_recorded_as_failed_operation():
    ledger = oracle.OpLedger()
    ledger.record("op 0", oracle.report_mismatches(_report(), EXPECTED))
    ok = ledger.record("op 1", oracle.report_mismatches(_report(passed=3), EXPECTED))
    assert not ok
    assert (ledger.attempted, ledger.failed, ledger.failed_ratio) == (2, 1, 0.5)
    assert "passed: got 3, expected 2" in ledger.failures[0]


def test_missing_quality_error_is_a_mismatch():
    rep = _report(quality=SimpleNamespace(errors=[]))
    problems = oracle.report_mismatches(rep, EXPECTED)
    assert any("duplicate" in p for p in problems)
    assert any("role" in p for p in problems)


def test_expected_by_group_restates_the_flagship_rules(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    pytest.importorskip("duckdb")
    utc = dt.timezone.utc
    new, old = dt.datetime(2025, 1, 1, tzinfo=utc), dt.datetime(2019, 6, 1, tzinfo=utc)
    groups = {
        "1": [  # one clean row, one duplicate key with a bad role and an unknown tool
            ("conv_000001", 0, "user", "hi", "sql", new),
            ("conv_000001", 0, "robot", "hi", "fax", new),
            ("conv_000002", -1, "user", "", None, old),   # 3 errors
        ],
        "2": [("CONV-9", 1, "tool", "x" * 10001, "search", new)],  # pattern + too long
    }
    for g, rows in groups.items():
        d = tmp_path / f"bucket={g}"
        d.mkdir()
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "conv_id": list(cols[0]), "turn_idx": pa.array(cols[1], pa.int32()),
            "role": list(cols[2]), "text": list(cols[3]), "tool": list(cols[4]),
            "ts": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
        }), d / "part-0.parquet")
    exp = oracle.expected_by_group(str(tmp_path), "bucket", ("search", "sql"))
    assert exp["1"] == {
        "total": 3, "passed": 1, "failed": 2, "violation_rows": 4,
        "errors": {"ENUM_MISMATCH": 1, "VALUE_TOO_SMALL": 1, "LENGTH_TOO_SHORT": 1,
                   "TIMESTAMP_TOO_OLD": 1},
        "ref_role": 1, "ref_tool": 1, "dup_keys": 1,
    }
    assert exp["2"]["errors"] == {"PATTERN_MISMATCH": 1, "LENGTH_TOO_LONG": 1}
    both = oracle.combine([exp["1"], exp["2"]])
    assert (both["total"], both["violation_rows"], both["dup_keys"]) == (4, 6, 1)
